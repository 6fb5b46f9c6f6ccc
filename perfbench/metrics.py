"""Metric derivation from the engine process's raw measurements.

Pure functions over the `raw.json` the harness writes: latency percentiles
with the "at least ten samples beyond" rule, the end-to-end metrics, the
per-layer self-time split of the traced ops, and the per-layer counters.
"""
import math
import statistics

# layers whose self time the traced run splits each op into
LAYERS = ("queries", "plans", "exec", "core", "jobs")
# precedence when spans overlap: the innermost kind of work wins
_RANK = {"op": 0, "build": 1, "action": 1, "sql": 2, "phase": 3, "job": 4}

DAG_GROUPS = {
    "source_to_raw": "source_to_raw", "fix_data": "fix_data",
    "raw_to_staging": "raw_to_staging", "staging_to_app": "staging_to_app",
    "staging_cal:green_elec_pre_contracts": "staging_to_app",
    "staging_cal:decarb_elec_overview": "scope_targets",
    "elect_target_etl": "scope_targets", "decarb_path_etl": "scope_targets",
    "green_energy_overview": "green_energy", "source_status": "status_transfer_macc",
    "next_year_green_power_transfer_suggest": "status_transfer_macc",
    "macc_input_to_summary": "status_transfer_macc",
}
FAMILIES = ("relational", "events", "text", "vector", "multimodal", "model", "jobs")
ROADMAP_ROWS = ("t35_nb_langid", "t11_dup_clusters", "t24_bigram_lm_score",
                "q53_pagerank", "t36_shingle_lsh", "t33_bpe_train",
                "q56_triangle_count", "s12_semdedup_scaled", "p01_pii_redact")
LADDER_ROWS = ("t36_shingle_lsh", "q56_triangle_count", "t33_bpe_train")


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile's rank."""
    return n - math.ceil(n * p / 100.0)


def reportable(n, p, need=10):
    """True when the p-th percentile of n samples has `need` samples beyond."""
    return samples_beyond(n, p) >= need


def dag_group(job):
    for prefix, g in DAG_GROUPS.items():
        if job == prefix or job.startswith(prefix + ":"):
            return g
    return "other"


def end_to_end(raw, failed_ops):
    """The user-visible metrics of one untraced run."""
    passes = raw["passes"]
    ops = raw["ops"]
    warm_passes = [p for p in passes if p["pass"] > 0]
    warm = [o["end"] - o["start"] for o in ops if o["pass"] > 0]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "run_s": (statistics.mean(p["wall_s"] for p in warm_passes), "s"),
        "op_p50_ms": (percentile(warm, 50), "ms"),
        "op_p90_ms": (percentile(warm, 90), "ms"),
        "ok_frac": (1.0 - failed_ops / len(ops), "ratio"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }, {"warm_ops": len(warm), "warm_passes": len(warm_passes),
        "p90_samples_beyond": samples_beyond(len(warm), 90),
        "p90_has_ten_beyond": reportable(len(warm), 90)}


def self_times(spans, start, end):
    """Split [start, end] among layers: each instant goes to the covering
    span of highest rank (ties: the later-listed span). `spans` holds
    (rank, layer, s, e). Returns {layer: ms}; the values sum to end - start."""
    spans = [(r, l, max(s, start), min(e, end)) for r, l, s, e in spans
             if min(e, end) > max(s, start)]
    cuts = sorted({start, end, *(s for _, _, s, _ in spans), *(e for _, _, _, e in spans)})
    out = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        best = None
        for sp in spans:
            if sp[2] <= a and sp[3] >= b and (best is None or sp[0] >= best[0]):
                best = sp
        out[best[1]] += b - a
    return out


def _union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def overhead_frac(passes, ops):
    """Tracing overhead: each traced warm pass against the mean of the
    untraced warm passes next to it, over the ops both ran (the DAG's traced
    pass re-runs the whole month, its untraced one the app layer), averaged,
    minus one. Taking both neighbours cancels most of the warm-up trend of
    consecutive passes. 0 without such pairs."""
    traced = {p["pass"]: p["traced"] for p in passes}
    walls = {}  # pass -> op name -> ms
    for o in ops:
        w = walls.setdefault(o["pass"], {})
        w[o["name"]] = w.get(o["name"], 0.0) + o["end"] - o["start"]
    ratios = []
    for i, tr in traced.items():
        near = [j for j in (i - 1, i + 1) if j > 0 and j in traced and not traced[j]]
        if not tr or not near:
            continue
        shared = set(walls.get(i, {})).intersection(*(walls.get(j, {}) for j in near))
        base = statistics.mean(sum(walls[j][n] for n in shared) for j in near)
        if base > 0:
            ratios.append(sum(walls[i][n] for n in shared) / base)
    return statistics.mean(ratios) - 1.0 if ratios else 0.0


def per_layer(raw, dag, cores, failed_ops):
    """Per-layer metrics of a traced run, each a total per traced pass (one
    pass of the query set, or one run of the DAG month)."""
    tr = raw["trace"]
    ops = [o for o in raw["ops"] if o["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    n = max(len(traced), 1)
    groups = {o["group"] for o in ops}
    jobs = [j for j in tr["jobs"] if j["group"] in groups]
    stages = [s for s in tr["stages"] if s["group"] in groups]
    execs = [x for x in tr["execs"] if x["group"] in groups]
    windows = [(o["start"], o["end"]) for o in ops]

    def in_op(t):
        return any(s <= t <= e for s, e in windows)

    qes = [q for q in tr["qes"] if q["phases"] and in_op(q["start"])]
    m = {}
    # self-time split. Time inside an op that no measured span covers (the
    # harness's build span, or a Spark SQL execution, Catalyst phase or
    # job) goes to the op's own layer; trace.split_err_frac is its share of
    # op wall time, the part of the split no measurement backs.
    split = dict.fromkeys(LAYERS, 0.0)
    covered = 0.0
    wall = 0.0
    for o in ops:
        g = o["group"]
        top = "jobs" if dag else "queries"
        spans = [(_RANK["op"], top, o["start"], o["end"])]
        if not dag:
            spans += [(_RANK["build"], "queries", o["start"], o["build_end"]),
                      (_RANK["action"], "exec", o["build_end"], o["end"])]
        children = []
        children += [(_RANK["sql"], "core" if x["write"] else "exec", x["start"], x["end"])
                     for x in execs if x["group"] == g]
        children += [(_RANK["phase"], "plans", s, e) for q in qes
                     if o["start"] <= q["start"] <= o["end"]
                     for k, (s, e) in q["phases"].items() if k != "parsing"]
        children += [(_RANK["job"], "exec", j["start"], j["end"]) for j in jobs if j["group"] == g]
        # a query's build, eager probe jobs included, is all `queries` time
        lo = o["start"] if dag else o["build_end"]
        children = [(r, l, max(s, lo), e) for r, l, s, e in children if e > lo]
        st = self_times(spans + children, o["start"], o["end"])
        for k, v in st.items():
            split[k] += v
        measured = children + ([] if dag else [(0, "", o["start"], o["build_end"])])
        covered += _union_ms([(max(s, o["start"]), min(e, o["end"]))
                              for _, _, s, e in measured if min(e, o["end"]) > max(s, o["start"])])
        wall += o["end"] - o["start"]
    for k in LAYERS:
        m[f"layer.{k}.self_ms"] = (split[k] / n, "ms")
    m["trace.split_err_frac"] = (1.0 - covered / wall if wall else 0.0, "ratio")
    m["trace.ops"] = (len(ops), "count")
    # queries
    q_ops = [] if dag else ops
    m["queries.build_ms"] = (sum(o["build_end"] - o["start"] for o in q_ops) / n, "ms")
    m["queries.build_jobs"] = (sum(1 for o in q_ops for j in jobs if j["group"] == o["group"]
                                   and j["start"] <= o["build_end"]) / n, "count")
    for q in LADDER_ROWS:
        b = [o["build_end"] - o["start"] for o in q_ops if o["name"] == q]
        m[f"queries.{q}.build_ms"] = (statistics.mean(b) if b else 0.0, "ms")
    fam = raw.get("families", {})
    for f in FAMILIES:
        m[f"queries.{f}_ms"] = (sum(o["end"] - o["start"] for o in q_ops
                                    if fam.get(o["name"]) == f) / n, "ms")
    for q in ROADMAP_ROWS:
        w = [o["end"] - o["start"] for o in q_ops if o["name"] == q]
        m[f"queries.{q}_ms"] = (statistics.mean(w) if w else 0.0, "ms")
    # plans
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_ms"] = (sum(q["phases"][ph][1] - q["phases"][ph][0]
                                   for q in qes if ph in q["phases"]) / n, "ms")
    # exec
    exec_ms = sum(_union_ms([(j["start"], j["end"]) for j in jobs if j["group"] == o["group"]])
                  for o in ops)
    busy = sum(s["busy_ms"] for s in stages)
    m["exec.ms"] = (exec_ms / n, "ms")
    m["exec.jobs"] = (len(jobs) / n, "count")
    m["exec.stages"] = (len(stages) / n, "count")
    m["exec.tasks"] = (sum(s["tasks"] for s in stages) / n, "count")
    m["exec.sched_wait_ms"] = (sum(max(0, s["first_launch"] - s["submit"]) for s in stages) / n, "ms")
    m["exec.task_busy_ms"] = (busy / n, "ms")
    m["exec.task_cpu_ms"] = (sum(s["cpu_ms"] for s in stages) / n, "ms")
    m["exec.core_util"] = (busy / (exec_ms * cores) if exec_ms else 0.0, "ratio")
    m["exec.max_task_ms"] = (sum(s["max_task_ms"] for s in stages) / n, "ms")
    m["exec.shuffle_write_bytes"] = (sum(s["shuffle_write"] for s in stages) / n, "bytes")
    m["exec.shuffle_read_bytes"] = (sum(s["shuffle_read"] for s in stages) / n, "bytes")
    m["exec.spill_bytes"] = (sum(s["spill"] for s in stages) / n, "bytes")
    # core
    writes = [x for x in execs if x["write"]]
    w_rows = sum(q["write_rows"] for q in qes)
    s_rows = sum(q["scan_rows"] for q in qes)
    m["core.write_ms"] = (sum(x["end"] - x["start"] for x in writes) / n, "ms")
    m["core.write_rows"] = (w_rows / n, "count")
    m["core.write_files"] = (sum(q["write_files"] for q in qes) / n, "count")
    m["core.write_bytes"] = (sum(q["write_bytes"] for q in qes) / n, "bytes")
    m["core.rows_written_per_input_row"] = (w_rows / s_rows if s_rows else 0.0, "ratio")
    m["core.scan_files"] = (sum(q["scan_files"] for q in qes) / n, "count")
    m["core.scan_bytes"] = (sum(q["scan_bytes"] for q in qes) / n, "bytes")
    m["core.cached_bytes"] = (raw["cached_bytes"], "bytes")
    # jobs
    j_ops = ops if dag else []
    for g in ("source_to_raw", "fix_data", "raw_to_staging", "staging_to_app",
              "scope_targets", "green_energy", "status_transfer_macc"):
        m[f"jobs.{g}_ms"] = (sum(o["end"] - o["start"] for o in j_ops
                                 if dag_group(o["name"]) == g) / n, "ms")
    m["jobs.failed"] = (sum(1 for o in j_ops if not o["ok"]) / n, "count")
    # process
    m["jvm.gc_ms"] = (sum(p["gc_ms"] for p in traced) / n, "ms")
    m["trace.overhead_frac"] = (overhead_frac(raw["passes"], raw["ops"]), "ratio")
    m["failed_frac"] = (failed_ops / len(raw["ops"]), "ratio")
    return m


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line: {correct, attempted, failed, metrics}."""
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
