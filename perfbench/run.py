#!/usr/bin/env python3
"""The repo benchmark: one command that builds the engine from source, runs a
workload in a fresh engine process, checks the outputs and prints the metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Workloads (see BENCHMARK.json):

  query_suite_small  SMALL_SET, 17 of the bench queries, on the repo's fixed
                     sf0.01 tables (copied to perfbench/data/sf0.01): a cold
                     pass, then a warm pass in a seed-shuffled order
  dag_backfill       the monthly MainDag over a warehouse generated from the
                     seed: the cron run, then a re-run of its app layer
  query_suite        all bench queries on the fixed sf0.1 tables, named with
                     `--data DIR`. It does not fit the benchmark's time budget
                     and is not in BENCHMARK.json; it is kept to check, and
                     with `--pin` regenerate, the 63-query pins at sf0.1.

With `--trace 0` the last stdout line carries the end-to-end metrics, with
`--trace 1` the per-layer ones. A full artifact of each run (configuration,
host probes, per-op times, check results) is written to
`.bench_build/artifacts/`. `--pin` (re)writes the output pins instead of
checking them.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fingerprint  # noqa: E402
import metrics  # noqa: E402

T_START = time.monotonic()
# a run must end within 180 s; the full-set query_suite is not a benchmark
# workload and may take longer
DEADLINES_S = {"query_suite": 900.0}
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# the query suites' input tables; query_suite's come from --data
SUITES = {"query_suite": None, "query_suite_small": os.path.join(HERE, "data", "sf0.01")}
WORKLOADS = (*SUITES, "dag_backfill")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# the rows the roadmap targets (t35 .. s12), the count-versus-full-output
# sentinel p01, the first bench query of each registry module, and q50, the
# model module's other bench query
SMALL_SET = ("t35_nb_langid", "t11_dup_clusters", "t24_bigram_lm_score", "q53_pagerank",
             "t36_shingle_lsh", "t33_bpe_train", "q56_triangle_count",
             "s12_semdedup_scaled", "p01_pii_redact", "q01_groupby_sum",
             "e01_json_extract", "t01_token_stats", "s01_knn_brute",
             "m01_greedy_allocation", "q50_ols_trend", "j01_solar_remain",
             "v01_media_bytestats")
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile the engine's sources and the harness into one class directory,
    keyed by a hash of every source, so an unchanged tree is built once."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala: run from a checkout root")
    srcs = engine + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    log(f"building engine + harness ({len(srcs)} sources)")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources-{key}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-3000:])
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return out, key


def run_engine(classes, jars, run_dir, args, deadline_s):
    """Run the harness process; kill its whole process group on deadline.
    Set-up time runs from here (`--launched`) until the session is built."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
           f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "graft.perfbench.Harness", *args, "--out", run_dir,
           "--launched", repr(time.time() * 1000.0)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    logf = os.path.join(run_dir, "engine.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline_s - (time.monotonic() - T_START)))
        except BaseException as e:  # the deadline, or this process being stopped
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise BenchError("engine process exceeded the run deadline")
            raise
    if p.returncode != 0:
        with open(logf) as f:
            raise BenchError(f"engine process failed ({p.returncode}):\n" + f.read()[-3000:])
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def git_commit():
    """The checkout's commit, or None where the tree is not a git checkout."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def load_pins(workload):
    path = os.path.join(HERE, "pins", f"{workload}.json")
    if not os.path.exists(path):
        return path, {}
    with open(path) as f:
        return path, json.load(f)


def check_suite(raw, run_dir, workload, data_dir, pin):
    """Fingerprint every query's full output, written by the harness's
    untimed check pass, and compare it with its pin.
    Returns (names of mismatched queries, check report)."""
    con = fingerprint.connect()
    names = sorted({o["name"] for o in raw["ops"]})
    got = {}
    for n in names:
        d = os.path.join(run_dir, "results", n)
        if n in raw["check_errors"]:
            got[n] = "error: " + raw["check_errors"][n]
        elif not glob.glob(os.path.join(d, "*.parquet")):
            got[n] = "error: no output"
        else:
            got[n] = fingerprint.fingerprint_sql(con, fingerprint.parquet_relation(d))
    path, pins = load_pins(workload)
    if pin:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        new = {}
        for n in names:
            sql = raw["oracle"].get(n)
            if sql:
                try:
                    fp = fingerprint.fingerprint_sql(con, f"({sql})")
                except Exception as e:  # an oracle that DuckDB cannot run
                    fp = f"error: {e}"
                new[n] = {"fp": fp, "source": "duckdb-" + fingerprint.duckdb.__version__}
            else:
                new[n] = {"fp": got[n], "source": "engine"}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(new, f, indent=1, sort_keys=True)
        pins = new
    bad = sorted(n for n in names if pins.get(n, {}).get("fp") != got[n])
    return bad, {"fingerprints": got, "mismatched": bad, "pinned": len(pins)}


def warehouse_fps(con, base):
    out = {}
    for layer in ("raw", "staging", "app"):
        for t in sorted(os.listdir(os.path.join(base, layer))) if os.path.isdir(
                os.path.join(base, layer)) else []:
            d = os.path.join(base, layer, t)
            if not glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
                out[f"{layer}/{t}"] = "no data files"  # left by a failed first write
                continue
            out[f"{layer}/{t}"] = fingerprint.fingerprint_sql(
                con, fingerprint.parquet_relation(d, partitioned=True))
    return out


def tree_digest(base):
    """sha256 over every file of a directory tree, names and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(base)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, base).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def check_dag(raw, gens_equal, wh, seed, pin):
    """The DAG's checks: two generations from one seed are byte for byte
    identical (`gens_equal`), the re-runs after the cron run change no
    table, and the tables match the pins recorded for this seed (when there
    are any)."""
    con = fingerprint.connect()
    before = warehouse_fps(con, raw["snapshot"])
    after = warehouse_fps(con, wh)
    problems = []
    if not gens_equal:
        problems.append("inputs: two generations from one seed differ")
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    if changed:
        problems.append("idempotence: the re-runs changed " + ", ".join(changed))
    path, pins = load_pins("dag_backfill")
    key = f"seed={seed}"
    if pin:
        pins[key] = after
        with open(path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
    pinned = pins.get(key)
    if pinned is not None:
        diff = sorted(k for k in set(pinned) | set(after) if pinned.get(k) != after.get(k))
        if diff:
            problems.append("pins: " + ", ".join(diff))
    return problems, {"tables": after, "pinned": pinned is not None, "problems": problems}


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--data", help="query_suite only: the fixed sf0.1 tables")
    a = ap.parse_args(argv)
    data_dir = a.data if a.workload == "query_suite" else SUITES.get(a.workload)
    if a.workload == "query_suite" and not a.data:
        raise BenchError("query_suite needs --data: the directory of the sf0.1 tables")
    if data_dir and not all(os.path.exists(os.path.join(data_dir, f"{t}.parquet"))
                            for t in TABLES):
        raise BenchError(f"missing input tables under {data_dir}")

    jars = spark_jars()
    classes, src_key = build(jars)
    dag = a.workload == "dag_backfill"
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace)]
        if not dag:
            names = SMALL_SET if a.workload == "query_suite_small" else ("ALL",)
            args += ["--data", data_dir, "--queries", ",".join(names)]
        # set-up: the DAG's warehouse generation from the seed (the query
        # tables are fixed; the seed orders their warm passes), then the
        # engine process from start until its session is built
        gen_s = 0.0
        if dag:
            import gen_warehouse
            data_dir = os.path.join(run_dir, "wh0")
            t0 = time.perf_counter()
            gen_warehouse.generate(data_dir, a.seed)
            gen_s = time.perf_counter() - t0
            # a second generation from the seed, which must be identical
            gen_warehouse.generate(os.path.join(run_dir, "wh1"), a.seed)
            gens_equal = tree_digest(data_dir) == tree_digest(os.path.join(run_dir, "wh1"))
            shutil.rmtree(os.path.join(run_dir, "wh1"))
            args += ["--data", data_dir]
        t_engine = time.monotonic()
        raw = run_engine(classes, jars, run_dir, args, DEADLINES_S.get(a.workload, 170.0))
        t_checks = time.monotonic()
        log(f"engine process {t_checks - t_engine:.1f} s")
        raw["setup_s"] += gen_s
        op_failed = {i for i, o in enumerate(raw["ops"]) if not o["ok"]}
        if dag:
            problems, report = check_dag(raw, gens_equal, data_dir, a.seed, a.pin)
            bad_checks = len(problems)
        else:
            bad, report = check_suite(raw, run_dir, a.workload, data_dir, a.pin)
            op_failed |= {i for i, o in enumerate(raw["ops"]) if o["name"] in set(bad)}
            bad_checks = len(bad)
        log(f"output checks {time.monotonic() - t_checks:.1f} s")
        attempted, failed = len(raw["ops"]), len(op_failed)
        # a failure is expected only where known_defects.json names the op
        # and the error it fails with; any other failure fails the check
        with open(os.path.join(HERE, "known_defects.json")) as f:
            known = json.load(f).get(a.workload, {})
        unexpected = sorted({o["name"] for i, o in enumerate(raw["ops"]) if i in op_failed
                             and not (o["name"] in known and known[o["name"]] in o["error"])})
        fixed = sorted(set(known) - {o["name"] for o in raw["ops"] if not o["ok"]})
        if a.trace:
            m = metrics.per_layer(raw, dag, int(raw["config"]["nproc"]), failed)
            extra = {}
        else:
            m, extra = metrics.end_to_end(raw, failed)
        correct = bad_checks == 0 and not unexpected
        artifact = {"config": dict(raw["config"], source_key=src_key, git_commit=git_commit(),
                                   run_seconds=a.seconds),
                    "metrics": {k: v for k, (v, _) in m.items()}, "sampling": extra,
                    "setup_s": raw["setup_s"], "checks": report,
                    "failed_ops": sorted({raw["ops"][i]["name"] for i in op_failed}),
                    "unexpected_failures": unexpected, "known_defects_passing": fixed,
                    "errors": {o["name"]: o["error"] for o in raw["ops"] if o["error"]},
                    "ops": [{"name": o["name"], "pass": o["pass"], "traced": o["traced"],
                             "ms": o["end"] - o["start"],
                             "build_ms": o["build_end"] - o["start"]} for o in raw["ops"]],
                    "passes": raw["passes"]}
        os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
        with open(os.path.join(BUILD, "artifacts",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        print(json.dumps(metrics.result_line(correct, attempted, failed, m)), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    # a stop request unwinds like an error, so the engine process is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main(sys.argv[1:])
    except BenchError as e:
        log(str(e))
        sys.exit(2)
