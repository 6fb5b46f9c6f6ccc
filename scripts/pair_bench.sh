#!/usr/bin/env bash
# Same-window engine-vs-DuckDB pairing — the standing artifact behind the
# 2x comparator gate (the round-10 process gap: BENCH_r10's raw total was
# +21% co-tenant-inflated with no pairing of record, and the honest ratio
# had to be re-measured by the judge).
#
# Methodology (PERF.md): run graft.Bench and scripts/bench_duckdb.py
# BACK-TO-BACK in one window, warm shared DuckDB connection, min-of-2 per
# query on both sides, totals over the intersection of query names that
# completed on both engines. Co-tenant load inflates both sides equally in
# one window, so the RATIO is the number of record; raw totals are kept for
# context only.
#
# Usage: scripts/pair_bench.sh [SF_DIR] [OUT_JSON]
#   SF_DIR   parquet dir (default /root/testdata/sf0.1)
#   OUT_JSON merged artifact (default PAIR_BENCH.json in the repo root);
#            also printed to stdout. The artifact is an ARRAY of windows —
#            each invocation APPENDS its window, because two windows 2.5 h
#            apart read as a tight band while a third same-day window can
#            sit 0.13 higher (the round-11 judge measured 1.361x against a
#            recorded 1.22-1.23x "band"). Run >=3 windows per round
#            (start / mid / end); PAIR_RESET=1 starts a fresh round's
#            array. Report the min-max across the array in PERF.md.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-PAIR_BENCH.json}

# oracle_sql.json for the comparator: dump it via a cheap single-query
# Verify run (Verify always writes the FULL oracle map)
ORACLE_DIR=$(mktemp -d /tmp/pair_oracle.XXXX)
trap 'rm -rf "$ORACLE_DIR"' EXIT
scripts/run_verify.sh /root/testdata/sf0.001 "$ORACLE_DIR" graft.Verify \
  q01_groupby_sum >/dev/null 2>&1

echo "[pair] engine bench on $SF ..." >&2
# The engine leg's full per-query map lands in THIS window's artifact —
# a pairing run must not also overwrite the rounds/BENCH_full_latest
# snapshot as a side effect (r15: two degraded pair windows clobbered the
# snapshot that way)
ENGINE_JSON=$(SPARK_GRAFT_SF_DIR="$SF" \
  SPARK_GRAFT_BENCH_OUT=$(mktemp /tmp/pair_engine.XXXX.json) \
  scripts/run_verify.sh x x graft.Bench 2>/dev/null | tail -1)

echo "[pair] duckdb comparator (same window) ..." >&2
NAMES=$(python3 -c "import json,sys; print(' '.join(sorted(json.loads(sys.argv[1])['queries'])))" "$ENGINE_JSON")
DUCK_JSON=$(DUCK_TIMEOUT_SEC=${DUCK_TIMEOUT_SEC:-120} \
  python3 scripts/bench_duckdb.py "$SF" "$ORACLE_DIR/oracle_sql.json" $NAMES)

python3 - "$ENGINE_JSON" "$DUCK_JSON" "$SF" "$OUT" <<'EOF'
import json, os, sys, datetime
eng, duck, sf, out = json.loads(sys.argv[1]), json.loads(sys.argv[2]), sys.argv[3], sys.argv[4]
shared = sorted(set(eng["queries"]) & set(duck["queries"]))
et = sum(eng["queries"][n] for n in shared)
dt = sum(duck["queries"][n] for n in shared)
window = {
    "window_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    "sf": sf,
    "n_shared": len(shared),
    "engine_total_sec": round(et, 3),
    "duckdb_total_sec": round(dt, 3),
    "ratio": round(et / dt, 3) if dt else None,
    # graft.Bench's own reading of the host: both JVM spin probes, at the
    # start and the end of the engine leg, under their quiet thresholds.
    # The ratio stays honest either way (both engines share the window);
    # the flag says whether the raw totals may be compared across windows.
    "probe_quiet": eng.get("probe_quiet"),
    "engine_only": sorted(set(eng["queries"]) - set(duck["queries"])),
    "duckdb_errors": duck.get("errors", {}),
    "engine_passes": eng.get("passes"),
    "engine": eng["queries"],
    "duckdb": duck["queries"],
}
# append to the round's window array; a legacy single-object file becomes
# the array's first element so no prior window is ever dropped silently
runs = []
if os.environ.get("PAIR_RESET") != "1" and os.path.exists(out):
    try:
        prior = json.load(open(out))
        runs = prior if isinstance(prior, list) else [prior]
    except Exception as e:
        print(f"[pair] WARNING: could not parse existing {out}: {e}",
              file=sys.stderr)
runs.append(window)
with open(out, "w") as f:
    json.dump(runs, f, indent=1, sort_keys=False)
    f.write("\n")
# Band is computed ONLY over windows at this invocation's sf — windows
# recorded against a different SF_DIR (or left over when PAIR_RESET was
# forgotten across rounds) are incomparable and must not merge into one
# band.
ratios = [r["ratio"] for r in runs if r.get("ratio") is not None and r.get("sf") == sf]
other_sf = sorted({r.get("sf") for r in runs if r.get("sf") != sf})
if other_sf:
    print(f"[pair] WARNING: {out} mixes sf values {other_sf} with current "
          f"sf={sf}; band covers only sf={sf} windows", file=sys.stderr)
print(json.dumps({**{k: window[k] for k in
    ("window_utc", "sf", "n_shared", "engine_total_sec",
     "duckdb_total_sec", "ratio", "probe_quiet")},
    "n_windows": len(runs), "n_windows_at_sf": len(ratios),
    "band": [min(ratios), max(ratios)] if ratios else None}))
EOF
