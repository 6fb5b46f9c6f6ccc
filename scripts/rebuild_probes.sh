#!/usr/bin/env bash
# Rebuild the scale-probe surfaces behind PERF.md / DENSITY.json /
# BENCH_SF1.json / BENCH_SF10.json, with the exact ScaleUp invocations the
# round-9/10 measurements used — so every published number is one command
# away from reproducible (the surfaces themselves are deleted after
# measurement; only the artifacts are checked in).
#
# Usage: scripts/rebuild_probes.sh [sf1|sf10|density|wide|all]
#   sf1      /tmp/sf1    dense x10 of sf0.1      (~23 MB, BENCH_SF1 surface)
#   sf10     /tmp/sf10   dense x10 of /tmp/sf1   (~226 MB, BENCH_SF10 surface;
#                        builds sf1 first if missing)
#   density  /tmp/sf1d /tmp/sf10d /tmp/sf100d
#                        distinct x10/x100/x1000 of sf0.1 (the DENSITY.json
#                        decades; sf100d is ~7 GB / 600 M lineitem rows and
#                        is also the relational-1000x probe surface)
#   wide     /tmp/sf100w distinct_wide x1000 of sf0.1 (the clean third
#                        decade for the char-gram family)
#
# Measurement commands the surfaces feed (run after the build):
#   SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json \
#     scripts/run_verify.sh x x graft.Bench
#   scripts/run_verify.sh q25_interval_join /tmp/sf100d graft.BenchOne 2
#   (relational 1000x probe = BenchOne over q01/q04/q05/q13/q25/q39/q48/q56/q57;
#    SPARK_GRAFT_SHUFFLE=256 halves q25 at 1000x — see PERF.md)
set -euo pipefail
cd "$(dirname "$0")/.."
BASE=/root/testdata/sf0.1
what="${1:-all}"

build() { # in out factor mode
  echo "== ScaleUp $1 -> $2 (factor $3, $4)"
  scripts/run_verify.sh "$1" "$2" graft.ScaleUp "$3" "$4"
}

case "$what" in
  sf1)     build "$BASE" /tmp/sf1 10 dense ;;
  sf10)    [ -d /tmp/sf1 ] || build "$BASE" /tmp/sf1 10 dense
           build /tmp/sf1 /tmp/sf10 10 dense ;;
  density) build "$BASE" /tmp/sf1d   10   distinct
           build "$BASE" /tmp/sf10d  100  distinct
           build "$BASE" /tmp/sf100d 1000 distinct ;;
  wide)    build "$BASE" /tmp/sf100w 1000 distinct_wide ;;
  all)     "$0" sf1; "$0" sf10; "$0" density; "$0" wide ;;
  *) echo "unknown target '$what' (sf1|sf10|density|wide|all)" >&2; exit 2 ;;
esac
echo "done: $what"
