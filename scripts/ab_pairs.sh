#!/usr/bin/env bash
# Paired A/B of the repo benchmark between two commits: runs
# `perfbench/run.py` alternately from a clone of each, seed by seed, so host
# drift hits both sides alike, then prints for each end-to-end metric the
# median per side, the ratio change/base, the parent's interquartile range
# as a share of its median, how many seed pairs the change won, and a
# verdict against the metric's bound in BENCHMARK.json:
#   ok          the change's median is no worse than the parent's by more
#               than the bound
#   worse       it is worse by more than the bound
#   unresolved  the parent's own spread is wider than the bound, so a
#               difference within it cannot be told from noise
# A metric on which every change run beats every parent run reads ok
# whatever the spread. Ties count as a win for neither side.
#
# Usage: scripts/ab_pairs.sh [-b BASE] [-c CHANGE] [-s "SEEDS"] [-w "WORKLOADS"] [-o DIR]
#   BASE       commit of the A side (default HEAD~1)
#   CHANGE     commit of the B side (default HEAD)
#   SEEDS      seeds to pair (default "1 2 3 4 5")
#   WORKLOADS  BENCHMARK.json workloads (default: all of them)
#   DIR        where the clones and the per-run result lines go
#              (default a new temporary directory); the clones are
#              removed on exit, the result lines are kept
#
# Commits are compared, not the working tree: commit (or stash) first.
# The side that runs first alternates from one pair to the next. A run
# that exits non-zero or reports correct=false is logged and left out of
# the medians. perfbench/ is only run, never changed.
set -euo pipefail
cd "$(dirname "$0")/.."

BASE=HEAD~1 CHANGE=HEAD SEEDS="1 2 3 4 5" WORKLOADS="" OUT=""
while getopts "b:c:s:w:o:" opt; do
  case $opt in
    b) BASE=$OPTARG ;; c) CHANGE=$OPTARG ;; s) SEEDS=$OPTARG ;;
    w) WORKLOADS=$OPTARG ;; o) OUT=$OPTARG ;;
    *) sed -n '2,29p' "$0"; exit 2 ;;
  esac
done
OUT=${OUT:-$(mktemp -d /tmp/ab_pairs.XXXX)}
mkdir -p "$OUT"
OUT=$(cd "$OUT" && pwd)

cleanup() { rm -rf "$OUT/base" "$OUT/change"; }
trap cleanup EXIT
for side in base change; do
  [ $side = base ] && rev=$BASE || rev=$CHANGE
  sha=$(git rev-parse --verify "$rev^{commit}")
  git clone --quiet --shared --no-checkout . "$OUT/$side"
  git -C "$OUT/$side" checkout --quiet --detach "$sha"
done
echo "base   $(git -C "$OUT/base" rev-parse --short HEAD) ($BASE)" >&2
echo "change $(git -C "$OUT/change" rev-parse --short HEAD) ($CHANGE)" >&2

BENCH="$OUT/change/BENCHMARK.json"
SECONDS_ARG=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$BENCH")
if [ -z "$WORKLOADS" ]; then
  WORKLOADS=$(python3 -c 'import json,sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' "$BENCH")
fi

run() {  # side workload seed
  local line="$OUT/results/$2/$1-seed$3.json"
  mkdir -p "$(dirname "$line")"
  local t0=$SECONDS
  if (cd "$OUT/$1" && python3 perfbench/run.py --workload "$2" --seed "$3" \
        --seconds "$SECONDS_ARG" --trace 0 2>"$line.log" | tail -n 1 >"$line"); then
    echo "$2 seed $3 $1: $((SECONDS - t0)) s" >&2
  else
    echo "$2 seed $3 $1: FAILED after $((SECONDS - t0)) s (see $line.log)" >&2
    rm -f "$line"
  fi
}

i=0
for w in $WORKLOADS; do
  for s in $SEEDS; do
    if [ $((i % 2)) -eq 0 ]; then run base "$w" "$s"; run change "$w" "$s"
    else run change "$w" "$s"; run base "$w" "$s"; fi
    i=$((i + 1))
  done
done

python3 - "$OUT/results" "$BENCH" $WORKLOADS <<'EOF'
import glob, json, os, statistics, sys

results, bench, workloads = sys.argv[1], sys.argv[2], sys.argv[3:]
metrics = [(m["name"], m["better"], m["bound"]) for m in json.load(open(bench))["end_to_end"]]


def side(w, name):
    runs = {}
    for p in sorted(glob.glob(os.path.join(results, w, f"{name}-seed*.json"))):
        try:
            r = json.load(open(p))
        except ValueError:
            print(f"unreadable result line: {p}", file=sys.stderr)
            continue
        if r.get("correct"):
            seed = os.path.basename(p)[len(name) + len("-seed"):-len(".json")]
            runs[seed] = {k: v["value"] for k, v in r["metrics"].items()}
        else:
            print(f"check failed, left out: {p}", file=sys.stderr)
    return runs


def won(a, b, better):
    return b < a if better == "lower" else b > a


def verdict(a, b, better, bound, spread):
    ma, mb = statistics.median(a), statistics.median(b)
    if all(won(x, y, better) for x in a for y in b):
        return "ok"
    if spread > bound:
        return "unresolved"
    worse = (mb - ma if better == "lower" else ma - mb) / ma if ma else float(mb != ma)
    return "worse" if worse > bound else "ok"


for w in workloads:
    base, change = side(w, "base"), side(w, "change")
    print(f"{w}: {len(base)} base runs, {len(change)} change runs")
    print(f"  {'metric':<14}{'base':>12}{'change':>12}{'ratio':>9}{'iqr/base':>10}"
          f"{'won':>7}  better  bound  verdict")
    for name, better, bound in metrics:
        a = {s: r[name] for s, r in base.items() if name in r}
        b = {s: r[name] for s, r in change.items() if name in r}
        if not a or not b:
            continue
        ma, mb = statistics.median(a.values()), statistics.median(b.values())
        q = statistics.quantiles(a.values(), n=4) if len(a) > 1 else [ma, ma, ma]
        spread = (q[2] - q[0]) / ma if ma else float(q[2] != q[0])
        pairs = sorted(a.keys() & b.keys())
        wins = sum(won(a[s], b[s], better) for s in pairs)
        ratio = f"{mb / ma:9.3f}" if ma else f"{'-':>9}"
        v = verdict(list(a.values()), list(b.values()), better, bound, spread)
        print(f"  {name:<14}{ma:12.4g}{mb:12.4g}{ratio}{spread:10.3f}"
              f"{wins:>3}/{len(pairs):<3}  {better:<6}  {bound:<5}  {v}")
EOF
echo "result lines: $OUT/results" >&2
