#!/bin/bash
# Alternating A/B of the repository benchmark (perfbench) between two trees.
#
# Usage: tools/perf_ab.sh <parent> <change> <workload> <seed>...
#   <parent>, <change>: a git revision, exported into a fresh tree with
#     `git archive`, or an existing directory (e.g. `.` for the working
#     tree), used as it is.
#   <workload>: serve | listen (see BENCHMARK.json).
# Environment: SECONDS_PER_RUN (default 10), TRACE (0 or 1, default 0),
#   OUT (directory for trees and results, default a new temporary one).
#
# For each seed it runs `python3 perfbench/run.py` once in each tree,
# alternating which tree runs first, and keeps every result line in
# $OUT/results, named by pair index (`<side>-<workload>-<pair>-<seed>`), so
# a seed listed more than once is a pair of its own. It then prints, over
# every pair, per metric of the run's kind (end-to-end for TRACE=0,
# per-layer for TRACE=1), the median and quartiles of both
# sides, the median change, and in how many pairs the change was better
# (by the metric's `better` direction in BENCHMARK.json). Neither tree's
# perfbench/ nor BENCHMARK.json is modified.
set -euo pipefail

[ $# -ge 4 ] || { sed -n '2,20p' "$0"; exit 2; }
PARENT=$1 CHANGE=$2 WORKLOAD=$3
shift 3
SEEDS=("$@")
SECS=${SECONDS_PER_RUN:-10}
TRACE=${TRACE:-0}
REPO=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
OUT=${OUT:-$(mktemp -d -t perf_ab.XXXXXX)}
mkdir -p "$OUT/results"

tree() { # <name> <rev-or-dir> -> prints the tree's directory
  if [ -d "$2" ]; then (cd "$2" && pwd); return; fi
  local d="$OUT/$1"
  rm -rf "$d" && mkdir -p "$d"
  git -C "$REPO" archive "$2" | tar -x -C "$d"
  echo "$d"
}
A=$(tree parent "$PARENT")
B=$(tree change "$CHANGE")
echo "parent: $A ($PARENT)"
echo "change: $B ($CHANGE)"

run() { # <label> <dir> <pair> <seed>
  local base="$OUT/results/$1-$WORKLOAD-$3-$4"
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$4" \
     --seconds "$SECS" --trace "$TRACE" 2>"$base.log" | tail -1 > "$base.json") \
    || echo "$1 pair $3 seed $4 failed; see $base.log"
  echo "[$(date +%H:%M:%S)] $1 pair $3 seed $4: $(head -c 120 "$base.json")"
}

i=0
for s in "${SEEDS[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then run parent "$A" "$i" "$s"; run change "$B" "$i" "$s"
  else run change "$B" "$i" "$s"; run parent "$A" "$i" "$s"; fi
  i=$((i + 1))
done

python3 - "$OUT/results" "$WORKLOAD" "$REPO/BENCHMARK.json" "${SEEDS[@]}" <<'EOF'
import json, statistics, sys
res_dir, workload, bench, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
spec = json.load(open(bench))
better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

def load(label, pair, seed):
    try:
        return json.load(open(f"{res_dir}/{label}-{workload}-{pair}-{seed}.json"))
    except (OSError, ValueError):
        return None

pairs = [(load("parent", i, s), load("change", i, s)) for i, s in enumerate(seeds)]
for label, k in (("parent", 0), ("change", 1)):
    runs = [p[k] for p in pairs]
    ok = sum(1 for r in runs if r and r["correct"] and r["failed"] == 0)
    print(f"{label}: {ok}/{len(runs)} runs correct with 0 failed")
pairs = [(a, b) for a, b in pairs if a and b]

def quart(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]

print(f"{'metric':44} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} {'delta':>8} {'wins':>6}")
names = sorted(set().union(*(p[0]["metrics"].keys() for p in pairs))) if pairs else []
for n in names:
    a = [p[0]["metrics"][n]["value"] for p in pairs if n in p[0]["metrics"] and n in p[1]["metrics"]]
    b = [p[1]["metrics"][n]["value"] for p in pairs if n in p[0]["metrics"] and n in p[1]["metrics"]]
    if not a:
        continue
    lower = better.get(n, "lower") == "lower"
    wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
    qa, qb = quart(a), quart(b)
    delta = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else 0.0
    fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
    print(f"{n:44} {fmt(qa):>26} {fmt(qb):>26} {delta:+7.1f}% {wins:>3}/{len(a)}")
EOF
echo "results in $OUT/results"
