#!/bin/bash
# Measurement chain, run from any directory with the tests and both-SF
# correctness already green:
#
#   tools/measure.sh <tag>
#
# 1. generates the 3x / 10x scale replicas under scaledata/ if missing
#    (gitignored; tools/gen_scale.py);
# 2. runs the scale-equivalence audit on the 3x replica
#    -> SCALE_EQUIV_<tag>.json;
# 3. records two independent full bench runs (graft.Bench on
#    $SPARK_GRAFT_SF_DIR, Bench's default when unset)
#    -> BENCH_local_<tag>.json and BASELINE_<tag>.json, so the next
#    comparison is never against itself;
# 4. records the measured scale curve -> SCALING_<tag>.json.
#
# Every leg is guarded: a nonzero exit status or an empty artifact aborts
# the chain instead of leaving an empty file as the next baseline.
# Progress lines go to /tmp/measure_<tag>/status, each leg's full output
# to /tmp/measure_<tag>/<leg>.log.
set -uo pipefail
[ $# -eq 1 ] || { echo "usage: $0 <tag>" >&2; exit 2; }
tag=$1
cd "$(dirname "$0")/.." || exit 1
LOGS=/tmp/measure_$tag
mkdir -p "$LOGS"
log() { echo "[$(date +%H:%M:%S)] $*" | tee -a "$LOGS/status"; }
die() { log "ABORT: $*"; exit 1; }

# leg <name> <artifact> <grep pattern|-> <command...>: runs the command
# with output in $LOGS/<name>.log; with a pattern, the last matching JSON
# line becomes the artifact. Aborts on rc != 0 or an empty artifact.
leg() {
  local name=$1 out=$2 pat=$3; shift 3
  log "$name starting"
  local t0=$SECONDS
  "$@" > "$LOGS/$name.log" 2>&1
  local rc=$?
  log "$name rc=$rc wall=$((SECONDS-t0))s"
  [ "$pat" = - ] || grep -o "$pat.*" "$LOGS/$name.log" | tail -1 > "$out"
  [ $rc -eq 0 ] || die "$name rc=$rc (see $LOGS/$name.log)"
  [ -s "$out" ] || die "$name produced no artifact $out"
  log "$name bytes: $(wc -c < "$out")"
}

# -- replicas ------------------------------------------------------------
for spec in "3 scaledata/sf03" "10 scaledata/sf1"; do
  set -- $spec
  [ -f "$2/documents.parquet" ] && continue
  mkdir -p "$2"
  leg "gen_$(basename "$2")" "$2/documents.parquet" - \
    python3 tools/gen_scale.py "$1" "$2"
done
for spec in "3 scaledata/sf03s scaledata/sf03" "10 scaledata/sf1s scaledata/sf1"; do
  set -- $spec
  [ -f "$2/embeddings.parquet" ] && continue
  mkdir -p "$2"
  leg "gen_$(basename "$2")" "$2/embeddings.parquet" - \
    python3 tools/gen_scale.py "$1" "$2" --sqrt-labels "$3"
done

# -- scale-equivalence audit at 3x ----------------------------------------
leg scale_equiv "SCALE_EQUIV_$tag.json" '{"scale_equiv"' \
  env SPARK_GRAFT_CC_DRIVER_LIMIT=0 \
  sbt -batch "Test/runMain graft.ScaleEquiv scaledata/sf03"

# -- two independent full bench recordings --------------------------------
leg benchA "BENCH_local_$tag.json" '{"metric"' sbt -batch "runMain graft.Bench"
leg benchB "BASELINE_$tag.json" '{"metric"' sbt -batch "runMain graft.Bench"

# -- measured scale curve -------------------------------------------------
leg scaling "SCALING_$tag.json" - python3 tools/scaling_curve.py "SCALING_$tag.json"
log "DONE"
