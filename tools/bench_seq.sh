#!/usr/bin/env bash
# End-of-round bench sequence (machine must be otherwise idle):
#   1. sf1 data via tools.GenSf if missing (deterministic, so an
#      existing SF1_DIR is reused)
#   2. sf0.1 matching pair via tools/bench_pair.py: draws guarded
#      full-suite benches until two ACCEPTED draws agree (total ≤5%,
#      headline ≤0.5%) and lands the pair with machine-readable "pair"
#      metadata
#   3. sf1 guarded draw via tools/bench_guard.py
#
# Usage: tools/bench_seq.sh TAG CPUS [SF1_CPUS]
#   TAG       round tag naming the artifacts: BENCH_sf0.1_<TAG>local.json
#             and BENCH_sf1_<TAG>.json at the repo root
#   CPUS      SPARK_GRAFT_CPUS of the sf0.1 pair (8 keeps a pair
#             comparable with earlier rounds' local pairs)
#   SF1_CPUS  SPARK_GRAFT_CPUS of the sf1 draw (default: CPUS)
# Env: SF01_DIR (sf0.1 tables, required), SF1_DIR (default
# ${TMPDIR:-/tmp}/gensf1).
set -euo pipefail
[ $# -ge 2 ] || { sed -n '2,18p' "$0" >&2; exit 2; }
TAG="$1"; CPUS="$2"; SF1_CPUS="${3:-$2}"
: "${SF01_DIR:?set SF01_DIR to the sf0.1 tables}"
SF1_DIR="${SF1_DIR:-${TMPDIR:-/tmp}/gensf1}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

if [ ! -d "$SF1_DIR" ]; then
  echo "=== GenSf sf1 -> $SF1_DIR ==="
  SPARK_GRAFT_CPUS=16 tools/run_main.sh graft.tools.GenSf "$SF1_DIR" 10
fi

echo "=== sf0.1 matching pair (CPUS=$CPUS) ==="
SPARK_GRAFT_CPUS="$CPUS" python3 tools/bench_pair.py "$SF01_DIR" \
  "$REPO/BENCH_sf0.1_${TAG}local.json" --max-draws 6 --sleep 60

echo "=== sf1 guarded draw (CPUS=$SF1_CPUS) ==="
SPARK_GRAFT_CPUS="$SF1_CPUS" python3 tools/bench_guard.py "$SF1_DIR" \
  "$REPO/BENCH_sf1_${TAG}.json" --max-tries 2 --sleep 120

echo "=== done ==="
