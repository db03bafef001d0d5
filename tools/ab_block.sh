#!/bin/bash
# Interleaved same-box A/B of a query subset between two class trees.
# Usage: tools/ab_block.sh <classesA> <classesB> <queries-csv> <tag> [rounds]
# One untimed warm-up round (A then B, outputs discarded) runs first, so
# round 1's arm A does not run on a cold box. Each round then runs one
# full subset bench per arm, in alternating order: odd rounds A then B,
# even rounds B then A, so drift within a round does not always land on
# the same arm. Each arm's JSON (with flop_control) lands in
# /tmp/ab_<tag>_<arm><i>.json; tools/ab_summary.py <tag> reads them.
# Defaults: 5 rounds, SPARK_GRAFT_CPUS = the machine's cores (nproc).
set -euo pipefail
A="$1"; B="$2"; QS="$3"; TAG="$4"; ROUNDS="${5:-5}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_QUERIES="$QS"
warm=$(mktemp -d)
trap 'rm -rf "$warm"' EXIT
for arm in A B; do
  dir="$A"; [ "$arm" = B ] && dir="$B"
  echo "=== warm-up arm $arm ($dir)"
  GRAFT_CLASSES_DIR="$dir" SPARK_GRAFT_BENCH_OUT="$warm/$arm.json" \
    tools/run_main.sh graft.Bench > "$warm/$arm.log" 2>&1 \
    || echo "warm-up arm $arm FAILED"
done
for i in $(seq 1 "$ROUNDS"); do
  order="A B"; [ $((i % 2)) -eq 0 ] && order="B A"
  for arm in $order; do
    dir="$A"; [ "$arm" = B ] && dir="$B"
    out="/tmp/ab_${TAG}_${arm}${i}.json"
    echo "=== arm $arm round $i ($dir) -> $out"
    GRAFT_CLASSES_DIR="$dir" SPARK_GRAFT_BENCH_OUT="$out" \
      tools/run_main.sh graft.Bench > "/tmp/ab_${TAG}_${arm}${i}.log" 2>&1 \
      || echo "arm $arm round $i FAILED (see log)"
  done
done
echo done
