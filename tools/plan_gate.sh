#!/usr/bin/env bash
# Per-round plan regression gate: compiles, runs graft.PlanGate over the most
# expensive queries + the CDC merge/MOR-read plans, and records the output.
# Fails (non-zero) on cartesian products, unpartitioned windows, var-width
# SortAggregates in the merge path, broadcast-of-base in the MOR read, a
# MOR delta or compaction write with more than one exchange or any broadcast,
# or a CoW write with more than one exchange or any shuffled join.
# Usage: tools/plan_gate.sh [sfDir] [outFile]
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT="${2:-PLAN_GATE.txt}"
sbt -batch --error compile 1>&2
if tools/run_main.sh graft.PlanGate "$SF_DIR" 2>/dev/null | tee "$OUT"; then
  echo "plan gate PASSED -> $OUT" 1>&2
else
  echo "plan gate FAILED -> $OUT" 1>&2
  exit 1
fi
