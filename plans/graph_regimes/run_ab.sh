#!/bin/bash
# Interleaved A/B of RegimeProbe between two throwaway checkouts: for each
# pair, one JVM per side runs the named operators in order, and the side
# that goes first alternates between pairs. Appends to <out.jsonl>.
# Usage:
#   run_ab.sh <before_tree> <after_tree> <dataDir> <pairs> <op,op,...> <out.jsonl>
set -eu
before=$1 after=$2 data=$3 pairs=$4 ops=$5 out=$6
here=$(cd "$(dirname "$0")" && pwd)
for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then order="before after"; else order="after before"; fi
  for side in $order; do
    if [ "$side" = before ]; then tree=$before; else tree=$after; fi
    "$here/run_probe.sh" "$tree" "$data" "$side" "$out" "$ops"
  done
done
python3 "$here/summary.py" "$out"
