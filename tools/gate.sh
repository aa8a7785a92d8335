#!/usr/bin/env bash
# Pre-checkpoint gate: never leave the tree uncompiled (the r15 lesson —
# a mid-refactor snapshot zeroed a round in which everything worked).
#
# Usage:
#   tools/gate.sh                 # compile main and tests (the minimum before ANY commit)
#   tools/gate.sh q1 q2 ...       # compile + restricted Verify/check on the
#                                 # named entries at sf0.01
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch Test/compile

if [ "$#" -gt 0 ]; then
  out=/tmp/gate_verify
  names=$(IFS=,; echo "$*")
  SPARK_GRAFT_ONLY="$names" sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.01 $out"
  python3 tools/check.py /root/testdata/sf0.01 "$out" "$@"
fi
echo "gate: OK"
