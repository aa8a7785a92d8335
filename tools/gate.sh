#!/usr/bin/env bash
# Pre-checkpoint gate: never leave the tree uncompiled (the r15 lesson —
# a mid-refactor snapshot zeroed a round in which everything worked).
#
# Usage:
#   tools/gate.sh                 # state-root checks, then compile main and
#                                 # tests (the minimum before ANY commit)
#   tools/gate.sh q1 q2 ...       # compile + restricted Verify/check on the
#                                 # named entries at sf0.01
set -euo pipefail
cd "$(dirname "$0")/.."

# perfbench/run.py finds the program's state root by scanning src/main for
# a "<root>/target/graft-" literal and runs each JVM with that root mounted
# over a per-run directory. Only StateRoot.scala may name the root, and the
# scan must keep finding it: if it found nothing, benchmark runs would
# silently share state with each other.
stray=$(grep -rln '/root/repo' src/main | grep -vx 'src/main/scala/graft/StateRoot.scala' || true)
if [ -n "$stray" ]; then
  echo "gate: the state root is named outside StateRoot.scala: $stray" >&2
  exit 1
fi
# Only the manifest module knows the graftdocs version-file layout: every
# other reader and committer goes through GdfManifest.Listing, so a
# stray "manifest-v" literal is a second copy of the layout.
manifest=src/main/scala/org/apache/spark/sql/graft/dsv2/GdfManifest.scala
stray=$(grep -rln 'manifest-v' src/main | grep -vx "$manifest" || true)
if [ -n "$stray" ]; then
  echo "gate: the version-file layout is named outside $manifest: $stray" >&2
  exit 1
fi
found=$(python3 -B -c "import sys; sys.path.insert(0,'perfbench'); import run; print(run.program_literals(run.program_sources('.')))")
if [ "$found" != "(['/root/repo/target'], '/root/testdata')" ]; then
  echo "gate: perfbench's root scan finds $found" >&2
  exit 1
fi

sbt -batch Test/compile

if [ "$#" -gt 0 ]; then
  out=/tmp/gate_verify
  names=$(IFS=,; echo "$*")
  SPARK_GRAFT_ONLY="$names" sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.01 $out"
  python3 tools/check.py /root/testdata/sf0.01 "$out" "$@"
fi
echo "gate: OK"
