#!/bin/bash
# Run graft.Verify against a compiled classes dir without sbt startup cost.
# Usage: tools/verify.sh [sfDir] [outDir] [key...]
# The heap is SPARK_DRIVER_MEM when set, else half the host's memory
# clamped to 2-8 GB (the sizing the Tier-1 test run uses).
set -e
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/graft_verify}
shift $(( $# > 2 ? 2 : $# ))   # remaining args = optional key subset
cd "$(dirname "$0")/.."
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"$HEAP" \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Verify "$SF" "$OUT" "$@"
