#!/bin/bash
# Run a graft main directly on the compiled classes (bypasses sbt).
# Usage: tools/run_bench.sh <mainClass> [env already exported]
MAIN=${1:-graft.ScalingBench}
# Heap (-Xms = -Xmx): SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 g
# (the tier-1 test rule), so the JVM can always commit it.
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
ROOT=$(cd "$(dirname "$0")/.." && pwd)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$MEM -Xms$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$MAIN"
