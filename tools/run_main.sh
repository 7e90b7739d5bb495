#!/bin/bash
# Run a local graft main (Bench, Verify, ScaleProbe, PlanDump) via bare
# java with the JDK17 add-opens flags Spark needs outside spark-submit —
# same flag set as tools/run_verify.sh.
# Usage: tools/run_main.sh <mainClass> [args...]
set -e
cd "$(dirname "$0")/.."
MAIN="$1"; shift
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java -cp "$CP" $OPENS -Xmx${SPARK_DRIVER_MEM:-16g} "$MAIN" "$@"
