#!/bin/bash
# Fast dev launcher: run a graft main without sbt overhead.
# Usage: scripts/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Runs the classes `sbt compile` built in the checkout this script is in.
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES":'/opt/spark/jars/*' "$@"
