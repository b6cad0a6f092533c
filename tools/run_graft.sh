#!/bin/bash
# Run a graft main class against the compiled classes + /opt/spark/jars
# without holding the sbt lock (sweeps/corpus generation run for tens of
# minutes; code work continues in sbt meanwhile). Mirrors build.sbt's
# JDK17 add-opens + driver flags. Usage:
#   tools/run_graft.sh graft.Run scale /root/testdata/sf0.1 target/testdata/sf10 100
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
