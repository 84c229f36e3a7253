#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (bypasses sbt startup; mirrors build.sbt's forked-JVM options).
# Usage: tools/run_main.sh <MainClass> [args...]   (env vars pass through)
# Spark's jars: under SPARK_HOME, else beside the spark-submit on PATH
# (the lookup perfbench/build.sh makes).
set -e
cd "$(dirname "$0")/.."
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
if ! ls "$jars"/spark-core_*.jar >/dev/null 2>&1; then
  echo "run_main: no Spark jars in $jars (set SPARK_HOME)" >&2
  exit 2
fi
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
MAIN="$1"; shift
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:$jars/*" \
  "$MAIN" "$@"
