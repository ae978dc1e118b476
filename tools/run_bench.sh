#!/bin/bash
# Run a graft main (e.g. graft.Bench) against the sbt-compiled classes, with no
# sbt lock: tools/run_bench.sh graft.Bench. Do NOT compile concurrently.
# Spark jars come from $SPARK_HOME/jars, else /opt/spark/jars.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
if [ ! -f "$CLASSES/graft/Bench.class" ]; then
  echo "run_bench.sh: $CLASSES/graft/Bench.class is missing; run 'sbt compile' first" >&2
  exit 1
fi
JARS="/opt/spark/jars"
if [ -n "${SPARK_HOME:-}" ] && [ -d "$SPARK_HOME/jars" ]; then
  JARS="$SPARK_HOME/jars"
fi
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CLASSES:$JARS/*" "$@"
