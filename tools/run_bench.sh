#!/bin/bash
# Run a graft main against the sbt-compiled classes, with no sbt lock.
# Do NOT compile concurrently. Spark jars come from $SPARK_HOME/jars, else
# /opt/spark/jars.
#
#   tools/run_bench.sh                 graft.Bench at two core counts: one
#                                      fresh JVM per SPARK_GRAFT_CPUS in
#                                      {8, 32}, 8 first. Each JVM writes its
#                                      own artifact, SPARK_GRAFT_BENCH_OUT
#                                      (default BENCH_LATEST.json) with _c8 or
#                                      _c32 before the extension; stdout is
#                                      both runs' graft.Bench output, as is.
#   tools/run_bench.sh <main> [args]   any other main, once, in one JVM
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
jvm() {
  java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} \
    -cp "$CLASSES:$JARS/*" "$@"
}

MAIN="${1:-graft.Bench}"
if [ "$MAIN" != "graft.Bench" ]; then
  jvm "$@"
  exit
fi
OUT="${SPARK_GRAFT_BENCH_OUT:-BENCH_LATEST.json}"
STEM="${OUT%.json}"
for CPUS in 8 32; do
  SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_OUT="${STEM}_c${CPUS}.json" jvm graft.Bench
done
