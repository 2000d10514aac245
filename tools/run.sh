#!/bin/bash
# Run a graft main class directly (faster than sbt): tools/run.sh graft.Verify args...
set -e
# Bench appends a BENCH_HISTORY row keyed by round; an unset round label
# forces inferRound's ambiguous-window heuristics. Make the label explicit
# for every bench launched through this script so the guard is unreachable.
if [ "$1" = "graft.Bench" ] && [ -z "$SPARK_GRAFT_ROUND" ]; then
  echo "tools/run.sh: set SPARK_GRAFT_ROUND=rNN for graft.Bench runs" >&2
  exit 2
fi
# the classes of the checkout this script lives in, wherever that is
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra JVM flags passed through as-is (e.g. GC logging
# or -XX diagnostics); the engine itself reads no -D property
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$@"
