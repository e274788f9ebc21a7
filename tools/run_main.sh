#!/bin/bash
# Direct-JVM runner for graft mains (no sbt lock): tools/run_main.sh graft.Bench [args...]
# Mirrors build.sbt's forked-run JVM flags. SPARK_DRIVER_MEM sizes the heap.
set -euo pipefail
# classes of the checkout this script lives in (sbt compile), wherever it is
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "run_main.sh: $CLASSES not found; run sbt compile in $ROOT" >&2; exit 1; }
# the jar directory build.sbt compiles against (its unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase *:= *file("\([^"]*\)").*/\1/p' "$ROOT/build.sbt")"
[ -n "$JARS" ] || { echo "run_main.sh: no unmanagedBase in $ROOT/build.sbt" >&2; exit 1; }
MEM="${SPARK_DRIVER_MEM:-8g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"$MEM" $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.network.timeout=600s \
  -Dspark.executor.heartbeatInterval=30s \
  -cp "$CLASSES:$ROOT/src/main/resources:$JARS/*" "$@"
