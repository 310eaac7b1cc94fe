#!/bin/bash
# Launch a graft main directly on the compiled classes (no sbt lock —
# lets a long bench/verify run coexist with dev-loop sbt sessions).
# Mirrors build.sbt's forked-run JVM flags (JDK17 add-opens, UTC, UI
# off). Usage: run_main.sh <mainClass> [args...]
#   env: SPARK_DRIVER_MEM (default 8g) and the usual SPARK_GRAFT_* vars
set -eu
MAIN=$1; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)" # the checkout this script lives in
# the Spark jars the build compiles against (build.sbt's unmanagedBase)
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
[ -n "$JARS" ] || { echo "run_main.sh: no unmanagedBase in $ROOT/build.sbt" >&2; exit 1; }
CP="$ROOT/target/scala-2.13/classes:$JARS/*"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$MAIN" "$@"
