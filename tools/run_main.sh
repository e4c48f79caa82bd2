#!/bin/bash
# Run a graft main with plain java (no sbt lock): tools/run_main.sh <MainClass> [args...]
# Env knobs pass through (SPARK_GRAFT_*, SPARK_DRIVER_MEM). Mirrors build.sbt javaOptions.
set -euo pipefail
# the classes of the checkout this script lives in, wherever it is run from
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
MEM="${SPARK_DRIVER_MEM:-8g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN="$1"; shift
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Duser.language=en -Duser.country=US \
  -Xmx"$MEM" \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
