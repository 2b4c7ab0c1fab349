#!/bin/bash
# Run a graft main class via plain java using the sbt-exported classpath
# (tools: refresh with `sbt "export Runtime/fullClasspath"` > /tmp/graft_cp.txt).
# Mirrors build.sbt's fork javaOptions (JDK17 add-opens, UTC, no UI).
# Usage: run_graft.sh <mainClass> [args...]
set -euo pipefail
CP_FILE=/tmp/graft_cp.txt
if [[ ! -r $CP_FILE ]]; then
  echo "run_graft.sh: no readable classpath file $CP_FILE; create it with:" >&2
  echo "  sbt \"export Runtime/fullClasspath\" > $CP_FILE" >&2
  exit 1
fi
CP=$(cat "$CP_FILE")
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
