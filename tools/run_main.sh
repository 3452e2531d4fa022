#!/bin/bash
# Run a graft main class directly on the compiled classes — same JVM flags
# as build.sbt's forked run, no sbt lock, ~20 s less startup per
# invocation. Usage: tools/run_main.sh graft.Verify <args...>
# (compile first: sbt -batch compile)
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
