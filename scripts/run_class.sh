#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (faster dev loop than sbt runMain). Usage: scripts/run_class.sh graft.Verify args...
# JVM system properties go before the class and reach the session conf, e.g.
#   scripts/run_class.sh -Dspark.graft.checkpoint.dir=/tmp/ckpt graft.Verify <sfDir> <outDir>
# runs every CheckpointPolicy pin against that reliable checkpoint dir.
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
