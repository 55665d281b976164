#!/bin/bash
# Run a graft main class directly on the compiled classes (fast path, no sbt).
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#        SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench
set -e
CLS="$1"; shift
# the JVM flags shared with build.sbt, one per line
FLAGS=$(grep -v -e '^[[:space:]]*#' -e '^[[:space:]]*$' "$(dirname "$0")/jvm.flags")
exec java $FLAGS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes:/root/repo/target/scala-2.13/test-classes}:/opt/spark/jars/*" \
  "$CLS" "$@"
