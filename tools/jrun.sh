#!/bin/bash
# Run a graft main class directly (no sbt lock): tools/jrun.sh graft.Timeq args...
# JVM flags come from tools/jvm.opts, the file build.sbt's javaOptions read;
# the heap from SPARK_DRIVER_MEM (default 8g), as in build.sbt; the Spark
# jars from $SPARK_HOME/jars, by default the install build.sbt uses.
set -euo pipefail
cd "$(dirname "$0")/.."
OPTS=()
while IFS= read -r line; do
  line="${line#"${line%%[![:space:]]*}"}"
  line="${line%"${line##*[![:space:]]}"}"
  [[ -z "$line" || "$line" == \#* ]] || OPTS+=("$line")
done < tools/jvm.opts
exec java "${OPTS[@]}" -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$@"
