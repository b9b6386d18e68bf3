#!/bin/bash
# Compiles the engine (src/main/scala) and the benchmark driver
# (perfbench/scala) with the Scala compiler shipped in the Spark jars and
# packs the classes into one jar.
#
#   perfbench/build.sh <out-dir>
#
# Run from the repository root. Writes <out-dir>/bench.jar and
# <out-dir>/bench.stamp (a hash of the sources); skips the compile when
# the stamp is current.
set -euo pipefail
OUT=${1:-.bench_build}
SPARK_JARS=${SPARK_JARS:-/opt/spark/jars}
[ -d src/main/scala ] || { echo "build: src/main/scala not found" >&2; exit 2; }
mkdir -p "$OUT"
SOURCES=$(find src/main/scala perfbench/scala -name '*.scala' | sort)
STAMP=$(cat $SOURCES | sha256sum | cut -d' ' -f1)
if [ -f "$OUT/bench.jar" ] && [ "$(cat "$OUT/bench.stamp" 2>/dev/null)" = "$STAMP" ]; then
  exit 0
fi
TMP=$(mktemp -d "$OUT/build.XXXXXX")
trap 'rm -rf "$TMP"' EXIT
mkdir "$TMP/classes"
java -Xss8m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main -nowarn \
  -d "$TMP/classes" -cp "$SPARK_JARS/*" $SOURCES
jar cf "$TMP/bench.jar" -C "$TMP/classes" .
mv "$TMP/bench.jar" "$OUT/bench.jar"
echo "$STAMP" > "$OUT/bench.stamp"
