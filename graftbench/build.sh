#!/usr/bin/env bash
# Build file of the benchmark: compiles graft (src/main) together with the
# harness (graftbench/src) using the Scala compiler that ships with Spark,
# into one class directory.
#
# Usage, from the repository root:
#   bash graftbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out"
mkdir -p "$out"
find src/main/scala graftbench/src -name '*.scala' | sort > "$out.sources"
java -Xmx3g -Xss16m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$jars/*" "@$out.sources"
cp -r src/main/resources/. "$out/"
