#!/usr/bin/env bash
# Compile the program (src/main/scala) and the benchmark (perfbench/src)
# into one class directory with the Scala compiler that ships in Spark's
# jars. Usage: perfbench/build.sh <spark-jars-dir> <out-dir>
set -euo pipefail
jars="$1"; out="$2"
cd "$(dirname "$0")/.."
rm -rf "$out"; mkdir -p "$out"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out" -classpath "$jars/*" $(find src/main/scala perfbench/src -name '*.scala' | sort)
