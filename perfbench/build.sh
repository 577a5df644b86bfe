#!/bin/sh
# Compiles the engine (src/main/scala) and the benchmark harness
# (perfbench/harness) into one class directory, with the Scala compiler
# that ships in the Spark distribution's jars. No dependency resolution.
#
# Usage, from the repository root: sh perfbench/build.sh OUT_DIR SPARK_JARS_DIR
set -eu
out=$1
jars=$2
cp=$(ls "$jars"/*.jar | tr '\n' ':')
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/harness -name '*.scala' > "$out.sources"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$cp" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$cp" @"$out.sources"
rm -f "$out.sources"
