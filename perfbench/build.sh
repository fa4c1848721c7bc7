#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's sources
# (src/main/scala, plus src/main/resources) together with the benchmark
# harness (perfbench/src) into one class directory, using the Scala
# compiler that ships in Spark's jar directory. No sbt, no network.
#
#   SPARK_HOME=<spark> bash perfbench/build.sh <class-dir>   (from the repo root)
set -euo pipefail
out="$1"
jars="$SPARK_HOME/jars"
compiler=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar \
  "$jars"/scala-reflect-2.13*.jar | paste -sd: -)
tmp="$out.tmp.$$"
rm -rf "$tmp"
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' > "$tmp.sources"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" @"$tmp.sources"
rm -f "$tmp.sources"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$tmp/"; fi
rm -rf "$out"
mv "$tmp" "$out"
