#!/bin/sh
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark (perfbench/src) into the directory given as $1, using the Scala
# compiler that ships among the Spark distribution's jars. Run it from the
# repository root:  sh perfbench/build.sh <output dir>
set -eu
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to a Spark 4.1 (Scala 2.13) distribution}/jars"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" "@$out/sources.txt"
