#!/bin/bash
# Build file of the benchmark: compiles graft (src/main/scala) and the
# benchmark's own sources (perfbench/src) with the Scala compiler that
# ships in Spark's jars directory, into .bench_build/classes.
#
# Run from the repository root:  SPARK_HOME=<spark> bash perfbench/build.sh
set -euo pipefail
[ -n "${SPARK_HOME:-}" ] || { echo "set SPARK_HOME to the Spark installation" >&2; exit 1; }
SPARK_JARS="$SPARK_HOME/jars"
OUT=.bench_build/classes
rm -rf "$OUT" && mkdir -p "$OUT"
find src/main/scala perfbench/src -name '*.scala' | sort > .bench_build/sources.txt
[ -s .bench_build/sources.txt ] || { echo "no Scala sources to build" >&2; exit 1; }
java -Xss8m -Xmx3g -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -nowarn -classpath "$SPARK_JARS/*" -d "$OUT" @.bench_build/sources.txt
cp -r src/main/resources/. "$OUT/"
