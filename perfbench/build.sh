#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine's main sources
# (src/main/scala) together with the benchmark's own (perfbench/src) into one
# class directory, with the Scala compiler that ships among Spark's jars.
#
#   usage: perfbench/build.sh <out-dir>        (run from the repository root)
#
# The output appears atomically: it is compiled into a sibling temp
# directory and renamed into place, so a killed build leaves no half tree.
# <out-dir>/SPARK_JARS names the Spark jar directory the classes need.
set -euo pipefail

out="${1:?usage: perfbench/build.sh <out-dir>}"
# Spark's jars: under SPARK_HOME, else beside the spark-submit on PATH
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"

if [ ! -d src/main/scala ]; then
  echo "build: no engine sources under src/main/scala (run from the repository root)" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build: no scala-compiler jar in $jars (set SPARK_HOME)" >&2
  exit 2
fi

tmp="$out.tmp.$$"
files="$tmp.files"
trap 'rm -rf "$tmp" "$files"' EXIT
rm -rf "$tmp"
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort > "$files"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$tmp" -classpath "$jars/*" "@$files"
echo "$jars" > "$tmp/SPARK_JARS"
rm -rf "$out"
mv "$tmp" "$out"
