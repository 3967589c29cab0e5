#!/usr/bin/env bash
# Build file of the CT-path benchmark: compiles the repository's main
# sources together with the benchmark's own into ctbench/.build/classes
# with the Scala compiler that ships among the Spark jars.
#   SPARK_JARS  directory of the Spark 4 / Scala 2.13 jars (run.py sets it)
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="${SPARK_JARS:?set SPARK_JARS to the Spark jars directory}"
main="$root/src/main/scala"
if [ ! -d "$main" ]; then
  echo "build.sh: $main not found; the benchmark builds the repository from source" >&2
  exit 3
fi
out="$here/.build/classes"
rm -rf "$out"
mkdir -p "$out"
find "$main" "$here/src" -name '*.scala' | sort > "$here/.build/sources.txt"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out" \
  -classpath "$jars/*" @"$here/.build/sources.txt"
cp -r "$root/src/main/resources/." "$out/"
