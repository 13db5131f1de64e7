#!/usr/bin/env bash
# Build the engine (src/main) and the benchmark harness with the Scala
# compiler that ships in the Spark distribution, without sbt.
#
#   perfbench/build.sh <out-dir> <spark-jar-dir>
#
# Writes <out-dir>/main.jar (engine) and <out-dir>/harness.jar (harness).
# Run from the repository root.
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
compiler="$jars/scala-compiler-2.13.17.jar:$jars/scala-library-2.13.17.jar:$jars/scala-reflect-2.13.17.jar"
cp="$(printf '%s:' "$jars"/*.jar)"
scalac() {
  java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$compiler" scala.tools.nsc.Main -nowarn "$@"
}
rm -rf "$out"
mkdir -p "$out/main" "$out/harness"
find src/main/scala -name '*.scala' | sort > "$out/main.sources"
scalac -d "$out/main" -classpath "$cp" @"$out/main.sources"
scalac -d "$out/harness" -classpath "$out/main:$cp" perfbench/harness/*.scala
jar -J-XX:-UsePerfData cf "$out/main.jar" -C "$out/main" .
jar -J-XX:-UsePerfData cf "$out/harness.jar" -C "$out/harness" .
rm -rf "$out/main" "$out/harness" "$out/main.sources"
