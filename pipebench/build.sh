#!/usr/bin/env bash
# Build file of the pipeline benchmark: compiles the program
# (src/main/scala) together with the benchmark's own JVM sources
# (pipebench/scala) into one class directory with the Scala compiler that
# ships in the Spark jars. The jars are the ones build.sbt names as its
# unmanagedBase (SPARK_JARS overrides); their directory is recorded in
# OUT_DIR/spark-jars for run.py. Skips the compile when the sources hash
# to the stamp of the previous build. Run from the repository root:
#   bash pipebench/build.sh [OUT_DIR]      (default .bench_build)
set -euo pipefail
out="${1:-.bench_build}"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
jars="${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)}"
[ -n "$jars" ] && [ -d "$jars" ] || { echo "build: no Spark jars directory '$jars'" >&2; exit 2; }
mkdir -p "$out"
echo "$jars" > "$out/spark-jars"
srcs=$(find src/main/scala pipebench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(printf '%s\n' $srcs | xargs sha256sum | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -d "$out/classes" ]; then
  exit 0
fi
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes.tmp" $srcs
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
echo "$stamp" > "$out/stamp"
