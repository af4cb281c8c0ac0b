#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark harness (perfbench/scala) with the Scala compiler that ships in
# the Spark distribution, into .bench_build/classes under the repository
# root. Skips the compile when no source changed since the last build.
#
# Usage: bash perfbench/build.sh   (from anywhere; SPARK_HOME defaults to
# /opt/spark)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
jars="${SPARK_HOME:-/opt/spark}/jars"
out="$root/.bench_build"
cd "$root"
[ -d src/main/scala/graft ] || { echo "build: no engine sources" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 \
  || { echo "build: no Scala compiler in $jars" >&2; exit 2; }
sources=$(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(sha256sum $sources | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
echo "build: compiling $(echo "$sources" | wc -l) Scala files" >&2
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" $sources >&2
echo "$stamp" > "$out/stamp"
