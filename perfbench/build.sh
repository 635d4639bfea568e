#!/bin/bash
# Build file of the benchmark: compiles the engine (src/main/scala) or the
# harness (perfbench/harness, against the engine) with the Scala compiler
# that ships in the Spark jars directory. No sbt, no network, nothing
# written outside <outdir>.
#
# Usage: bash perfbench/build.sh <outdir> engine|harness   (from the repository root)
# Produces <outdir>/classes (engine) or <outdir>/harness (benchmark).
set -euo pipefail
OUT="${1:?usage: build.sh <outdir> engine|harness}"
WHAT="${2:?usage: build.sh <outdir> engine|harness}"
JARS="${SPARK_JARS:-/opt/spark/jars}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -f "$JARS/scala-compiler-2.13.17.jar" ] || { echo "build.sh: no Scala 2.13.17 compiler in $JARS" >&2; exit 2; }
scalac() {
  java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$JARS/*" scala.tools.nsc.Main -nowarn -usejavacp "$@"
}
case "$WHAT" in
  engine)
    rm -rf "$OUT/classes"; mkdir -p "$OUT/classes"
    find src/main/scala -name '*.scala' | sort > "$OUT/engine-sources.txt"
    scalac -d "$OUT/classes" @"$OUT/engine-sources.txt" ;;
  harness)
    rm -rf "$OUT/harness"; mkdir -p "$OUT/harness"
    scalac -classpath "$OUT/classes" -d "$OUT/harness" perfbench/harness/*.scala ;;
  *) echo "build.sh: unknown target $WHAT" >&2; exit 2 ;;
esac
