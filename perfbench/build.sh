#!/bin/bash
# Build for the benchmark: compiles the program (src/main/scala) and the
# harness (perfbench/harness) with the Scala compiler that ships in the
# Spark distribution, against the stock Spark jars -- the same way
# compile_direct.sh compiles the program, but into the benchmark's own
# output directory. Skips a step whose sources are unchanged.
#
#   perfbench/build.sh <out dir>     (run from the repository root)
set -euo pipefail
OUT="${1:?usage: perfbench/build.sh <out dir>}"
SPARK_JARS="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build: no src/main/scala under $(pwd)" >&2; exit 2; }
[ -d "$SPARK_JARS" ] || { echo "build: no Spark jars at $SPARK_JARS" >&2; exit 2; }

SCALAC_CP=$(ls "$SPARK_JARS"/scala-compiler-2.13.*.jar "$SPARK_JARS"/scala-library-2.13.*.jar \
  "$SPARK_JARS"/scala-reflect-2.13.*.jar | tr '\n' ':')
SPARK_CP=$(ls "$SPARK_JARS"/*.jar | tr '\n' ':')

stamp() { find "$@" -name '*.scala' -print0 | sort -z | xargs -0 sha256sum | sha256sum | cut -d' ' -f1; }

compile() { # <out> <classpath> <sources...>
  local out="$1" cp="$2"; shift 2
  rm -rf "$out.tmp"; mkdir -p "$out.tmp"
  java -Xmx2g -Xss8m -cp "$SCALAC_CP" scala.tools.nsc.Main -nowarn \
    -classpath "$cp" -d "$out.tmp" -release 17 "$@"
  rm -rf "$out"; mv "$out.tmp" "$out"
}

mkdir -p "$OUT"
want=$(stamp src/main/scala)
if [ "$(cat "$OUT/classes.stamp" 2>/dev/null)" != "$want" ]; then
  echo "build: compiling src/main/scala" >&2
  compile "$OUT/classes" "$SPARK_CP" $(find src/main/scala -name '*.scala')
  echo "$want" > "$OUT/classes.stamp"
  rm -f "$OUT/harness.stamp"
fi
want=$(stamp perfbench/harness)
if [ "$(cat "$OUT/harness.stamp" 2>/dev/null)" != "$want" ]; then
  echo "build: compiling perfbench/harness" >&2
  compile "$OUT/harness" "$OUT/classes:$SPARK_CP" $(find perfbench/harness -name '*.scala')
  echo "$want" > "$OUT/harness.stamp"
fi
