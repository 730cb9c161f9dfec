#!/usr/bin/env bash
# Builds the engine (src/main) and the benchmark harness (perfbench/src)
# with the Scala compiler that ships in the Spark distribution.
# Usage: bash perfbench/build.sh [SPARK_JARS_DIR] [OUT_DIR]
set -euo pipefail
cd "$(dirname "$0")/.."
JARS="${1:-$SPARK_HOME/jars}"
OUT="${2:-perfbench/.work/build}"
SCALAC=(java -Xss8m -Xmx2g -cp "$JARS/*" scala.tools.nsc.Main -nowarn -usejavacp)
rm -rf "$OUT"
mkdir -p "$OUT/engine" "$OUT/harness"
"${SCALAC[@]}" -d "$OUT/engine" $(find src/main/scala -name '*.scala' | sort)
"${SCALAC[@]}" -classpath "$OUT/engine" -d "$OUT/harness" \
  $(find perfbench/src -name '*.scala' | sort)
