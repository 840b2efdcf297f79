#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main) together
# with the harness (perfbench/src/main), and the harness's self-test
# (perfbench/src/test), with the Scala compiler that ships in Spark's
# jars directory. Run from the repository root:
#
#   bash perfbench/build.sh OUT_DIR
#
# OUT_DIR/main and OUT_DIR/test receive the classes; the directory is
# replaced only when both compile.
set -euo pipefail
out=${1:?usage: build.sh OUT_DIR}
if [[ -z "${SPARK_HOME:-}" ]]; then
  submit=$(command -v spark-submit) ||
    { echo "build.sh: set SPARK_HOME or put spark-submit on PATH" >&2; exit 2; }
  SPARK_HOME=$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)
fi
jars="$SPARK_HOME/jars"
tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp/main" "$tmp/test"
scalac() { java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }
mapfile -t main_src < <(find src/main/scala perfbench/src/main/scala -name '*.scala' | sort)
mapfile -t test_src < <(find perfbench/src/test/scala -name '*.scala' | sort)
scalac -d "$tmp/main" -classpath "$jars/*" "${main_src[@]}"
cp -R src/main/resources/. "$tmp/main/"
scalac -d "$tmp/test" -classpath "$jars/*:$tmp/main" "${test_src[@]}"
rm -rf "$out"
mv "$tmp" "$out"
