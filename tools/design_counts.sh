#!/usr/bin/env bash
# Prints the design-size counts ROADMAP aim 2 tracks, for the tree under
# the given directory (default: the repository this script lives in):
#   - raw and code lines (non-blank, not a comment line) under src/main
#   - SparkSession.builder sites under src/main and under src/test
#   - `def main(` entry points, and the objects that declare them
#   - commit*/reconcile*/rewrite entry points of IndexManifest (public
#     or package-private)
#   - `.foreachBatch` call sites in the index ingest gates (IndexStreams)
#   - time-travel serve twins (`def <name>ServeAt`) under graft/data
# Usage: tools/design_counts.sh [repo-dir]
set -euo pipefail
root="${1:-$(cd "$(dirname "$0")/.." && pwd)}"
main="$root/src/main"
test="$root/src/test"
manifest="$main/scala/graft/data/IndexManifest.scala"
gates="$main/scala/graft/streaming/IndexStreams.scala"

code_lines() {
  # a comment line starts (after indentation) with //, /*, * or */
  grep -hv -E '^[[:space:]]*($|//|/\*|\*)' "$@" | wc -l
}

files=$(find "$main" -name '*.scala' | sort)
printf 'src_main_raw_lines          %s\n' "$(cat $files | wc -l)"
printf 'src_main_code_lines         %s\n' "$(code_lines $files)"
tests=$(find "$test" -name '*.scala' | sort)
printf 'spark_session_builder_sites %s\n' "$(cat $files | grep -c 'SparkSession.builder' || true)"
printf 'test_session_builder_sites  %s\n' "$(cat $tests | grep -c 'SparkSession.builder' || true)"
printf 'def_main_sites              %s\n' "$(cat $files | grep -c 'def main(' || true)"
# the object each `def main(` belongs to: the last `object` line above it
awk '/^object [A-Za-z0-9_]+/ { o = $2 } /def main\(/ { print "  " o }' $files
printf 'index_manifest_raw_lines    %s\n' "$(wc -l < "$manifest")"
printf 'index_manifest_code_lines   %s\n' "$(code_lines "$manifest")"
entry='^  (private\[graft\] )?def (commit|reconcile|rewrite)[A-Za-z]*'
printf 'index_manifest_entry_points %s\n' "$(grep -cE "$entry" "$manifest" || true)"
grep -oE "$entry" "$manifest" | sed -E 's/^ +(private\[graft\] )?def /  /'
printf 'index_gate_foreachbatch_sites %s\n' \
  "$(grep -cE '^[[:space:]]*\.foreachBatch' "$gates" || true)"
printf 'serve_at_twins              %s\n' \
  "$(cat "$main"/scala/graft/data/*.scala | grep -cE 'def [A-Za-z0-9_]+ServeAt' || true)"
