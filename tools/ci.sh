#!/bin/bash
# CI gate: compile, unit/e2e suites, and the scaladoc build. A malformed
# doc comment fails `sbt doc`; any warning it prints (a broken, ambiguous
# or private [[link]]) fails this gate too, so the API docs stay
# publishable. The correctness drive (Verify + DuckDB oracle) is the
# driver's job; run it manually per README when touching query semantics.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch compile Test/compile
sbt -batch test
doc_log=$(sbt -batch doc 2>&1) || { echo "$doc_log"; exit 1; }
if grep -q '^\[warn\]' <<<"$doc_log"; then
  grep '^\[warn\]' <<<"$doc_log"
  echo "scaladoc printed warnings" >&2
  exit 1
fi
echo "CI OK"
