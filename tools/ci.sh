#!/bin/bash
# CI gate: the rename allowlist, the lock gate, the manifest-root gate, the
# catalog gate, the session gate, compile, unit/e2e suites, the benchmark's
# own build, the idle-job and steady-drain job gates, the ETL oracle and the
# scaladoc build. The ETL oracle runs the 8 q_etl_* queries (every write path
# of the backup loop) through Verify at sf0.001 and checks them against
# DuckDB; without the testdata it is skipped, and says so. A malformed doc
# comment fails `sbt doc`; any warning it prints (a broken, ambiguous or
# private [[link]]) fails this gate too, so the API docs stay publishable.
# The full correctness drive (all queries through Verify + DuckDB) is run
# manually per README when touching query semantics.
set -euo pipefail
cd "$(dirname "$0")/.."
# Rename gate: a rename under src/main publishes something, and only the
# files below may do it, each for the one reason given. A new in-place
# rewrite goes through Compaction.swapIn; a new metadata store through
# AtomicLog.
declare -A rename_ok=(
  [AtomicLog.scala]="entry publish"
  [Compaction.scala]="in-place swap"
  [IngestLog.scala]="multi-writer claim publish"
  [IncrementalBackup.scala]="month publish"
  [Sources.scala]="raw-FS task commit"
)
rename_bad=$({ grep -rlE '\.rename\(|renameOrThrow\(' src/main || true; } |
  while read -r f; do [[ -n "${rename_ok[$(basename "$f")]:-}" ]] || echo "$f"; done)
if [[ -n "$rename_bad" ]]; then
  echo "rename outside the allowlist (use AtomicLog or Compaction.swapIn):" >&2
  echo "$rename_bad" >&2
  exit 1
fi
# Lock gate: a table has one lock, the drain lock that IncrementalBackup
# takes in every writer of the table; a lock file taken anywhere else would
# be a second guard on the same writers.
lock_bad=$({ grep -rlE 'new ([[:alnum:]_]+\.)*JobLock\(' src/main || true; } |
  { grep -v '/IncrementalBackup\.scala$' || true; })
if [[ -n "$lock_bad" ]]; then
  echo "JobLock constructed outside IncrementalBackup (a table has one lock, its drain lock):" >&2
  echo "$lock_bad" >&2
  exit 1
fi
# Root gate: a ManifestLog instance reads its directory through ONE
# AtomicLog.list and carries that listing forward itself; a direct listing
# or stat of the root would be a metadata op on every call.
if grep -nE 'listStatus\(root|exists\(root' src/main/scala/graft/sources/ManifestLog.scala; then
  echo "ManifestLog lists or stats its root directly (read it through AtomicLog.list)" >&2
  exit 1
fi
# Catalog gate: a query is one QuerySpec next to its body in a family
# object under graft/catalog/; QueryCatalog only concatenates the families'
# specs. A query body (`: Q =`) or a `"q_…" ->` map entry in it would grow
# the monolith back.
if grep -nE ': Q =|"q[0-9a-z_]*" *->' src/main/scala/graft/QueryCatalog.scala; then
  echo "QueryCatalog.scala defines a query (declare it as a QuerySpec in its family under graft/catalog/)" >&2
  exit 1
fi
# Session gate: library code never writes the caller's SparkSession. A
# setting is made once at session build (GraftSession), or in an isolated
# clone of the caller's session (IsolatedSession); only the files below may
# set a session conf or touch its experimental rules, each for the one
# reason given.
declare -A session_ok=(
  [GraftSession.scala]="the session builder"
  [IsolatedSession.scala]="the isolation helper"
  [CatalogCommon.scala]="streaming drains: settings read at stream start, listeners per session"
)
session_bad=$({ grep -rlE 'conf\.(set|unset)\(|experimental\.' src/main || true; } |
  while read -r f; do [[ -n "${session_ok[$(basename "$f")]:-}" ]] || echo "$f"; done)
if [[ -n "$session_bad" ]]; then
  echo "session conf or experimental rule written outside the allowlist (build it into GraftSession or plan in an IsolatedSession):" >&2
  echo "$session_bad" >&2
  exit 1
fi
sbt -batch compile Test/compile
sbt -batch test
# Benchmark build: perfbench compiles src/main with the Spark install's own
# Scala compiler, not sbt, then self-tests its filesystem op counter; a
# change that compiles under sbt only fails here, not at the next benchmark
# run. Idle-job gate: one traced backfill, whose idle re-runs (EtlMain over
# an up-to-date backup) must run 0 Spark jobs. Steady-drain gate: one traced
# steady pass, whose lake drains through EtlRunner must run 0 Spark jobs
# when idle, 1 when a month landed and at most 6 when due. All are skipped,
# and say so, without such an install.
if python3 -c 'import sys; sys.path.insert(0, "perfbench"); import build; build.spark_jars()' \
    >/dev/null 2>&1; then
  python3 perfbench/tests/test_fs_counter.py
  python3 perfbench/run.py --workload backfill --seed 901 --seconds 1 --trace 1 >/dev/null
  python3 tools/drain_map.py .bench_work/results/backfill-s901.trace.jsonl --max-jobs idle=0
  python3 perfbench/run.py --workload steady --seed 901 --seconds 1 --trace 1 >/dev/null
  python3 tools/drain_map.py .bench_work/results/steady-s901.trace.jsonl \
    --max-jobs idle=0 --max-jobs copy=1 --max-jobs due=6
else
  echo "perfbench build check, idle-job and steady-drain gates skipped: no Spark installation with the Scala compiler jars"
fi
etl_sf="$HOME/testdata/sf0.001"
if [[ -d "$etl_sf" ]]; then
  # the queries' temp dirs (backups, lakes, manifests) go under $etl_out
  # too, and leave with it, whether the run passes or fails
  etl_out=$(mktemp -d)
  trap 'rm -rf "$etl_out"' EXIT
  mkdir "$etl_out/tmp"
  JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$etl_out/tmp" \
    tools/jrun.sh graft.Verify "$etl_sf" "$etl_out/out" q_etl_backup q_etl_bulk \
    q_etl_pruned q_etl_conc q_etl_incr q_etl_incr_part q_etl_journal q_etl_skip
  python3 tools/oracle_check.py "$etl_sf" "$etl_out/out"
else
  echo "ETL oracle skipped: no testdata at $etl_sf"
fi
doc_log=$(sbt -batch doc 2>&1) || { echo "$doc_log"; exit 1; }
if grep -q '^\[warn\]' <<<"$doc_log"; then
  grep '^\[warn\]' <<<"$doc_log"
  echo "scaladoc printed warnings" >&2
  exit 1
fi
echo "CI OK"
