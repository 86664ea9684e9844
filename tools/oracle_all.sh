#!/bin/sh
# Oracle check in one command: dump every declared query with graft.Verify
# for each scale-factor dir, then value-compare each dump against DuckDB
# with tools/oracle_compare.py. Exits 1 when any SF has a mismatching or
# missing query.
#
#   tools/oracle_all.sh [sfDir...]    (default: the SF dirs TESTDATA.md lists)
#
# Run from anywhere; sbt runs in the repository root with the caller's
# environment (SBT_OPTS, SPARK_GRAFT_CPUS). The dump for <sfDir> goes to
# target/oracle/<basename of sfDir>, with its per-query oracle_status.tsv.
cd "$(dirname "$0")/.." || exit 2
[ $# -eq 0 ] && set -- $(sed -n 's/^| [0-9.]* | `\([^`]*\)`.*/\1/p' TESTDATA.md)
[ $# -eq 0 ] && { echo "oracle_all: no SF dirs given and none in TESTDATA.md" >&2; exit 2; }

runs=""
for sf in "$@"; do
  out="$PWD/target/oracle/$(basename "$sf")"
  rm -rf "$out" # a stale dump must not pass for a query that now fails
  runs="$runs|runMain graft.Verify ${sf%/} $out"
done
# one sbt session for every dump; a crashed dump leaves no oracle_sql.json,
# which its compare below reports as a failure
(IFS='|'; set -f; sbt -batch ${runs#|}) || echo "oracle_all: sbt exited non-zero" >&2

status=0
for sf in "$@"; do
  python3 tools/oracle_compare.py "${sf%/}" "$PWD/target/oracle/$(basename "$sf")" || status=1
done
exit $status
