#!/usr/bin/env bash
# Oracle sweep: dumps every graft.Verify query over one test-data scale
# factor, then compares each result with its DuckDB oracle SQL in
# exact-repr mode (tools/check_oracle.py's default).
#
# Usage, from anywhere in the repository:
#   tools/oracle_sweep.sh <sf_dir> [out_dir]
#     sf_dir   a test-data directory, e.g. the sf0.01 one listed in TESTDATA.md
#     out_dir  where Verify writes its results; default a fresh temporary
#              directory, removed when the sweep passes
#
# Exits non-zero when a query fails to dump (Verify catches per-query
# exceptions and prints "[verify] <name> failed: ..." but still exits 0) or
# when any result differs from its oracle. The last line printed is
# check_oracle's "== N pass, M fail [exact-repr mode] ==" summary.
set -uo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 1 ]; then
  sed -n '2,15p' "$0" >&2
  exit 2
fi
sf=$1
out=${2:-}
tmp_out=0
if [ -z "$out" ]; then
  out=$(mktemp -d -t oracle_sweep.XXXXXX)
  tmp_out=1
fi
mkdir -p "$out"
log="$out/verify.log"

sbt -batch "runMain graft.Verify $sf $out" > "$log" 2>&1
verify_rc=$?
dump_failures=$(grep -E '\[verify\] .* failed:' "$log")
if [ $verify_rc -ne 0 ] || [ ! -f "$out/oracle_sql.json" ]; then
  echo "oracle_sweep: graft.Verify exited $verify_rc; log: $log" >&2
  tail -20 "$log" >&2
  exit 1
fi

python3 tools/check_oracle.py "$out" "$sf" > "$out/check.log" 2>&1
check_rc=$?
grep -E '^FAIL ' "$out/check.log"
if [ -n "$dump_failures" ]; then
  echo "$dump_failures"
  echo "oracle_sweep: $(echo "$dump_failures" | wc -l) queries failed to dump; log: $log"
fi
tail -1 "$out/check.log"
if [ -n "$dump_failures" ] || [ $check_rc -ne 0 ]; then
  echo "oracle_sweep: results kept in $out" >&2
  exit 1
fi
[ $tmp_out -eq 1 ] && rm -rf "$out"
exit 0
