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
#
# Every run, pass or fail, leaves a receipt in tools/oracle_receipts/,
# named <UTC start>_<rev>_<sf name>.txt (plus the shell's pid when two runs
# start in the same second): the git rev (with "-dirty" when the
# tree has uncommitted changes), the sf dir, start and end time, the summary
# line, and one line per query — its compare status, or its dump failure.
set -uo pipefail
cd "$(dirname "$0")/.."
if [ $# -lt 1 ]; then
  sed -n '2,21p' "$0" >&2
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

receipts=tools/oracle_receipts
started=$(date -u +%Y-%m-%dT%H:%M:%SZ)
rev=$(git rev-parse --short=12 HEAD 2>/dev/null || echo unknown)
if [ -n "$(git status --porcelain -- . ":!$receipts" 2>/dev/null)" ]; then rev="$rev-dirty"; fi
receipt="$receipts/${started//:/}_${rev}_$(basename "$sf")"
[ -e "$receipt.txt" ] && receipt="${receipt}_$$"
receipt="$receipt.txt"

# writes the receipt; $1 = pass|fail, $2 = summary line
write_receipt() {
  mkdir -p "$receipts"
  {
    echo "rev: $rev"
    echo "sf_dir: $sf"
    echo "started: $started"
    echo "ended: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
    echo "result: $1"
    echo "summary: $2"
    echo "queries:"
    [ -f "$out/check.log" ] && grep -E '^(PASS|FAIL) ' "$out/check.log" | cut -c1-240
    [ -n "${dump_failures:-}" ] && echo "$dump_failures" | cut -c1-240
  } > "$receipt"
  echo "oracle_sweep: receipt $receipt" >&2
}

# a reused out_dir keeps an earlier run's outputs; drop the two this run
# is judged by, so neither the checks nor the receipt can read a stale one
rm -f "$out/oracle_sql.json" "$out/check.log"
sbt -batch "runMain graft.Verify $sf $out" > "$log" 2>&1
verify_rc=$?
dump_failures=$(grep -E '\[verify\] .* failed:' "$log")
if [ $verify_rc -ne 0 ] || [ ! -f "$out/oracle_sql.json" ]; then
  echo "oracle_sweep: graft.Verify exited $verify_rc; log: $log" >&2
  tail -20 "$log" >&2
  write_receipt fail "graft.Verify exited $verify_rc; no compare ran"
  exit 1
fi

python3 tools/check_oracle.py "$out" "$sf" > "$out/check.log" 2>&1
check_rc=$?
grep -E '^FAIL ' "$out/check.log"
if [ -n "$dump_failures" ]; then
  echo "$dump_failures"
  echo "oracle_sweep: $(echo "$dump_failures" | wc -l) queries failed to dump; log: $log"
fi
summary=$(grep -E '^== .* ==$' "$out/check.log" | tail -1)
tail -1 "$out/check.log"
if [ -n "$dump_failures" ] || [ $check_rc -ne 0 ]; then
  write_receipt fail "${summary:-check_oracle exited $check_rc with no summary}"
  echo "oracle_sweep: results kept in $out" >&2
  exit 1
fi
write_receipt pass "$summary"
[ $tmp_out -eq 1 ] && rm -rf "$out"
exit 0
