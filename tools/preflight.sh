#!/usr/bin/env bash
# Pre-snapshot gate — the FULL local run of everything the driver gates on.
# Rounds 7 and 8 both shipped a snapshot that one local run of this script
# would have caught (r7: compile break; r8: one red test). Run it before
# EVERY end-of-round commit; a red line here is a red driver round.
#
# Usage: tools/preflight.sh [sf-dir]    (default /root/testdata/sf0.01)
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT=$(mktemp -d /tmp/preflight.XXXXXX)
fail=0

echo "== 1/4 full test suite =="
if ! sbt -batch test > "$OUT/test.log" 2>&1; then
  echo "SBT TEST RED:"; grep -E "\*\*\* FAILED|TESTS FAILED|error\]" "$OUT/test.log" | tail -20
  fail=1
else
  grep -E "Tests: succeeded" "$OUT/test.log" | tail -1
fi

echo "== 2/4 Verify (every query) at $SF =="
if ! sbt -batch "runMain graft.Verify $SF $OUT/verify" > "$OUT/verify.log" 2>&1; then
  echo "VERIFY RED:"; grep -E "\[verify\]" "$OUT/verify.log" | tail -20
  fail=1
fi

echo "== 3/4 DuckDB oracle compare =="
if ! python3 tools/check_correctness.py "$SF" "$OUT/verify" > "$OUT/oracle.log" 2>&1; then
  echo "ORACLE RED:"; grep -vE "^ok " "$OUT/oracle.log" | tail -20
  fail=1
else
  tail -1 "$OUT/oracle.log"
fi

echo "== 4/4 store benchmark smoke =="
if ! python3 perfbench/test_smoke.py > "$OUT/perfbench_smoke.log" 2>&1; then
  echo "PERFBENCH SMOKE RED:"; tail -20 "$OUT/perfbench_smoke.log"
  fail=1
else
  tail -1 "$OUT/perfbench_smoke.log"
fi

if [ "$fail" -eq 0 ]; then
  echo "PREFLIGHT GREEN ($OUT)"
else
  echo "PREFLIGHT RED — do not snapshot ($OUT)"
fi
exit $fail
