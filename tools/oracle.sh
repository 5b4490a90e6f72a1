#!/usr/bin/env bash
# Oracle check for named lanes: runs graft.Verify for them at sf0.01 and
# sf0.1, then tools/check.py (the DuckDB compare) on each output.
# Exits non-zero if Verify fails, if any lane mismatches its oracle, or
# if a named lane has no oracle result at either scale.
#
# Usage: GRAFT_TESTDATA=<dir holding sf0.01/ and sf0.1/> tools/oracle.sh <lane> [lane ...]
#   GRAFT_TESTDATA   test data root (default: testdata/ in the repo)
#   GRAFT_ORACLE_OUT Verify dumps and logs (default: target/oracle)
set -uo pipefail
if [ $# -eq 0 ]; then
  echo "usage: $0 <lane> [lane ...]" >&2
  exit 2
fi
cd "$(dirname "$0")/.." || exit 2
data="${GRAFT_TESTDATA:-testdata}"
out="${GRAFT_ORACLE_OUT:-target/oracle}"
mkdir -p "$out"
rc=0
for sf in sf0.01 sf0.1; do
  if [ ! -d "$data/$sf" ]; then
    echo "no test data at $data/$sf (set GRAFT_TESTDATA)" >&2
    exit 2
  fi
  rm -rf "${out:?}/$sf"
  if ! sbt -batch "runMain graft.Verify $data/$sf $out/$sf $*" > "$out/$sf.log" 2>&1; then
    echo "FAIL Verify at $sf (log: $out/$sf.log)"
    rc=1
    continue
  fi
  grep '\[verify\]' "$out/$sf.log"
  python3 tools/check.py "$data/$sf" "$out/$sf" "$@" | sed "s/^/$sf /" | tee "$out/$sf.check"
  for lane in "$@"; do
    if ! grep -q "^$sf pass $lane " "$out/$sf.check"; then
      grep -q "^$sf FAIL $lane" "$out/$sf.check" || echo "$sf FAIL $lane: no oracle result"
      rc=1
    fi
  done
done
[ "$rc" -eq 0 ] && echo "== all $# lanes match at sf0.01 and sf0.1 ==" || echo "== oracle mismatch ==" >&2
exit "$rc"
