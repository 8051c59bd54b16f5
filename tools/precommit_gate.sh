#!/bin/bash
# Cheap standing pre-commit gate (round 11, verdict item 3): any commit
# that touches the registry (src/main/scala/graft/registry, one Case per
# query with its oracle) MUST pass this first. It is the
# minutes-scale version of the full round gate — the r10 regression
# (two registry rows committed after the gates ran, one of which could
# not even execute) would have been caught here.
#
#   1. full-registry Verify + DuckDB oracle at sf0.001
#   2. graft.PlanGuardSpec (walks every registry plan)
#   3. README / OPERATORS.md query-count consistency with the registry
#
# Usage: tools/precommit_gate.sh   (from the repo root; exits non-zero
# on any failure — do not commit on red)
set -e -o pipefail
OUT=${OUT:-/tmp/precommit_gate}
SF=${SF:-/root/testdata/sf0.001}

echo "[precommit] sf0.001 full-registry verify -> $OUT"
sbt -batch "runMain graft.Verify $SF $OUT" > "$OUT.verify.log" 2>&1 \
  || { tail -20 "$OUT.verify.log"; exit 1; }
grep -c "\[verify\].*ok" "$OUT.verify.log" | sed 's/^/[precommit] queries ok: /'
if grep "\[verify\].*failed" "$OUT.verify.log"; then
  echo "[precommit] FAIL: queries threw during verify"; exit 1
fi

echo "[precommit] duckdb oracle compare"
python3 tools/check_oracle.py "$SF" "$OUT" > "$OUT.oracle.log" 2>&1 \
  || { grep -E "NON-OK|MISSING|NO_ORACLE|ERROR|SCHEMA|DTYPE|ROWS|VALUE" "$OUT.oracle.log" | head -20; exit 1; }
grep -E "^[0-9]+/[0-9]+ OK" "$OUT.oracle.log"

echo "[precommit] PlanGuardSpec"
sbt -batch "testOnly graft.PlanGuardSpec" > "$OUT.planguard.log" 2>&1 \
  || { tail -20 "$OUT.planguard.log"; exit 1; }
grep "All tests passed" "$OUT.planguard.log"

echo "[precommit] registry-count consistency"
REG=$(python3 -c "import json; print(len(json.load(open('$OUT/oracle_sql.json'))))")
for f in README.md docs/OPERATORS.md; do
  if ! grep -q "$REG" "$f"; then
    echo "[precommit] FAIL: $f does not mention the registry size ($REG)"
    echo "            run tools/gen_operators_md.py and fix README counts"
    exit 1
  fi
done
echo "[precommit] PASS (registry size $REG)"
