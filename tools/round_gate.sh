#!/bin/bash
# Standing per-round full-volume oracle gate (round 10, verdict item 3):
# run the sliced sf0.1 gate on BOTH seeds — the driver's seed-42 data and
# a SeedGen seed-101 instance the board was never tuned on (the
# configuration that caught the r8 OTF2 ns truncation) — and write a
# committed gate record.
#
# Usage: tools/round_gate.sh <round>     e.g. tools/round_gate.sh 10
# Writes gates/GATE_r<round>.md; exits nonzero if either seed fails.
set -e -o pipefail
ROUND=${1:?usage: tools/round_gate.sh <round>}
S101=${S101:-/tmp/s101}
mkdir -p gates
REC=gates/GATE_r${ROUND}.md

# The gate record binds to EXACTLY one commit (round-10 postmortem: two
# registry rows landed after the gate ran and shipped red). Refuse to
# run on a dirty tree — a PASS must be citable for `git rev-parse HEAD`
# and nothing else; later commits touching the registry must
# re-run tools/precommit_gate.sh (or this gate) before snapshot.
if [ -n "$(git status --porcelain -- src build.sbt tools)" ]; then
  echo "[round-gate] REFUSING: working tree dirty under src/tools —"
  echo "             commit first so the gate record binds to one hash"
  git status --porcelain -- src build.sbt tools | head
  exit 2
fi

if [ ! -d "$S101/documents.parquet" ]; then
  echo "[round-gate] generating seed-101 sf0.1 instance at $S101"
  sbt -batch "runMain graft.demo.SeedGen 0.1 101 $S101"
fi

run_seed() { # $1 = label, $2 = sfdir, $3 = outdir
  local t0=$(date +%s)
  if tools/sf01_gate.sh "$2" "$3" > "$3.log" 2>&1; then
    local dt=$(( $(date +%s) - t0 ))
    echo "- seed $1: **PASS** ($2, ${dt}s wall)" >> "$REC"
    grep -E "^[0-9]+/[0-9]+ OK" "$3.log" | sed 's/^/  - /' >> "$REC"
    return 0
  else
    local dt=$(( $(date +%s) - t0 ))
    echo "- seed $1: **FAIL** ($2, ${dt}s wall) — see $3.log" >> "$REC"
    grep -E "^[0-9]+/[0-9]+ OK|NON-OK" "$3.log" | sed 's/^/  - /' >> "$REC" || true
    return 1
  fi
}

cat > "$REC" <<EOF
# Full-volume oracle gate — round ${ROUND}

Full
registry at sf0.1, both engines, measured-heavy rows on the
deterministic quarter-prefix slice (tools/sf01_gate.sh; nothing
skipped). Run $(date -u +%Y-%m-%dT%H:%M:%SZ) at commit
\`$(git rev-parse HEAD)\` (clean tree — this record covers that commit
and ONLY that commit; any later change to the registry requires
a precommit_gate.sh re-run before snapshot).
EOF

fail=0
run_seed 42 /root/testdata/sf0.1 /tmp/gate_s42 || fail=1
run_seed 101 "$S101" /tmp/gate_s101 || fail=1

REG=$(python3 -c "import json; print(len(json.load(open('/tmp/gate_s42/full/oracle_sql.json'))))" 2>/dev/null || echo "?")
echo "- registry size at gate commit: $REG oracle-checked queries" >> "$REC"

cat "$REC"
exit $fail
