#!/bin/bash
# Repeatable sf0.1 full-registry oracle gate (round 9). The r8 seed-101
# sf0.1 gate cost ~14 CPU-hours because ~25 oracle rows are iterative /
# super-linear in DuckDB (recursive-CTE connected components, the
# pointer-doubling critical path at 806 s alone, unrolled k-means
# sweeps) — that gate caught a real bug (OTF2 ns truncation), so it must
# be cheap enough to run EVERY round. This script runs the full registry
# against the sf dir, except the measured-HEAVY rows, which run — BOTH
# engines, Spark and DuckDB alike — against a deterministic quarter
# prefix slice of the base tables (tools/make_slice.py): structurally
# identical instance, ~10x cheaper oracles, nothing skipped.
#
# Usage: tools/sf01_gate.sh [SFDIR] [OUTDIR]   (defaults: driver sf0.1)
# A SeedGen dir works too:  sbt "runMain graft.demo.SeedGen 0.1 101 /tmp/s101"
#                           tools/sf01_gate.sh /tmp/s101
set -e -o pipefail
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/gate_sf01}
SLICE=$OUT/slice
# every row whose full-sf0.1 DuckDB oracle measured >= ~15 s (round-9
# timing table, NOTES_r12) — re-derive with check_oracle.py's
# "15 heaviest" footer if the registry's cost profile shifts
HEAVY=trace_critical_path,comm_stall_chain,basket_itemsets,diverse_kcenter,semdedup_sweep,fuzzy_link,fuzzy_exact,semdedup,knn_graph_nnd,graph_pagerank,split_ngram_overlap,dedup_components_incr,split_leakage,docs_curated,dedup_rate_by_source,graph_triangles,semdedup_fixedk,split_safe,dedup_components,dedup_cluster_sizes,dedup_retained,dedup_retained_best,quality_calibration,pipeline_funnel,pack_bestfit,fuzzy_exact_day3,fuzzy_exact_incr,fuzzy_link_incr,ann_probe_sweep

mkdir -p "$OUT"
python3 tools/make_slice.py "$SF" "$SLICE" 4

# Spark dumps: everything-but-heavy on the full dir, heavy on the slice
sbt -batch "runMain graft.Verify $SF $OUT/full ^$HEAVY"
sbt -batch "runMain graft.Verify $SLICE $OUT/heavy $HEAVY"

# oracle compare (bash `time` per half: user+sys = the gate's CPU cost).
# check_oracle.py exits non-zero on any non-OK row (set -e -o pipefail
# propagates it); the full per-row logs are kept on disk and the summary
# shows counts + every non-OK row explicitly, never tail-truncated away.
export GRAFT_ORACLE_THREADS=8
fail=0
echo "[gate] full-dir oracles:"
time python3 tools/check_oracle.py "$SF" "$OUT/full" "^$HEAVY" \
  > "$OUT/oracle_full.log" 2>&1 || fail=1
grep -E "^[0-9]+/[0-9]+ OK" "$OUT/oracle_full.log"
grep -A1000 "^NON-OK ROWS:" "$OUT/oracle_full.log" || true
echo "[gate] sliced heavy oracles:"
time python3 tools/check_oracle.py "$SLICE" "$OUT/heavy" "$HEAVY" \
  > "$OUT/oracle_heavy.log" 2>&1 || fail=1
grep -E "^[0-9]+/[0-9]+ OK" "$OUT/oracle_heavy.log"
grep -A1000 "^NON-OK ROWS:" "$OUT/oracle_heavy.log" || true
if [ "$fail" -ne 0 ]; then echo "[gate] FAIL — see $OUT/oracle_*.log"; exit 1; fi
echo "[gate] PASS ($SF)"
