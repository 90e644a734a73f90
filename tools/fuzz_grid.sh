#!/usr/bin/env bash
# Dev-only pre-driver fuzz GRID over the data regimes one seed can't
# reach: zipf exponent x mega-hub fraction x value-domain scale, run
# against the width/tie-fragile query family (iterative graph chains,
# Gini, Bradley-Terry) plus anything passed as $1 (extra CSV names).
#
# Usage: tools/fuzz_grid.sh [extra-query-csv]
#   FULL=1 tools/fuzz_grid.sh   additionally runs the ENTIRE registry
#   against the harshest cell (zipf 2.2, hub-mult 4, value-scale 1e6)
#   — the gate that caught the r12 q160/q164/q23/q41 width+format
#   fragilities the 9-query family missed.
set -euo pipefail
cd "$(dirname "$0")/.."
QS="q94_pagerank,q118_pagerank_directed,q195_ppr,q204_hits,q208_betweenness,q213_scc_full,q233_bradley_terry,q245_gini_concentration,q254_adamic_adar${1:+,$1}"
fail=0
# The FULL=1 block reads the harshest cell's data dir; derive it from
# the same tag format the grid loop uses (and regenerate explicitly if
# the loop didn't produce it) instead of hardcoding the path.
HARSH_ZIPF=2.2; HARSH_HUB=4; HARSH_VS=1000000
HARSH_TAG="z${HARSH_ZIPF}_h${HARSH_HUB}_v${HARSH_VS}"
for zipf in 1.2 2.2; do
  for hub in 1 4; do
    for vs in 1 1000000; do
      tag="z${zipf}_h${hub}_v${vs}"
      DATA="/tmp/fuzzgrid_${tag}"
      OUT="/tmp/fuzzgridv_${tag}"
      rm -rf "$DATA" "$OUT"
      python3 tools/regen_testdata.py --seed 61 --sf 0.01 --out "$DATA" \
        --zipf "$zipf" --hub-mult "$hub" --value-scale "$vs" >/dev/null
      tools/run_main.sh graft.Verify "$DATA" "$OUT" "$QS" \
        2>/dev/null | grep -E "\[verify\].*failed" || true
      if python3 tools/check.py "$DATA" "$OUT" | tail -1 \
          | grep -q " 0 fail"; then
        echo "GRID $tag: PASS"
      else
        echo "GRID $tag: FAIL"; fail=1
        python3 tools/check.py "$DATA" "$OUT" | grep FAIL || true
      fi
    done
  done
done
if [ "${FULL:-0}" = "1" ]; then
  DATA="/tmp/fuzzgrid_${HARSH_TAG}"
  OUT="/tmp/fuzzgridv_full"
  rm -rf "$OUT"
  if [ ! -d "$DATA" ]; then
    python3 tools/regen_testdata.py --seed 61 --sf 0.01 --out "$DATA" \
      --zipf "$HARSH_ZIPF" --hub-mult "$HARSH_HUB" \
      --value-scale "$HARSH_VS" >/dev/null
  fi
  tools/run_main.sh graft.Verify "$DATA" "$OUT" >/dev/null 2>&1 || true
  if python3 tools/check.py "$DATA" "$OUT" | tail -1 \
      | grep -q " 0 fail"; then
    echo "GRID full-registry harshest cell: PASS"
  else
    echo "GRID full-registry harshest cell: FAIL"; fail=1
    python3 tools/check.py "$DATA" "$OUT" | grep FAIL || true
  fi
fi
exit $fail
