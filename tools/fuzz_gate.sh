#!/usr/bin/env bash
# Dev-only seed-fuzz correctness gate (mirrors the driver's regen+verify).
#
# Regenerates a fresh-seed structurally-equivalent dataset, runs the FULL
# Verify dump against it, then check.py (DuckDB oracle compare) on the same
# dir. A query that passes the committed /root/testdata but is
# data-dependently fragile (integer width, tie order) fails HERE instead of
# in the driver's CORRECTNESS_r{N}.json.
#
# Usage: tools/fuzz_gate.sh [seed] [sf] [query-prefix-subset]
set -euo pipefail
cd "$(dirname "$0")/.."
SEED="${1:-7}"
SF="${2:-0.01}"
SUBSET="${3:-}"
DATA="/tmp/fuzzdata_s${SEED}_sf${SF}"
OUT="/tmp/fuzzverify_s${SEED}_sf${SF}"
rm -rf "$DATA" "$OUT"
python3 tools/regen_testdata.py --seed "$SEED" --sf "$SF" --out "$DATA"
if [ -n "$SUBSET" ]; then
  sbt -batch "runMain graft.Verify $DATA $OUT $SUBSET"
else
  sbt -batch "runMain graft.Verify $DATA $OUT"
fi
python3 tools/check.py "$DATA" "$OUT"
# Plan-drift leg (full runs only): fingerprints are pinned to the
# committed sf0.001 data, so this runs alongside — NOT against — the
# fuzz data. See tools/plan_gate.sh; tools/fuzz_grid.sh covers the
# zipf/hub/value-extreme regimes.
if [ -z "$SUBSET" ]; then tools/plan_gate.sh; fi
