#!/usr/bin/env bash
# Checks of the GeoNet pipeline, in two steps:
#  1. DuckDB oracle check of its two registered queries (the DataFrame
#     path): q50_quake_pipeline (parse → filter → lookups → project on the
#     fixture feed) and q51_geonet_source (the same transform fed by the
#     `geonet` DataSource V2 connector with the MMI predicate pushed into
#     the scan).
#  2. The graft.quakes specs, which hold the prepared snapshot that
#     QuakeRunner uses byte-identical to the DataFrame path.
#
# Usage: dev/verify_quakes.sh [out-dir] [sf-dir]
#   out-dir  dump directory, emptied first (default /tmp/verify_quakes_out)
#   sf-dir   test tables (default $HOME/testdata/sf0.001)
# Exits non-zero if Verify fails, a query fails, any compare is not PASS,
# or a graft.quakes spec fails.
set -euo pipefail
cd "$(dirname "$0")/.."

OUT="${1:-/tmp/verify_quakes_out}"
SF="${2:-$HOME/testdata/sf0.001}"
QUERIES=(q50_quake_pipeline q51_geonet_source)

# a stale $OUT would let compare.py grade an earlier run's dumps
rm -rf "$OUT"
echo "[quakes] running Verify for ${QUERIES[*]}..."
LOG="$(mktemp)"
if ! SPARK_GRAFT_ONLY="$(IFS=,; echo "${QUERIES[*]}")" \
    sbt -batch "runMain graft.Verify $SF $OUT" > "$LOG" 2>&1; then
  echo "[quakes] Verify FAILED. Tail of log:"
  tail -30 "$LOG"
  exit 1
fi
if grep -E "\[verify\].*failed" "$LOG"; then
  echo "[quakes] per-query failures above."
  exit 1
fi
rm -f "$LOG"

echo "[quakes] comparing against DuckDB..."
# compare.py reports but does not fail: require every query to PASS
REPORT="$(python3 dev/compare.py "$SF" "$OUT" "${QUERIES[@]}")"
echo "$REPORT"
grep -q "^${#QUERIES[@]} pass, 0 close, 0 fail" <<< "$REPORT"

echo "[quakes] running the graft.quakes specs..."
sbt -batch "testOnly graft.quakes.*"
