#!/usr/bin/env bash
# Checks of the GeoNet pipeline, in two steps:
#  1. DuckDB oracle check of its two registered queries, which run
#     QuakePipeline.transform as a DataFrame query: q50_quake_pipeline
#     (parse → filter → lookups → project on the fixture feed) and
#     q51_geonet_source (the same transform fed by the `geonet` DataSource
#     V2 connector with the MMI predicate pushed into the scan).
#  2. The specs of the snapshot path: the graft.quakes specs, which hold
#     the prepared snapshot (the one snapshot path, used by QuakeRunner and
#     the streaming sink) byte-identical to a `to_json(collect_list(...))`
#     oracle over transform; GeoNetSourceSpec, which holds the `geonet`
#     source's flat rows (read with the snapshot's feed parser) equal to
#     the JSON reader's on odd and null fields; HttpTransportSpec, which
#     runs QuakeRunner's full control loop (fetch, snapshot, submit, and
#     its failure and invalid-config paths) and the source's live `?MMI=`
#     GET through the transport seam; JsToFixedSpec, which holds the
#     snapshot's number rendering to node's own `toFixed`; and
#     QuakeStreamSpec and GeoNetStreamingSpec, which run the snapshot from landed files and
#     `geonet` fetches with the sink's per-batch clock and expiry contract.
#
# Usage: dev/verify_quakes.sh [out-dir] [sf-dir]
#   out-dir  dump directory, emptied first (default /tmp/verify_quakes_out)
#   sf-dir   test tables (default $HOME/testdata/sf0.001)
# Exits non-zero if Verify fails, a query fails, any compare is not PASS,
# or one of those specs fails.
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
# compare.py exits non-zero unless every named query has an oracle and PASSes
python3 dev/compare.py "$SF" "$OUT" "${QUERIES[@]}"

echo "[quakes] running the snapshot specs..."
sbt -batch "testOnly graft.quakes.* graft.functions.JsToFixedSpec graft.sources.GeoNetSourceSpec graft.sources.HttpTransportSpec graft.streaming.QuakeStreamSpec graft.streaming.GeoNetStreamingSpec"
