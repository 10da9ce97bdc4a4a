#!/bin/bash
# Watermark-calibration scale validation (VERDICT r8 item 7, made
# repeatable): build a k× events carve the driver never ships, run the
# eight watermark-calibrated streaming queries against it, and compare
# bit-exactly with the DuckDB oracle. Any change to the calibration
# constants (two-batch commit lag, outer-join flush gates, restart
# restore, chained-agg propagation) must re-run this BEFORE shipping:
#
#   tools/validate_carve.sh                 # defaults: sf0.1 x3 -> /tmp/graft_sf03
#   tools/validate_carve.sh sf0.01 5 /tmp/c # custom source/scale/dir
#   tools/validate_carve.sh sf0.1 3 /tmp/graft_skew skew
#       # skew mode (VERDICT r9 item 4): one hot key carries ~20% of
#       # rows on events.user_id and lineitem.l_suppkey; runs the
#       # join/window-heavy families against the DuckDB oracle on the
#       # skewed carve, then `graft.tools.Run skew` for measured AQE
#       # skew-split evidence.
#
# Record the green run in PLANS.md per round workflow. Requires
# /tmp/cp.txt (see tools/run.sh header).
set -e
cd "$(dirname "$0")/.."

SRC=${1:-sf0.1}
K=${2:-3}
OUT=${3:-/tmp/graft_sf03}
MODE=${4:-watermark}

if [ "$MODE" = "skew" ]; then
  QUERIES="q05_join_agg,q12_star_join,q39_sessionize,q42_stream_join,q92_zorder_layout,q120_session_window,q147_band_join,q170_rfm,q194_stream_join_disorder,q206_join_then_window,q223_top_supplier"
  SKEWARGS="--skew 0.2"
else
  QUERIES="q107_append_window,q174_watermark_replay,q194_stream_join_disorder,q195_stream_outer_disorder,q199_stream_full_outer_disorder,q205_restart_replay,q206_join_then_window,q225_window_rollup,q415_connector_append_window"
  SKEWARGS=""
fi

rm -rf "$OUT" /tmp/graft_carve_verify
python3 tools/make_carve.py "/root/testdata/$SRC" "$K" "$OUT" $SKEWARGS
tools/run.sh graft.Verify "$OUT" /tmp/graft_carve_verify "$QUERIES"
python3 tools/check.py "$OUT" /tmp/graft_carve_verify
if [ "$MODE" = "skew" ]; then
  tools/run.sh graft.tools.Run skew "$OUT"
fi
