#!/bin/bash
# Cold-vs-cold A/B of kCoreRun's removed-set broadcast bound (r14 verdict
# task #2). The r14 sf100 probe raised the bound 1M -> 8M rows on correct
# bytes-reasoning but measured it warm-vs-cold (inconclusive). This runs
# TWO clones of the CURRENT tree differing ONLY in that constant
# (exp_kcore_1m patches bcastLimit to the old 1M), alternated on the same
# box, page cache dropped before every invocation so both sides read the
# persisted kcore_pairs_x10 parquet from the same (cold) state; the
# in-run edges.count() then warms it identically for both, so the timed
# peel is equally-warm on both sides -- the "both warm, interleaved"
# protocol the verdict asked for.
#
# Usage: tools/kcore_bound_ab.sh [rounds=2]
set -euo pipefail
ROUNDS=${1:-2}
BASE=/root/repo/data_sf10
WORK=/root/repo/graph_sf100
REPO=$(cd "$(dirname "$0")/.." && pwd)
# JVM heap: half of MemTotal, clamped to [2g, 8g]
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo)
for i in $(seq 1 "$ROUNDS"); do
  for tree in exp_kcore_1m exp_kcore_8m; do
    sync; echo 3 > /proc/sys/vm/drop_caches
    echo "== round $i $tree =="
    (cd "$REPO/$tree" && SPARK_GRAFT_CPUS="$(nproc)" SPARK_DRIVER_MEM="$HEAP" \
      sbt -batch "runMain graft.GraphScale $BASE 10 $WORK kcore" 2>&1 \
      | grep GRAPHSCALE | tee "/tmp/kcore_ab_${tree}_r${i}.log")
  done
done
echo "== summary =="
grep -H "wall=" /tmp/kcore_ab_exp_kcore_*_r*.log
