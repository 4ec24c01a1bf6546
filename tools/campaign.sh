#!/bin/bash
# One recorded bench run: tools/campaign.sh <data> <out>
#
#   <data>  an sf directory. A missing scale-data/sfN (N = 1, 10, 100, …)
#           is generated first with graft.ScaleUp from the sf0.1 seed at
#           factor 10·N, deterministically.
#   <out>   output prefix: <out>.json is Bench's full per-query map
#           (BENCH_FULL form), <out>_passes.txt its per-sample stderr
#           lines (`bench pass P Q wall task=… jobs=… stages=… tasks=…`).
#
# Every other knob is the caller's SPARK_GRAFT_* environment, passed to
# graft.Bench unchanged: SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_PASSES,
# SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_BENCH_SKIP, SPARK_GRAFT_STORE_DIR.
# Examples (the shapes the r13–r18 and v11–v13 campaigns ran):
#
#   # parallel scaling: the full set at sf1, 2-pass min, 8 vs 32 cores
#   for c in 8 32; do SPARK_GRAFT_CPUS=$c SPARK_GRAFT_BENCH_PASSES=2 \
#     tools/campaign.sh scale-data/sf1 tools/runs/sf1_c$c; done
#   # a query family at sf100 on at-rest stores
#   SPARK_GRAFT_BENCH_ONLY=knn_join_scaled,hard_negatives_scaled \
#   SPARK_GRAFT_STORE_DIR=scale-data/stores_sf100 \
#     tools/campaign.sh scale-data/sf100 tools/runs/sf100_ann
#   # spaced baseline recording: repeat with sleeps between fresh JVMs
#   for i in 1 2 3; do tools/campaign.sh <sf0.1 dir> tools/runs/base$i; sleep 75; done
#
# Compare recordings with tools/bench_table.py.
set -e
set -o pipefail
[ $# -eq 2 ] || { echo "usage: $0 <data> <out>" >&2; exit 2; }
cd "$(dirname "$0")/.."
data="$(realpath -m "$1")"
out="$(realpath -m "$2")"
mkdir -p "$(dirname "$out")"

if [ ! -d "$data" ]; then
  n="$(basename "$data")"; n="${n#sf}"
  [[ "$(basename "$(dirname "$data")")" == scale-data && "$n" =~ ^[0-9]+$ ]] ||
    { echo "no such data directory: $data" >&2; exit 2; }
  SPARK_GRAFT_SCALE_FACTOR=$((n * 10)) SPARK_GRAFT_SCALE_DST="$data" \
    sbt -batch "runMain graft.ScaleUp" 2>&1 | tail -1
fi

SPARK_GRAFT_SF_DIR="$data" SPARK_GRAFT_BENCH_FULL="$out.json" \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep -o "bench pass .*" > "${out}_passes.txt") \
  | grep '"metric"'
