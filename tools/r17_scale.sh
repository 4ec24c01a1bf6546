#!/bin/bash
# Round-17 scale campaign (VERDICT r16 asks #1/#2/#3/#5):
#
# Stage 2  sf100 ANN family, 4 passes, disk stores rebuilt COLD at
#          FormatVersion 2 (coarse-built cells): pass 1 = ingest,
#          steady = min of passes 2-4. ann_store_replay is the
#          RE-SCOPED bounded-probe form (ask #2: r16 measured the
#          corpus-wide re-route at 314.6 s; expect the linear floor).
# Stage 3  sf100 pair family on the disk store (2 passes, v2 rebuild).
# Stage 4  StratProfile at sf100 over the warm stores (ask #3:
#          attribute containment_stratified's residual to a stage).
# Stage 5  ETL pipeline scale + JDBC day at sf0.1/sf1/sf10 with the
#          new DELETE/APPEND phase split (ask #5 adjudication).
# Stage 6  FULL set at sf1, 2-pass min.
# Stage 7  FULL set at sf10, 2-pass min, named skips as r16.
set -e
set -o pipefail
cd /root/repo
mkdir -p tools/r17_runs

SKIP_SF10="interval_join,knn_join,hard_negatives,semantic_dedup"

echo "== stage 2: sf100 ANN family (4 passes, COLD v2 disk stores) =="
rm -rf /root/repo/scale-data/stores_sf100
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=4 \
SPARK_GRAFT_BENCH_ONLY="knn_join_scaled,hard_negatives_scaled,semantic_dedup_scaled,embedding_near_dup,ann_store_replay" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r17_runs/sf100_ann.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r17_runs/sf100_ann_passes.txt) \
  | tail -2

echo "== stage 3: sf100 pair family on the disk store (2 passes) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_ONLY="near_dup_minhash,containment_near_dup,containment_stratified,probe_near_dups,ngram_jaccard" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r17_runs/sf100_disk.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r17_runs/sf100_disk_passes.txt) \
  | tail -2

echo "== stage 4: StratProfile sf100 (warm stores) =="
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
  sbt -batch "runMain graft.StratProfile /root/repo/scale-data/sf100" 2>&1 \
  | grep STRATPROF | tee /root/repo/tools/r17_runs/stratprof_sf100.txt

echo "== stage 5: ETL pipeline scale + JDBC phase split =="
SPARK_GRAFT_PIPE_JDBC=1 \
  sbt -batch "runMain graft.PipelineScale" 2>&1 | grep PIPESCALE \
  | tee /root/repo/tools/r17_runs/pipescale.txt

echo "== stage 6: FULL set sf1 (2 passes) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf1 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r17_runs/full_sf1.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "== stage 7: FULL set sf10 (2 passes, named skips) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf10 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_SKIP="$SKIP_SF10" \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r17_runs/full_sf10.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "done"
