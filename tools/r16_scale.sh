#!/bin/bash
# Round-16 scale campaign (VERDICT r15 asks #1/#3/#4/#5/#6):
#
# Stage 1  FULL set at sf1, 2-pass min — interval_topk now on the MERGE
#          form (no pair stage; r15's heap-join form measured 113 s
#          here, the row_number form 182 s).
# Stage 2  FULL set at sf10, 2-pass min. interval_topk LEAVES the skip
#          list (ask #3: the merge form is density-independent);
#          remaining skips are the pinned small-corpus fixtures whose
#          scaled twins run in-set, plus interval_join (its OUTPUT is
#          density-quadratic — interval_count/interval_topk are its
#          linear twins).
# Stage 3  ETL pipeline scale + ONE sf10 calendar day through the JDBC
#          (Derby) DELETE+COPY sink — unblocked by the r16 NULL-string
#          dialect fix (ask #1 follow-through; the r15 hook never
#          produced a row because the sink crashed on real data).
# Stage 4  sf100 pair family on the disk-resident store (r15-resolution
#          protocol: warm at-rest stores, steady = pass 2).
# Stage 5  sf100 ANN family, FOUR passes (ask #5: adjudicate
#          hard_negatives_scaled's 18.8x/decade as noise or plan — the
#          r15 recording was 2-pass with spread 69.9/75.4).
set -e
set -o pipefail
cd /root/repo
mkdir -p tools/r16_runs

SKIP_SF10="interval_join,knn_join,hard_negatives,semantic_dedup"

echo "== stage 1: FULL set sf1 (2 passes) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf1 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r16_runs/full_sf1.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "== stage 2: FULL set sf10 (2 passes, named skips) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf10 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_SKIP="$SKIP_SF10" \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r16_runs/full_sf10.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "== stage 3: ETL pipeline scale + sf10 JDBC day =="
SPARK_GRAFT_PIPE_JDBC=1 \
  sbt -batch "runMain graft.PipelineScale" 2>&1 | grep PIPESCALE \
  | tee /root/repo/tools/r16_runs/pipescale.txt

echo "== stage 4: sf100 pair family on the disk store (2 passes) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_ONLY="near_dup_minhash,containment_near_dup,containment_stratified,probe_near_dups,ngram_jaccard" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r16_runs/sf100_disk.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "== stage 5: sf100 ANN family (4 passes, disk stores) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=4 \
SPARK_GRAFT_BENCH_ONLY="knn_join_scaled,hard_negatives_scaled,semantic_dedup_scaled,embedding_near_dup,ann_store_replay" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r16_runs/sf100_ann.json \
  sbt -batch "runMain graft.Bench" 2>&1 | tail -2

echo "done"
