#!/bin/bash
# Round-18 scale campaign (VERDICT r17 asks #1/#3/#4/#8):
#
# Stage 0  Regenerate scale-data (wiped between rounds): sf1 (factor
#          10), sf10 (factor 100), sf100 (factor 1000) — deterministic
#          ScaleUp from the sf0.1 seed, byte-identical to r13+ artifacts.
# Stage 1  PARALLEL-SCALING RECORDING (ask #1): full set at sf1, 2-pass
#          min, at 32 cores and at 8 cores — same harness, only
#          $SPARK_GRAFT_CPUS differs. At sf1 real work dominates the
#          per-query floor, so heavy rows must show wall(8c) > wall(32c)
#          tracking core count (sf0.1 could not show this: min wall is
#          the fixed per-job cost at EITHER core count).
# Stage 2  sf100 knn_join_scaled adjudication (ask #3): 4-pass bench of
#          the scaled-ANN pair on COLD-rebuilt v2 disk stores, settled
#          host (the hard_negatives r16 precedent).
# Stage 3  sf100 COLD signature-store build row (ask #8): wiped dedup
#          store halves, one build+probe pass (near_dup_minhash builds
#          hr+bands+sets; then one probe pass re-times the steady read)
#          — the ingest price the steady-state probe numbers travel with.
set -e
set -o pipefail
cd /root/repo
mkdir -p tools/r18_runs

echo "== stage 0: regenerate scale-data =="
for f in 10:sf1 100:sf10 1000:sf100; do
  factor="${f%%:*}"; name="${f##*:}"
  if [ ! -d "/root/repo/scale-data/$name" ]; then
    SPARK_GRAFT_SCALE_FACTOR=$factor \
    SPARK_GRAFT_SCALE_DST=/root/repo/scale-data/$name \
      sbt -batch "runMain graft.ScaleUp" 2>&1 | tail -1
    echo "generated $name"
  fi
done

echo "== stage 1: sf1 full set, c32 vs c8 (2-pass min) =="
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf1 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r18_runs/full_sf1_c32.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r18_runs/sf1_c32_passes.txt) \
  | tail -2
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf1 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_CPUS=8 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r18_runs/full_sf1_c8.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r18_runs/sf1_c8_passes.txt) \
  | tail -2

echo "== stage 2: sf100 scaled-ANN 4-pass, cold v2 disk stores =="
rm -rf /root/repo/scale-data/stores_sf100
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=4 \
SPARK_GRAFT_BENCH_ONLY="knn_join_scaled,hard_negatives_scaled,semantic_dedup_scaled,embedding_near_dup,ann_store_replay" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100 \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r18_runs/sf100_ann.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r18_runs/sf100_ann_passes.txt) \
  | tail -2

echo "== stage 2b: sf10 pair family (2 passes, in-session stores) =="
# The near_dup_minhash decade ratio (VERDICT r17 ask #4) needs sf10 and
# sf100 numbers measured on the SAME code (r18 adds the candidate-id
# semi-join to the verification reads), same methodology as r17 stage 3.
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf10 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_ONLY="near_dup_minhash,probe_near_dups,containment_near_dup,containment_stratified,ngram_jaccard" \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r18_runs/sf10_pairs.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r18_runs/sf10_pairs_passes.txt) \
  | tail -2

echo "== stage 3: sf100 cold dedup-store build + probe =="
rm -rf /root/repo/scale-data/stores_sf100_dedup
SPARK_GRAFT_SF_DIR=/root/repo/scale-data/sf100 \
SPARK_GRAFT_BENCH_PASSES=2 \
SPARK_GRAFT_BENCH_ONLY="near_dup_minhash,probe_near_dups,ngram_jaccard,near_dup_simhash,dup_spans" \
SPARK_GRAFT_STORE_DIR=/root/repo/scale-data/stores_sf100_dedup \
SPARK_GRAFT_BENCH_FULL=/root/repo/tools/r18_runs/sf100_dedup_cold.json \
  sbt -batch "runMain graft.Bench" 2>&1 \
  | tee >(grep "bench pass" > /root/repo/tools/r18_runs/sf100_dedup_cold_passes.txt) \
  | tail -2

echo "done"
