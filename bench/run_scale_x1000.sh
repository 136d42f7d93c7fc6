#!/bin/bash
# x1000 leg (5M docs / 2M vectors): 48g heap. q45 EXCLUDED: its verify join
# (sorted gram arrays on both candidate sides) spills >40 GB at 5M docs on a
# single 32-partition box and exhausts local disk — the measured fixed-hardware
# wall for symmetric Jaccard at this scale; on a cluster the same shuffle
# distributes across executor-local disks. All other composites run.
# Usage: bash bench/run_scale_x1000.sh <label>
# Writes bench/results/<label>_scale_x1000.{json,log}.
set -u
LABEL="${1:?usage: bench/run_scale_x1000.sh <label>}"
cd "$(dirname "$0")/.."
QS="q44_dedup_exact,q46_dedup_minhash,q47_dedup_simhash,q50_embedding_neardup,q68_dedup_clusters,q69_curation,q76_incremental_dedup,q77_tfidf_topterms,q84_dedup_containment,q86_curated_decontaminated,q87_passage_dedup,q92_line_dedup,q95_semantic_dedup,q106_quality_topm,q107_soft_dedup,q112_group_topk_plan"
stem="bench/results/${LABEL}_scale_x1000"
echo "=== leg x1000 $(date +%H:%M:%S) ==="
SPARK_DRIVER_MEM=48g SPARK_GRAFT_SF_DIR=bench/data/x1000 \
  SPARK_GRAFT_RERUN_BUDGET=900 SPARK_GRAFT_QUERIES="$QS" \
  SPARK_GRAFT_BENCH_OUT="$stem.json" \
  sbt -batch "runMain graft.Bench" > "$stem.log" 2>&1
echo "=== leg x1000 done $(date +%H:%M:%S): $(head -c 200 "$stem.json")"
