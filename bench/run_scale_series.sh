#!/bin/bash
# Data-bound scaling series: x1 (sf0.1) -> x10 -> x100 scaled corpora
# (generate the scaled ones with graft.ScaleData into bench/data/x<N>).
# Each leg is one graft.Bench run over the data-bound query list below, with a
# 600 s re-run budget; a leg whose corpus directory is missing is skipped.
# Usage: bash bench/run_scale_series.sh <label>     (e.g. r18)
# Writes bench/results/<label>_scale_<leg>.{json,log}; render the table with
# python3 tools/scale_table.py <label>.
set -u
LABEL="${1:?usage: bench/run_scale_series.sh <label>}"
cd "$(dirname "$0")/.."
# Every heavy dedup / curation / similarity composite, the exact-dedup,
# embedding, tf-idf and line-dedup representatives, and the event-time
# family's two data-bound members (q22 coverage binning, q116 windowed
# grouped top-k). It holds all three of Bench's CPU-bound contention
# sentinels (q69, q77, q87).
QS="q22_coverage_bins,q116_windowed_topk,q44_dedup_exact,q45_dedup_jaccard,q46_dedup_minhash,q47_dedup_simhash,q50_embedding_neardup,q68_dedup_clusters,q69_curation,q76_incremental_dedup,q77_tfidf_topterms,q84_dedup_containment,q86_curated_decontaminated,q87_passage_dedup,q92_line_dedup,q95_semantic_dedup,q106_quality_topm,q107_soft_dedup,q112_group_topk_plan"
# x1 runs on Bench's corpus: its default sf0.1, or SPARK_GRAFT_SF_DIR if set
for leg in "x1:" "x10:bench/data/x10" "x100:bench/data/x100"; do
  name="${leg%%:*}"; dir="${leg#*:}"; stem="bench/results/${LABEL}_scale_${name}"
  if [ -n "$dir" ] && [ ! -d "$dir" ]; then
    echo "=== leg $name skipped: no corpus at $dir"; continue
  fi
  echo "=== leg $name (${dir:-default corpus}) $(date +%H:%M:%S) ==="
  env ${dir:+SPARK_GRAFT_SF_DIR="$dir"} SPARK_GRAFT_QUERIES="$QS" \
    SPARK_GRAFT_RERUN_BUDGET=600 SPARK_GRAFT_BENCH_OUT="$stem.json" \
    sbt -batch "runMain graft.Bench" > "$stem.log" 2>&1
  echo "=== leg $name done $(date +%H:%M:%S): $(head -c 200 "$stem.json")"
done
echo "SERIES COMPLETE $(date +%H:%M:%S)"
