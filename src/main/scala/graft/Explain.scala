package graft

/** Physical-plan audit: dump `explain("formatted")` for selected queries so scan
  * pruning (`ReadSchema`/`PushedFilters`), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), partial aggregation, and WholeStageCodegen spans can be
  * reviewed. Usage: `sbt "runMain graft.Explain [sfDir] [queryName...]"`; plans
  * print in name order (`SPARK_GRAFT_CPUS` overrides local[4]). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q03_starqc_gate", "q12_bed_tpm_broadcast", "q20_matrix_pivot",
        "q22_coverage_bins", "q01_scan_project", "q45_dedup_jaccard",
        "q46_dedup_minhash", "q47_dedup_simhash", "q48_sim_bruteforce",
        "q50_embedding_neardup", "q52_embedding_neardup_lsh",
        "q53_interval_overlap", "q54_asof_join", "q64_text_bpe_tokens",
        "q65_sim_ivf_fullprobe", "q66_session_windows", "q67_profile_orders",
        "q69_curation", "q73_text_repetition", "q74_length_trim",
        "q75_stratified_sample", "q76_incremental_dedup", "q77_tfidf_topterms",
        "q79_decontamination", "q81_domain_blocklist", "q82_chunk_overlap",
        "q83_unigram_freq", "q87_passage_dedup", "q92_line_dedup",
        "q94_bm25_topk", "q95_semantic_dedup", "q96_exact_quantiles",
        "q97_bloom_semijoin", "q98_url_dedup", "q100_bpe_pairs")
    val selected = Suite.select(Some(names))
    val spark = Suite.session(4)
    selected.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
