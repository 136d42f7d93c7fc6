package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling for pipeline-input sanity gates: per-column non-null count,
  * exact distinct count, and min/max — the relational core of what the
  * reference does ad hoc with `cut | sort | uniq | wc -l` sweeps over its
  * AccLists and reports (`sample_counting.sh`, `run_RNApipeline…:258-265`), and
  * what any 100 TB ingest runs before training: null-rate checks, key
  * cardinality, range sanity.
  *
  * Shape: ONE aggregate job computes 4 expressions per profiled column (Spark
  * expands multi-distinct into an Expand + single shuffle), then the 1×4k row
  * is unpivoted with `stack` — still a DataFrame, no driver loop over data.
  */
object Profiler {

  /** Profile `cols` (default: every column) of `df`. Output rows:
    * (col_name, n_non_null, n_distinct, min_str, max_str), one per column;
    * min/max are rendered as strings so heterogeneous column types coexist. */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = if (cols.nonEmpty) cols else df.columns.toSeq
    require(targets.nonEmpty, "nothing to profile")
    require(targets.forall(df.columns.contains),
      s"unknown columns: ${targets.filterNot(df.columns.contains).mkString(", ")}")
    val aggs = targets.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        count_distinct(col(c)).as(s"${c}__d"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    // project to the profiled columns first: the multi-distinct Expand
    // multiplies rows 4× before the exchange
    val wide = df.select(targets.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val stackExpr =
      s"stack(${targets.size}, " +
        targets.map(c => s"'$c', `${c}__n`, `${c}__d`, `${c}__min`, `${c}__max`")
          .mkString(", ") +
        ") as (col_name, n_non_null, n_distinct, min_str, max_str)"
    wide.selectExpr(stackExpr)
  }

  /** Per-source corpus report — the curation dashboard panel: doc/token
    * counts, BPE token estimate, English-language mix, token-length extremes,
    * and an EXACT mean quality score. Output one row per `sourceCol` value:
    * (source, n_docs, n_tokens, n_bpe_tokens, n_en, min_tokens, max_tokens,
    * quality_micro_sum, mean_quality_micro).
    *
    * Quality is summed micro-quantized (`floor(q·1e6)` as LONG): double sums
    * depend on partial-aggregation order, integer sums do not — the mean is
    * bit-identical on any cluster layout (and in the DuckDB oracle). All
    * per-doc features are scan-side column expressions; the single shuffle is
    * the source-keyed aggregate, map-side combined — at 100 TB the report
    * costs one pass. */
  def corpusReport(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val q = TextFunctions.qualityScore(text)
    // every aggregate here is integer-exact by design
    docs.select(col(sourceCol), col(textCol))
      .select(col(sourceCol).as("source"),
      TextFunctions.tokenCount(text).as("_nt"),
      TextFunctions.bpeTokenCount(text).as("_nb"),
      when(TextFunctions.langIdEn(text) === "en", 1L).otherwise(0L).as("_en"),
      floor(q * lit(1000000.0)).cast("long").as("_qm"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("n_tokens"),
        sum(col("_nb")).as("n_bpe_tokens"),
        sum(col("_en")).as("n_en"),
        min(col("_nt")).as("min_tokens"),
        max(col("_nt")).as("max_tokens"),
        sum(col("_qm")).as("quality_micro_sum"))
      .withColumn("mean_quality_micro",
        col("quality_micro_sum").cast("double") / col("n_docs").cast("double"))
  }
}
