package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** STARQC — STAR `Log.final.out` summarization with PASS/FAIL gating.
  *
  * Re-expresses `pSTARQC_v1.sh:49-99`:
  *   - per sample, extract `Number of input reads` and the three
  *     `Number of reads unmapped: *` counters (first match wins — awk `exit`),
  *   - `unmapped_total = mm + short + other` (missing counters count as 0, awk
  *     empty-string arithmetic),
  *   - `Unmapped_Rate = round((total/input)*100, 2)` — the PASS gate compares the
  *     *rounded* value (`pSTARQC_v1.sh:91-94` formats with `%.2f` before `p<50.0`),
  *   - `Status`: NO_LOG (no log lines for the sample), INVALID_LOG (input reads
  *     missing/non-numeric/zero), else PASS iff rate < 50.0.
  *
  * Scale: one log is ~30 lines and one output row per sample — the pivot groups by
  * sample with map-side partial aggregation; no wide shuffle at any sample count.
  */
object StarQc {

  val KeyInput = "Number of input reads"
  val KeyUnmMm = "Number of reads unmapped: too many mismatches"
  val KeyUnmShort = "Number of reads unmapped: too short"
  val KeyUnmOther = "Number of reads unmapped: other"

  /** One row per log-bearing sample: (sample_id, input_reads, unaligned_reads, rate).
    * Groups over ALL kv lines (not just the four counters) so that a log that exists
    * but lacks `Number of input reads` is distinguishable from a missing log —
    * the reference emits INVALID_LOG for the former (`pSTARQC_v1.sh:85-88`) and
    * NO_LOG only for an absent file (`:73-74`). */
  private def perSample(logKv: DataFrame): DataFrame = {
    // awk's first-match-wins is FILE-ORDER-first: anchor on the reader's
    // `_line_order` (min_by), not Spark's partition-order-dependent first() —
    // duplicate key lines (overlapping globs, repeated entries) stay deterministic.
    def keyVal(k: String) =
      min_by(when(col("key") === k, col("value")), when(col("key") === k, col("_line_order")))
    val wide = logKv
      .groupBy("sample_id")
      .agg(
        keyVal(KeyInput).as("input_raw"),
        keyVal(KeyUnmMm).cast(LongType).as("unm_mm"),
        keyVal(KeyUnmShort).cast(LongType).as("unm_short"),
        keyVal(KeyUnmOther).cast(LongType).as("unm_other"))

    val input = col("input_raw").cast(LongType)
    val unmapped = coalesce(col("unm_mm"), lit(0L)) +
      coalesce(col("unm_short"), lit(0L)) + coalesce(col("unm_other"), lit(0L))

    wide.select(
      col("sample_id"),
      input.as("input_reads"),
      when(validInput(input), unmapped).as("unaligned_reads"),
      when(validInput(input),
        round(unmapped.cast("double") / input.cast("double") * 100.0, 2))
        .as("Unmapped_Rate"))
  }

  private def validInput(input: Column): Column = input.isNotNull && input =!= 0L

  /** Full report over `samples` (one `SampleID` per deduped AccList row — samples
    * without any parsed log get a NO_LOG row, `pSTARQC_v1.sh:73-74`).
    *
    * @param logKv (sample_id, key, value, _line_order) from [[graft.io.TsvSources.readStarLogs]]
    * @param samples one column `SampleID`
    */
  def summarize(logKv: DataFrame, samples: DataFrame): DataFrame = {
    val per = perSample(logKv).withColumn("_has_log", lit(true))
    samples
      .join(per, samples("SampleID") === per("sample_id"), "left")
      .select(
        col("SampleID"),
        col("input_reads"),
        col("unaligned_reads"),
        col("Unmapped_Rate"),
        when(col("_has_log").isNull, "NO_LOG")
          .when(!validInput(col("input_reads")), "INVALID_LOG")
          .when(col("Unmapped_Rate") < 50.0, "PASS")
          .otherwise("FAIL")
          .as("Status"))
  }

  /** Text-contract view of [[summarize]]: `Unmapped_Rate` rendered `%.2f`
    * (`pSTARQC_v1.sh:91` printf) for the TSV report sink; numerics stay typed in
    * the analytic frame. */
  def reportView(summary: DataFrame): DataFrame =
    summary.withColumn("Unmapped_Rate",
      when(col("Unmapped_Rate").isNotNull, format_string("%.2f", col("Unmapped_Rate"))))

  /** J1 — PASS semi-join: AccList rows whose sample passed the gate
    * (`run_RNApipeline_pairedG8_diskGuard.bash:429-431`, awk NR==FNR idiom).
    * Left-semi keeps AccList columns untouched and lets Spark broadcast the
    * (small) PASS set. */
  def passFilter(accList: DataFrame, starQc: DataFrame): DataFrame =
    accList.join(
      broadcast(starQc.filter(col("Status") === "PASS")
        .select(col("SampleID").as("geo_accession"))),
      Seq("geo_accession"), "left_semi")
}
