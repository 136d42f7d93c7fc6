package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expression-matrix pivot — the reference's core aggregation (A7 + J6 checks).
  *
  * Re-expresses `dependencies/rsem-generate-data-matrix:28-89` (invoked 4× by
  * `RSEMmatrix_v5.sh:101-113` for genes/transcripts × TPM/counts):
  *   - gather one value column from N per-sample result sets into a
  *     features × samples wide matrix,
  *   - column order = argv order (NOT sorted) — callers pass `sources` explicitly,
  *   - id column is emitted as `Symbol` (`rsem-generate-data-matrix:84`),
  *   - input consistency: every source must contribute the *same feature-id set with
  *     the same cardinality* ("Number of lines among samples are not equal!",
  *     `rsem-generate-data-matrix:66-69`). The reference checks ids positionally;
  *     a keyed pivot makes the positional check equivalent to set-equality, which is
  *     what [[consistencyViolations]] verifies distributively.
  *
  * Scale: the long format (feature, sample, value) is the primary representation —
  * pivot LATE and only for report-shaped output (SURVEY §7.4-6). The pivot itself is
  * a single hash aggregation over `n_features` groups with map-side partial
  * aggregation; with an explicit `sources` list no collect-distinct job runs.
  */
object MatrixBuilder {

  /** Feature ids whose per-source row count differs from `expectedSources` — empty
    * iff all sources share one identical id set (the J6 abort condition). */
  def consistencyViolations(long: DataFrame, idCol: String, sourceCol: String,
                            expectedSources: Int): DataFrame =
    long.groupBy(col(idCol)).agg(count(lit(1)).as("n_sources"))
      .filter(col("n_sources") =!= expectedSources.toLong)

  /** Pivot `long` (idCol, sourceCol, valueCol) into a wide matrix.
    *
    * @param sources explicit pivot columns in output order (argv-order contract)
    * @param check   when true, abort like the reference on inconsistent id sets
    */
  def pivotMatrix(long: DataFrame, idCol: String, sourceCol: String, valueCol: String,
                  sources: Seq[String], idHeader: String = "Symbol",
                  check: Boolean = true): DataFrame = {
    require(sources.nonEmpty, "Nothing is detected! (no sources)") // :39-42
    if (check) {
      // collected, not limit(1).count(): a limit adds a single-partition exchange and
      // a job, while a consistent input (the normal case) collects no rows at all
      val bad = consistencyViolations(long, idCol, sourceCol, sources.size)
        .select(col(idCol).cast("string")).collect().map(r => String.valueOf(r.getString(0)))
      require(bad.isEmpty, "Number of lines among samples are not equal! " + // :66-69
        s"(${bad.length} inconsistent feature ids, first: ${bad.sorted.take(5).mkString(", ")})")
    }
    long.groupBy(col(idCol).as(idHeader))
      .pivot(sourceCol, sources)
      .agg(first(col(valueCol), ignoreNulls = true))
  }

  /** Inverse of the pivot — matrix back to long (sample, feature, value); used by the
    * conflict report which re-reads the published matrix (`ConflictedSampleReport_v4.sh:43-66`). */
  def unpivot(matrix: DataFrame, idHeader: String = "Symbol"): DataFrame = {
    val sampleCols = matrix.columns.filterNot(_ == idHeader)
    matrix.select(
      col(idHeader),
      explode(map_from_arrays(
        array(sampleCols.toIndexedSeq.map(lit): _*),
        array(sampleCols.toIndexedSeq.map(c => col(s"`$c`").cast("string")): _*))).as(Seq("sample", "value")))
  }
}
