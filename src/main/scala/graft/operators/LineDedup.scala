package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level deduplication — the C4 / RefinedWeb corpus-hygiene step the
  * document-level dedup family (q44–q47/q84) cannot express: boilerplate
  * ("subscribe to our newsletter", cookie banners, navigation menus) repeats
  * across MILLIONS of documents as individual lines while the documents
  * containing it stay pairwise distinct. C4 (Raffel et al. 2020, §2.2) removes
  * any line occurring ≥3 times in the corpus; RefinedWeb (Penedo et al. 2023)
  * keeps the same line-wise pass before MinHash. This operator provides both
  * corpus-level removal and the within-document first-occurrence variant.
  *
  * Scale shape (corpus-level): one aggregation shuffle carries each DISTINCT
  * line once per containing doc and reduces map-side to (line, count) — the
  * only corpus-wide movement. The offending-line set that comes back is
  * boilerplate-sized (orders of magnitude smaller than the corpus; a line
  * must repeat > maxDocs times to enter it), so the rewrite pass is either a
  * per-row HOF filter against the broadcast set (zero further shuffle) or,
  * when the set is too large to collect, a distributed explode → broadcast
  * anti-join → positional rebuild. Both paths are spec-proven identical.
  *
  * The within-document variant shuffles NOTHING: first-occurrence filtering is
  * a per-row higher-order function evaluated during the scan.
  */
object LineDedup {

  /** Newline-delimited lines of a document (no trimming — byte-identical lines
    * are what boilerplate removal matches on). */
  def linesOf(text: Column): Column = split(text, "\n")

  /** Lines occurring in more than `maxDocs` distinct documents: (line, n_docs).
    * Within-doc repeats are collapsed scan-side (array_distinct) so the count
    * is document frequency, not occurrence frequency — C4's criterion. */
  def repeatedLines(docs: DataFrame, textCol: String, maxDocs: Int): DataFrame =
    docs
      .select(explode(array_distinct(linesOf(col(textCol)))).as("line"))
      .groupBy(col("line"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)

  /** Corpus-level boilerplate-line removal: every line appearing in more than
    * `maxDocs` distinct documents is dropped from every document; surviving
    * lines keep their original order. Output: (id, n_lines, n_removed,
    * clean_text) — a doc whose every line is boilerplate survives with
    * clean_text = "" (dropping whole docs is a policy the caller applies).
    *
    * An offending set of at most `maxBadLines` lines is collected to the
    * driver (as Spark-computed xxhash64 values — 8 bytes/line, hashed by the
    * same engine function the scan side uses, so there is no
    * cross-implementation hash drift) and rewrites per-row with ZERO extra
    * shuffle: each line's hash is binary-searched against the sorted set
    * ([[graft.expressions.SortedLongSetContains]], O(log B) per line — the
    * previous literal-array `array_contains` was a linear scan per line, which
    * made the rewrite L·B ≈ quadratic under corpus growth: measured 69× per
    * data decade, 594 s at ×1000). A 64-bit hash collision between a corpus
    * line and a different boilerplate line would drop an innocent line — at
    * B ≤ 2²⁰ that is P < 6e-14 per line, the same accepted trade as the hashed
    * gram sets in [[DedupSuite.ngramJaccardPairs]]. Sets larger than
    * `maxBadLines` (a driver-memory bound, not a scan-cost bound) fall through
    * to the distributed path instead of failing: posexplode → anti-join (AQE
    * picks broadcast vs shuffle from the actual set size) → positional
    * re-assembly (one extra shuffle keyed on the doc id). Both paths are
    * spec-proven identical. */
  def removeRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
                          maxDocs: Int, maxBadLines: Int = 1 << 20): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1: $maxDocs")
    val staged = docs.select(col(idCol), linesOf(col(textCol)).as("_lines"))
    val bad = repeatedLines(docs, textCol, maxDocs).select(col("line"))
    val badHashes = bad.select(xxhash64(col("line")))
      .limit(maxBadLines + 1).collect().map(_.getLong(0))
    if (badHashes.length <= maxBadLines) {
      val kept = filter(col("_lines"), l =>
        !graft.expressions.SortedLongSetContains.contains(xxhash64(l), badHashes))
      staged.select(col(idCol),
        size(col("_lines")).cast("long").as("n_lines"),
        (size(col("_lines")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, "\n").as("clean_text"))
    } else rebuildDistributed(staged, bad, idCol)
  }

  private def rebuildDistributed(staged: DataFrame, bad: DataFrame,
                                 idCol: String): DataFrame = {
      val exploded = staged
        .select(col(idCol), posexplode(col("_lines")).as(Seq("pos", "line")))
      val keptAgg = exploded
        .join(bad, Seq("line"), "left_anti")
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("_kept"))
      staged
        .join(keptAgg, Seq(idCol), "left")
        .select(col(idCol),
          size(col("_lines")).cast("long").as("n_lines"),
          (size(col("_lines")) -
            coalesce(size(col("_kept")), lit(0))).cast("long").as("n_removed"),
          coalesce(array_join(transform(col("_kept"), s => s("line")), "\n"),
            lit("")).as("clean_text"))
  }

  /** Within-document line dedup: keep the FIRST occurrence of every line,
    * preserving order. Pure per-row HOF (array_position finds the first index)
    * — zero shuffle, O(lines²) per doc, which is the right trade: documents
    * have tens-to-hundreds of lines while the corpus has billions of rows.
    * Output: (id, n_lines, n_kept, clean_text). */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = docs.select(col(idCol), linesOf(col(textCol)).as("_lines"))
    val kept = filter(col("_lines"),
      (l, i) => array_position(col("_lines"), l) === (i + 1).cast("long"))
    staged.select(col(idCol),
      size(col("_lines")).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }
}
