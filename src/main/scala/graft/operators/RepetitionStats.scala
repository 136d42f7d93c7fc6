package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training Gopher",
  * Table A1): documents dominated by repeated lines, paragraphs, or n-grams
  * are boilerplate/spam and get filtered before training.
  *
  * Scale shape: every signal is a pure column expression over the document's
  * OWN text — zero shuffle, zero join, evaluated in the scan alongside the
  * other quality gates ([[graft.functions.TextFunctions.qualityScore]]), so
  * the filter runs before any of the pipeline's expensive stages. Per-row
  * cost is O(S log S) in the segment/gram count (one `array_sort` dominates);
  * the duplicated-value membership scan is O(G·D) where D = distinct
  * duplicated grams, which is ~0 on clean text — the common case pays the
  * sort and nothing else.
  *
  * Numeric discipline: every fraction is an exact integer numerator /
  * integer denominator with ONE double division at the end, so the DuckDB
  * oracle reproduces bits.
  *
  * Two deliberate, documented variants vs the paper:
  *   - "duplicate" counts occurrences BEYOND THE FIRST of each value
  *     (`total - distinct`), the standard dedup convention used across
  *     [[DedupSuite]];
  *   - n-gram character fractions weight by TOKEN characters (separators
  *     excluded) with overlapping occurrences counted ONCE via exact
  *     position coverage — no double counting.
  */
object RepetitionStats {

  /** Default keep-thresholds, after Rae et al. Table A1: duplicate line /
    * paragraph fraction 0.30, duplicate line / paragraph character fraction
    * 0.20, top-2-gram character fraction 0.20, duplicated-5-gram character
    * fraction 0.15. */
  final case class RepetitionThresholds(
      maxDupLineFrac: Double = 0.30, maxDupLineCharFrac: Double = 0.20,
      maxDupParaFrac: Double = 0.30, maxDupParaCharFrac: Double = 0.20,
      maxTopGramCharFrac: Double = 0.20, maxDupGramCharFrac: Double = 0.15)

  private val emptyStrArr = typedLit(Seq.empty[String])

  /** (duplicate fraction, duplicate CHARACTER fraction) over an ALREADY-BOUND
    * array of text segments (lines or paragraphs — pass an attribute
    * reference, see [[TextFunctions.wordShinglesOf]] on HOF re-evaluation).
    * A segment occurrence is duplicate if an equal segment occurred before it
    * (so k copies contribute k−1); the character form weights each duplicate
    * occurrence by its segment length. Empty input → (0.0, 0.0). */
  def dupSegmentFractions(segs: Column): (Column, Column) = {
    val n = size(segs)
    val dupOcc = (n - size(array_distinct(segs))).cast("long")
    val frac = when(n === 0, lit(0.0))
      .otherwise(dupOcc.cast("double") / n.cast("double"))
    // every occurrence beyond the first sits next to an equal predecessor in
    // sorted order, so one adjacency pass counts exactly the duplicate chars
    val sorted = array_sort(segs)
    val dupChars = when(n >= 2,
      aggregate(
        transform(sequence(lit(2), n),
          i => when(element_at(sorted, i) === element_at(sorted, i - 1),
            length(element_at(sorted, i))).otherwise(lit(0))),
        lit(0L), (acc, x) => acc + x.cast("long"))).otherwise(lit(0L))
    val totChars = aggregate(transform(segs, s => length(s)),
      lit(0L), (acc, x) => acc + x.cast("long"))
    val charFrac = when(totChars === 0, lit(0.0))
      .otherwise(dupChars.cast("double") / totChars.cast("double"))
    (frac, charFrac)
  }

  /** Exact word n-grams of an ALREADY-BOUND tokens column as "w1 w2 …"
    * strings — length size−n+1, EMPTY when the document has fewer than n
    * tokens (unlike [[TextFunctions.wordShinglesOf]], which falls back to a
    * whole-doc shingle: position coverage needs true n-grams only). */
  def exactGrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(emptyStrArr)

  /** The document's most frequent gram value; ties break to the
    * lexicographically smallest (count desc, value asc — the deterministic
    * convention the oracle replays with `ORDER BY cnt DESC, gram`). NULL on
    * an empty gram array. */
  def topGramValue(grams: Column): Column =
    aggregate(array_sort(grams),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(null).cast("string").as("bestVal")),
      (acc, x) => {
        val run = when(acc.getField("prev") <=> x, acc.getField("run") + 1L)
          .otherwise(lit(1L))
        val isNew = run > acc.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(isNew, run).otherwise(acc.getField("best")).as("best"),
          when(isNew, x).otherwise(acc.getField("bestVal")).as("bestVal"))
      },
      acc => acc.getField("bestVal"))

  /** Fraction of the document's TOKEN characters covered by at least one
    * flagged n-gram occurrence: token j (1-based) is covered iff some gram
    * start i ∈ [j−n+1, j] has `startFlags[i]` true. Overlaps count once —
    * this is exact position coverage, not occurrences × gram length.
    * `startFlags` must be an attribute reference of length size(toks)−n+1
    * (or empty). */
  def coveredCharFraction(toks: Column, startFlags: Column, n: Int): Column = {
    val g = size(startFlags)
    val covered = when(g >= 1,
      aggregate(
        transform(sequence(lit(1), size(toks)), j => {
          val lo = greatest(lit(1), j - (n - 1))
          val hi = least(j, g)
          when(hi >= lo && exists(slice(startFlags, lo, hi - lo + 1), f => f),
            length(element_at(toks, j))).otherwise(lit(0))
        }),
        lit(0L), (acc, x) => acc + x.cast("long"))).otherwise(lit(0L))
    val tot = aggregate(transform(toks, t => length(t)),
      lit(0L), (acc, x) => acc + x.cast("long"))
    when(tot === 0, lit(0.0))
      .otherwise(covered.cast("double") / tot.cast("double"))
  }

  /** Per-position "this gram start is duplicated" flags, computed WITHOUT a
    * per-element membership scan: zip grams with their positions, ONE struct
    * sort brings equal grams adjacent, neighbor equality marks every member
    * of a run ≥ 2, and a second struct sort inverts the permutation —
    * O(G log G) total.
    *
    * LAMBDA-BODY DISCIPLINE (the q142 staging trap, projection-collapse
    * form): a higher-order function evaluates its ARGUMENT arrays once per
    * row but its lambda body once per ELEMENT, and CollapseProject inlines
    * single-use staged columns into that body — `array_contains(dupVals, g)`
    * re-derived the sorted dup-value set per gram (measured 76 s for 500
    * docs at sf0.01; this chain: sub-second). Every expensive array here
    * sits in argument position only; lambda bodies touch lambda variables
    * and attributes. */
  def dupStartFlags(grams: Column): Column = {
    val g = size(grams)
    val gi = zip_with(grams, sequence(lit(1), greatest(g, lit(1))),
      (gr, i) => struct(gr.as("g"), i.as("idx")))
    val sgi = array_sort(gi) // struct order: gram, then position
    val nxt = zip_with(sgi, slice(sgi, lit(2), greatest(g - 1, lit(0))),
      (a, b) => coalesce(a.getField("g") === b.getField("g"), lit(false)))
    val dupSorted = zip_with(nxt,
      concat(array(lit(false)), slice(nxt, lit(1), greatest(g - 1, lit(0)))),
      (n, p) => n || p)
    val backSorted = array_sort(zip_with(sgi, dupSorted,
      (s, d) => struct(s.getField("idx").as("idx"), d.as("flag"))))
    when(g >= 2, transform(backSorted, x => coalesce(x.getField("flag"), lit(false))))
      .otherwise(when(g === 1, array(lit(false)))
        .otherwise(typedLit(Seq.empty[Boolean])))
  }

  /** All six repetition signals appended to the input rows (original columns
    * preserved; signal columns as named below). Lines split on \n, paragraphs
    * on \n\n, tokens via [[TextFunctions.tokens]]. `topN`/`dupN` pick the
    * gram sizes for the top-gram and duplicated-gram character signals
    * (Gopher runs n=2..4 / n=5..10; the defaults are the strictest of each
    * family). Entirely scan-side — no shuffle.
    *
    * Since round 15 the signals come from ONE fused native pass
    * ([[graft.expressions.RepetitionSignals]] — the ~40-expression HOF chain
    * re-walked the token array once per signal and was the suite's biggest
    * per-row constant); [[withRepetitionSignalsHof]] keeps the HOF
    * formulation as the spec-pinned reference the fused pass must match
    * bit-for-bit. The struct column is referenced SIX times by the
    * consuming projection, so CollapseProject keeps it staged — one
    * evaluation per row. */
  def withRepetitionSignals(docs: DataFrame, textCol: String = "text",
                            topN: Int = 2, dupN: Int = 5): DataFrame = {
    val sig = graft.expressions.RepetitionSignals.signals(col(textCol), topN, dupN)
    docs.withColumn("_rs_sig", sig)
      .withColumn("dup_line_frac", col("_rs_sig").getField("dup_line_frac"))
      .withColumn("dup_line_char_frac", col("_rs_sig").getField("dup_line_char_frac"))
      .withColumn("dup_para_frac", col("_rs_sig").getField("dup_para_frac"))
      .withColumn("dup_para_char_frac", col("_rs_sig").getField("dup_para_char_frac"))
      .withColumn("top_gram_char_frac", col("_rs_sig").getField("top_gram_char_frac"))
      .withColumn("dup_gram_char_frac", col("_rs_sig").getField("dup_gram_char_frac"))
      .drop("_rs_sig")
  }

  /** The pre-fusion higher-order-function formulation of
    * [[withRepetitionSignals]] — kept as the independently-derived REFERENCE
    * implementation the fused native pass is spec-pinned against (every
    * stage follows the lambda-body discipline [[dupStartFlags]] documents:
    * the argmax value rides argument position via `array_repeat`, flag
    * columns are referenced 2+ times so CollapseProject keeps them
    * staged). */
  private[graft] def withRepetitionSignalsHof(docs: DataFrame, textCol: String = "text",
                                              topN: Int = 2, dupN: Int = 5): DataFrame = {
    val staged = docs
      .withColumn("_rs_lines", split(col(textCol), "\n"))
      .withColumn("_rs_paras", split(col(textCol), "\n\n"))
      .withColumn("_rs_toks", TextFunctions.tokens(col(textCol)))
      .withColumn("_rs_gtop", exactGrams(col("_rs_toks"), topN))
      .withColumn("_rs_gdup", exactGrams(col("_rs_toks"), dupN))
    val (lineFrac, lineCharFrac) = dupSegmentFractions(col("_rs_lines"))
    val (paraFrac, paraCharFrac) = dupSegmentFractions(col("_rs_paras"))
    val flagged = staged
      .withColumn("dup_line_frac", lineFrac)
      .withColumn("dup_line_char_frac", lineCharFrac)
      .withColumn("dup_para_frac", paraFrac)
      .withColumn("dup_para_char_frac", paraCharFrac)
      // argmax value consumed in ARGUMENT position (array_repeat child) —
      // evaluated once per row, never per element
      .withColumn("_rs_topflags",
        zip_with(col("_rs_gtop"),
          array_repeat(topGramValue(col("_rs_gtop")), size(col("_rs_gtop"))),
          (gr, v) => coalesce(gr === v, lit(false))))
      .withColumn("_rs_dupflags", dupStartFlags(col("_rs_gdup")))
      .withColumn("top_gram_char_frac",
        coveredCharFraction(col("_rs_toks"), col("_rs_topflags"), topN))
      .withColumn("dup_gram_char_frac",
        coveredCharFraction(col("_rs_toks"), col("_rs_dupflags"), dupN))
    flagged.drop("_rs_lines", "_rs_paras", "_rs_toks", "_rs_gtop", "_rs_gdup",
      "_rs_topflags", "_rs_dupflags")
  }

  /** Keep documents passing every threshold — a pure scan-side predicate
    * (the signal columns are computed and dropped in place; no join).
    *
    * The `_rs_nopush` barrier is the PushDownPredicate corollary of the
    * lambda-body discipline: a Filter above the signal projections would be
    * SPLICED through them (replaceAlias has no alias-cost guard, unlike
    * CollapseProject), inlining every staged token/gram chain into the
    * six-threshold condition — measured as a multi-minute hang on a
    * 60-document corpus when this filter feeds further pipeline stages
    * (curate's repetitionGate). One non-deterministic field in the top
    * projection stops the descent, so the signals evaluate exactly once per
    * row; unlike a localCheckpoint barrier it also works on STREAMING frames
    * ([[graft.streaming.EventPipeline.streamingRepetitionFilter]]).
    *
    * The filter CONDITION must reference the barrier column (the trivially
    * true first conjunct), or ColumnPruning deletes the unused
    * non-deterministic field first and the now-deterministic projection
    * pushes the predicate after all — measured: a 45 KB fully-inlined Filter
    * over raw `split(text)` chains, interpreted (too big for codegen), with
    * multi-level per-element re-derivation. */
  def repetitionFilter(docs: DataFrame, textCol: String = "text",
                       th: RepetitionThresholds = RepetitionThresholds(),
                       topN: Int = 2, dupN: Int = 5): DataFrame = {
    val sig = withRepetitionSignals(docs, textCol, topN, dupN)
      .withColumn("_rs_nopush", spark_partition_id())
    sig.filter(
        col("_rs_nopush") >= 0 &&
          col("dup_line_frac") <= th.maxDupLineFrac &&
          col("dup_line_char_frac") <= th.maxDupLineCharFrac &&
          col("dup_para_frac") <= th.maxDupParaFrac &&
          col("dup_para_char_frac") <= th.maxDupParaCharFrac &&
          col("top_gram_char_frac") <= th.maxTopGramCharFrac &&
          col("dup_gram_char_frac") <= th.maxDupGramCharFrac)
      .drop("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "dup_para_char_frac", "top_gram_char_frac", "dup_gram_char_frac",
        "_rs_nopush")
  }
}
