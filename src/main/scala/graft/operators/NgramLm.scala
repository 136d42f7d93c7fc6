package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus n-gram language model for quality filtering — the CCNet recipe
  * (Wenzek et al. 2020): score each document by how surprising its token
  * transitions are under a model trained on trusted text; keep the head of
  * the distribution. Two scoring surfaces:
  *
  *   - [[oovBigramRate]] — the fraction of a document's adjacent token pairs
  *     unseen (or below `minCount`) in the trained bigram table. Pure integer
  *     counting plus one exactly-rounded IEEE division, so it is
  *     oracle-replayable cell-for-cell (q142) — the cheap novelty signal.
  *   - [[avgNegLogProb]] — add-one-smoothed conditional bigram NLL per token,
  *     the real perplexity-style ranking. `ln` is libm-dependent (not
  *     oracle-hashable cross-engine), so this surface is property-spec'd:
  *     in-domain text must score lower than shuffled/out-of-domain text.
  *
  * Scale shape: training is two corpus passes that both reduce map-side to
  * VOCABULARY-sized tables — (w, c) unigrams and (w1, w2, c) bigrams (the
  * Zipf-bounded object every LM pipeline ships, not corpus-sized). Scoring
  * explodes each document's bigrams once and equi-joins the count tables by
  * 8-byte-hashable string keys; AQE broadcasts them when they fit, and the
  * per-doc re-aggregation is map-side combinable. Nothing corpus-sized ever
  * sits on the driver.
  */
object NgramLm {

  /** Adjacent token pairs (w1, w2) over a STAGED token-array column — empty
    * for 0/1-token docs. Takes the staged column, never the raw text: an
    * expression inlined into a HOF lambda re-evaluates per element (the
    * tokenizer would run twice per bigram — O(len²) per doc; measured 13.2 s
    * → 2.4 s on q142 at sf0.1 when the first version made exactly that
    * mistake). */
  private def bigramsOf(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + lit(1)).as("w2"))))

  /** (extra columns…, exploded bigram struct `b`) with tokens staged. */
  private def explodedBigrams(df: DataFrame, keep: Seq[String],
                              textCol: String): DataFrame =
    df.select((keep :+ textCol).map(col): _*)
      .select(keep.map(col) :+ TextFunctions.tokens(col(textCol)).as("_toks"): _*)
      .select(keep.map(col) :+ explode(bigramsOf(col("_toks"))).as("b"): _*)

  /** Trained unigram table (w, c) — one map-side-combined aggregate. */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col(textCol))
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Trained bigram table (w1, w2, c) — one map-side-combined aggregate. */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    explodedBigrams(docs, Nil, textCol)
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** Per-document OOV-bigram novelty: (idCol, n_bigrams, n_oov, oov_rate) —
    * a bigram counts as OOV when its trained count is NULL (unseen) or
    * < `minCount`. Documents with no bigrams score rate 0.0 (nothing to be
    * surprised by; the length gates handle degenerate docs). Integer counts
    * + one exact IEEE division — oracle-replayable. */
  def oovBigramRate(docs: DataFrame, idCol: String, textCol: String,
                    bigrams: DataFrame, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    val perDoc = oovPerDoc(docs, idCol, textCol, bigrams, minCount)
    // 0/1-token docs vanish in the explode — restore them with zero bigrams
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double") / col("n_bigrams").cast("double")))
  }

  /** Per-doc (n_bigrams, n_oov) over docs WITH at least one bigram — the
    * pre-restore aggregate [[oovBigramRate]] and [[oovFailingIds]] share. */
  private def oovPerDoc(docs: DataFrame, idCol: String, textCol: String,
                        bigrams: DataFrame, minCount: Long): DataFrame =
    explodedBigrams(docs, Seq(idCol), textCol)
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(bigrams, Seq("w1", "w2"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c").isNull || col("c") < minCount, 1L).otherwise(0L)).as("n_oov"))

  /** Ids whose pooled OOV-bigram rate EXCEEDS `maxOovRate` — the complement
    * surface the curation gate anti-joins on. A doc with no bigrams scores
    * rate 0.0 and so can never fail a non-negative threshold, which is what
    * makes this surface skippable of [[oovBigramRate]]'s 0/1-token restore
    * join — one full extra pass over the gated corpus. The rate is the SAME
    * single IEEE division as oovBigramRate's, so `> maxOovRate` here is the
    * exact row complement of `<= maxOovRate` there (per id; duplicate-id
    * inputs pool identically through the shared aggregate). Callers must
    * check `maxOovRate >= 0` and use the full-rate surface otherwise. */
  private[operators] def oovFailingIds(docs: DataFrame, idCol: String,
                                       textCol: String, bigrams: DataFrame,
                                       minCount: Long,
                                       maxOovRate: Double): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    require(maxOovRate >= 0.0,
      s"oovFailingIds is only the gate complement for maxOovRate >= 0: $maxOovRate")
    oovPerDoc(docs, idCol, textCol, bigrams, minCount)
      .filter(col("n_oov").cast("double") / col("n_bigrams").cast("double")
        > maxOovRate)
      .select(col(idCol))
  }

  /** Adjacent token triples (w1, w2, w3) over a staged token array — the
    * [[bigramsOf]] discipline (staged column, never the raw text). */
  private def trigramsOf(toks: Column): Column =
    when(size(toks) < 3,
        array().cast("array<struct<w1:string,w2:string,w3:string>>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => struct(element_at(toks, i).as("w1"),
          element_at(toks, i + lit(1)).as("w2"),
          element_at(toks, i + lit(2)).as("w3"))))

  private def explodedTrigrams(df: DataFrame, keep: Seq[String],
                               textCol: String): DataFrame =
    df.select((keep :+ textCol).map(col): _*)
      .select(keep.map(col) :+ TextFunctions.tokens(col(textCol)).as("_toks"): _*)
      .select(keep.map(col) :+ explode(trigramsOf(col("_toks"))).as("g"): _*)

  /** Trained trigram table (w1, w2, w3, c) — one map-side-combined
    * aggregate; every other Kneser-Ney count table derives from it
    * (vocabulary-sized group-bys, nothing corpus-sized). */
  def trigramCounts(docs: DataFrame, textCol: String): DataFrame =
    explodedTrigrams(docs, Nil, textCol)
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c"))

  /** Per-document INTEGER BIT-SURPRISAL under an interpolated KNESER-NEY
    * trigram model (Kneser & Ney 1995; Chen & Goodman 1999) with absolute
    * discount d = 1/2 — the oracle-exact upgrade of [[oovBigramRate]]'s
    * novelty signal to a real smoothed-LM ranking (the CCNet gate is a
    * 5-gram KenLM; this is the same family with every count integer).
    *
    * All tables derive from the trained `trigrams` count table
    * ([[trigramCounts]], typically over trusted text) — the self-contained
    * formulation, so the model normalizes exactly:
    *
    *   P3(w3|w1w2) = max(c3−d,0)/c12 + d·T12/c12 · P2(w3|w2)
    *   P2(w3|w2)   = max(n2−d,0)/tot2 + d·T2/tot2 · P1(w3)
    *   P1(w3)      = n1 / nAll
    *
    * with c12 = Σ_w3 c(w1w2w3), T12 = N1+(w1w2·), n2 = N1+(·w2w3) (distinct
    * left contexts), tot2 = N1+(·w2·), T2 = distinct w3 after w2,
    * n1 = distinct middles w2 with (w2,w3) seen, nAll = distinct (w2,w3)
    * pairs. With d = 1/2 every level is one exact rational: num2/den2 =
    * (max(2n2−1,0)·nAll + T2·n1) / (2·tot2·nAll) and num3/den3 =
    * (max(2c3−1,0)·den2 + T12·num2) / (2·c12·den2). An unseen (w1,w2)
    * context backs off to level 2, an unseen w2 to level 1 — the standard
    * interpolated-KN recursion, never a zero denominator.
    *
    * Each scored trigram contributes `floor(log2(den/num))` bits — computed
    * as `bitlen(den div num) − 1` (the [[UnigramLm.bitSurprisal]] integer
    * identity), with a probability-ZERO trigram (w3 never seen as a
    * continuation) scoring `bitlen(den)`, one more than the rarest positive
    * event can. The only float arithmetic is one exactly-rounded IEEE
    * division per document, so the scores hash-replay cell-for-cell in
    * DuckDB. Output: (idCol, n_trigrams, sum_bits, avg_bits), one row per
    * input document; <3-token docs score avg 0.0 (the length gates own
    * degenerate docs). Lower = more in-domain.
    *
    * VALIDITY BOUND (documented, enforced): den3 = 4·c12·tot2·nAll must fit
    * a signed 64-bit integer. That caps the TRAINING corpus near ~10^6
    * tokens (4·(10^6)^3 ≈ 4·10^18 < 2^63) — the exact-rational surface is
    * the validation/oracle twin, sized for trusted-LM training sets (CCNet
    * trains its gate LM on a Wikipedia-sized sample, not the crawl);
    * [[knTrigramNll]] is the same model in double arithmetic for unbounded
    * corpora, and scoring throughput is corpus-scale on both (the count
    * tables broadcast; the guard below collects three scalar maxima, never
    * rows). */
  def knTrigramBits(docs: DataFrame, idCol: String, textCol: String,
                    trigrams: DataFrame): DataFrame =
    knTrigramScored(docs, idCol, textCol, trigrams)
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_trigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("sum_bits").cast("double") /
            col("n_trigrams").cast("double")).as("avg_bits"))

  /** [[knTrigramBits]]'s model in plain double arithmetic: per-document
    * average −ln P_KN per trigram — the unbounded-scale ranking surface
    * (no integer-overflow bound; `ln` is libm-dependent, so this surface is
    * property-spec'd like [[avgNegLogProb]], not oracle-hashed). Docs with
    * no trigrams get NULL avg_nll. */
  def knTrigramNll(docs: DataFrame, idCol: String, textCol: String,
                   trigrams: DataFrame): DataFrame =
    knTrigramScored(docs, idCol, textCol, trigrams, exact = false)
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"), col("avg_nll"))

  /** The shared KN scoring join/arithmetic: per-doc aggregates left-joined
    * back onto one row per input document. `exact = true` adds the integer
    * bit-surprisal columns (and enforces the i64 bound); both modes carry
    * the double NLL. */
  private def knTrigramScored(docs: DataFrame, idCol: String, textCol: String,
                              trigrams: DataFrame,
                              exact: Boolean = true): DataFrame =
    // <3-token docs vanish in the trigram explode — restore them (NULL
    // aggregates; the public surfaces coalesce) so the output is one row
    // per input document, as documented
    docs.select(col(idCol))
      .join(knTrigramPerDoc(docs, idCol, textCol, trigrams, exact), Seq(idCol), "left")

  /** Ids whose average per-trigram bit-surprisal EXCEEDS `maxAvgBits` — the
    * complement surface the curation KN gate anti-joins on. A doc with no
    * trigrams scores avg 0.0 and can never fail a non-negative threshold,
    * so this skips [[knTrigramScored]]'s <3-token restore join — one full
    * extra pass over the gated corpus. The average is the SAME single IEEE
    * division as [[knTrigramBits]]'s (pre-restore rows always have
    * n_trigrams >= 1), so `> maxAvgBits` is the exact row complement of
    * `<= maxAvgBits` there. Callers must check `maxAvgBits >= 0` and use
    * the full-score surface otherwise. */
  private[operators] def knTrigramFailingIds(docs: DataFrame, idCol: String,
                                             textCol: String,
                                             trigrams: DataFrame,
                                             maxAvgBits: Double): DataFrame = {
    require(maxAvgBits >= 0.0,
      s"knTrigramFailingIds is only the gate complement for maxAvgBits >= 0: $maxAvgBits")
    knTrigramPerDoc(docs, idCol, textCol, trigrams, exact = true)
      .filter(col("sum_bits").cast("double") / col("n_trigrams").cast("double")
        > maxAvgBits)
      .select(col(idCol))
  }

  /** Per-doc (n_trigrams, sum_bits, avg_nll) over docs WITH at least one
    * trigram — the pre-restore aggregate [[knTrigramScored]] and
    * [[knTrigramFailingIds]] share. */
  private def knTrigramPerDoc(docs: DataFrame, idCol: String, textCol: String,
                              trigrams: DataFrame,
                              exact: Boolean): DataFrame = {
    // Materialize the trained count table ONCE: it is vocabulary-sized by
    // construction, but the frame handed in is usually the LAZY
    // [[trigramCounts]] plan — referenced below by three scalar collects and
    // all five per-level join sides, each reference would re-run the full
    // corpus tokenize + explode + shuffle (8 corpus passes for 1 model).
    val tri = trigrams.select(col("w1"), col("w2"), col("w3"),
      col("c").cast("long").as("_c3")).localCheckpoint(true)
    val ctx12 = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("_c3")).as("_c12"), count(lit(1)).as("_t12"))
    val mid = tri.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("_n2"))
    val ctx2 = mid.groupBy(col("w2"))
      .agg(sum(col("_n2")).as("_tot2"), count(lit(1)).as("_t2"))
    val uni = mid.groupBy(col("w3")).agg(count(lit(1)).as("_n1"))
    // three scalars of bounded metadata (never rows): nAll for the lowest
    // order, the two maxima for the overflow guard
    val nAll = mid.agg(count(lit(1))).collect()(0).getLong(0)
    require(nAll > 0L, "knTrigram: empty trigram table (corpus under 3 tokens?)")
    val Array(maxC12, maxTot2) =
      Seq(ctx12.agg(max(col("_c12"))), ctx2.agg(max(col("_tot2"))))
        .map(_.collect()(0).getLong(0)).toArray
    if (exact)
      require(BigInt(4) * maxC12 * maxTot2 * nAll < BigInt(Long.MaxValue),
        s"knTrigramBits: 4*max(c12)=$maxC12*max(tot2)=$maxTot2*nAll=$nAll " +
          "overflows i64 — train the exact surface on a smaller trusted " +
          "corpus, or rank with knTrigramNll (double) instead")
    val exploded = explodedTrigrams(docs, Seq(idCol), textCol)
      .select(col(idCol), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
    val joined = exploded
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .select(col(idCol),
        coalesce(col("_c3"), lit(0L)).as("c3"),
        coalesce(col("_c12"), lit(0L)).as("c12"),
        coalesce(col("_t12"), lit(0L)).as("t12"),
        coalesce(col("_n2"), lit(0L)).as("n2"),
        coalesce(col("_tot2"), lit(0L)).as("tot2"),
        coalesce(col("_t2"), lit(0L)).as("t2"),
        coalesce(col("_n1"), lit(0L)).as("n1"),
        lit(nAll).as("na"))
    val num2 = greatest(lit(2L) * col("n2") - 1L, lit(0L)) * col("na") +
      col("t2") * col("n1")
    val den2 = lit(2L) * col("tot2") * col("na")
    val num3 = greatest(lit(2L) * col("c3") - 1L, lit(0L)) * den2 +
      col("t12") * num2
    val den3 = lit(2L) * col("c12") * den2
    val num = when(col("c12") > 0, num3)
      .when(col("tot2") > 0, num2).otherwise(col("n1"))
    val den = when(col("c12") > 0, den3)
      .when(col("tot2") > 0, den2).otherwise(col("na"))
    val scored = joined.withColumn("_num", num).withColumn("_den", den)
    val withBits =
      if (!exact) scored.withColumn("_bits", lit(0L))
      else scored.withColumn("_bits",
        when(col("_num") === 0L, length(bin(col("_den"))))
          .otherwise(length(bin(expr("_den DIV _num"))) - 1).cast("long"))
    val perDoc = withBits.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_trigrams"),
      sum(col("_bits")).as("sum_bits"),
      // NLL of a zero-probability trigram: price it at its bit score's
      // information content (num=0 only at the continuation floor)
      avg(when(col("_num") === 0L,
          log(lit(2.0)) * length(bin(col("_den"))).cast("double"))
        .otherwise(-log(col("_num").cast("double") / col("_den").cast("double"))))
        .as("avg_nll"))
    perDoc
  }

  /** Per-document average negative log conditional bigram probability
    * (add-one smoothing over a vocabulary of size V):
    * NLL = −(1/n)·Σ ln((c(w1,w2)+1)/(c(w1)+V)). Lower = more in-domain.
    * Docs with no bigrams get NULL (no evidence either way). Property-spec'd,
    * not oracle-hashed: ln is libm-dependent cross-engine. */
  def avgNegLogProb(docs: DataFrame, idCol: String, textCol: String,
                    unigrams: DataFrame, bigrams: DataFrame,
                    vocabSize: Long): DataFrame = {
    require(vocabSize >= 1L, s"vocabSize must be >= 1: $vocabSize")
    val exploded = explodedBigrams(docs, Seq(idCol), textCol)
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val joined = exploded
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams.select(col("w").as("w1"), col("c").as("_c1")), Seq("w1"), "left")
    val nll = -log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
      (coalesce(col("_c1"), lit(0L)).cast("double") + vocabSize.toDouble))
    val perDoc = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      (sum(nll) / count(lit(1))).as("avg_nll"))
    // 0/1-token docs vanish in the explode — restore them with NULL avg_nll
    // so the output is one row per input document, as documented.
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"))
  }
}
