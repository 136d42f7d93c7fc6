package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer training (Kudo 2018, the SentencePiece
  * regime) — the second tokenizer family a training-data pipeline wants
  * beside BPE: instead of greedily merging pairs, fix a candidate piece
  * vocabulary and fit piece probabilities so each word segments into its
  * maximum-likelihood piece sequence.
  *
  * This is the HARD-EM (Viterbi-EM) variant, chosen deliberately so the
  * whole loop is oracle-replayable:
  *   - E-step: Viterbi-segment every distinct pre-token under the current
  *     piece probabilities (ties broken to the LONGER piece — deterministic);
  *   - M-step: piece count = Σ word-freq over its occurrences in the chosen
  *     segmentations (exact integers); probabilities re-derive as
  *     `cnt / total` (one IEEE division per piece).
  * Soft-EM's forward-backward posteriors would accumulate doubles in
  * engine-dependent order; hard-EM's only float arithmetic is the Viterbi
  * value `α(i) · p(piece)` — a product chain in word order, bit-identical
  * in any IEEE engine — and float COMPARISONS are exact, so the chosen
  * segmentations (and therefore the trained integer counts) replay exactly
  * in DuckDB's recursive-CTE DP.
  *
  * Scale shape (the [[BpeTrainer]] discipline): the ONE corpus-wide job is
  * the pre-token frequency aggregation; seeding and every EM iteration run
  * over the VOCABULARY-sized distinct-word table (Viterbi is a per-word scan
  * with a broadcast piece map; counts are one map-side-combined sum). The
  * model — a (piece, cnt) table bounded by `vocabSize` + the corpus
  * alphabet — collects driver-side like the BPE merge table: it IS the
  * tokenizer.
  */
object UnigramLm {

  /** The fixed byte-level base alphabet ([[graft.expressions.ByteRemap]]'s
    * 256 symbol chars) — the byte-fallback vocabulary floor: seeded (and
    * RETAINED in the trained model, count 0 allowed) in `byteLevel` mode, so
    * encode can always degrade an alien pre-token to byte pieces instead of
    * dropping it. */
  private def byteAlphabet: Seq[String] =
    graft.expressions.ByteRemap.byteToChar.map(_.toString).toSeq

  /** Candidate piece seeds: every substring (code points) of length ≤
    * `maxPieceLen` of every distinct pre-token, weighted by word frequency ×
    * occurrences; the vocabulary keeps the top `vocabSize` multi-character
    * pieces (cnt desc, piece asc — binary order both engines) plus EVERY
    * single-character piece (coverage: any word stays segmentable). In
    * `byteLevel` mode the single-character floor is the FIXED 256-symbol
    * byte alphabet (corpus counts where seen, 0 otherwise) — OOV impossible
    * by construction for any later encode input. Output: (piece, cnt). */
  def seedVocab(docs: DataFrame, textCol: String, maxPieceLen: Int,
                vocabSize: Int, byteLevel: Boolean = false): DataFrame =
    seedFromFrequencies(
      BpeTrainer.preTokenFrequencies(docs, textCol, byteLevel),
      maxPieceLen, vocabSize, byteLevel)

  private def seedFromFrequencies(freqs: DataFrame, maxPieceLen: Int,
                                  vocabSize: Int,
                                  byteLevel: Boolean = false): DataFrame = {
    require(maxPieceLen >= 2, s"maxPieceLen must be >= 2, got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val spark = freqs.sparkSession
    import spark.implicits._
    val subs = flatten(transform(
      sequence(lit(1), length(col("pre_token"))),
      i => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("pre_token")) - i + 1)),
        l => col("pre_token").substr(i, l))))
    val s0 = freqs.select(col("freq"), explode(subs).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val multi = s0.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
    val singles =
      if (!byteLevel) s0.filter(length(col("piece")) === 1)
      else byteAlphabet.toDF("piece")
        .join(s0.filter(length(col("piece")) === 1), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    multi.unionByName(singles)
  }

  /** The full hard-EM training loop: seed, then `iters` ×
    * (Viterbi-segment every distinct word → integer recount over the active
    * piece set). Pieces the final segmentation never uses drop; output is
    * the trained model table (piece, cnt), cnt > 0.
    *
    * During training a zero-count piece stays a CANDIDATE with probability
    * 0.0 (the fixed-vocabulary convention): every corpus character is a
    * seeded single-char piece, so each word always has a positive-probability
    * path — its own previous segmentation — and Viterbi never strands.
    *
    * `pruneTo` engages the SentencePiece shrink loop: BETWEEN consecutive
    * EM iterations the active set shrinks to every single character plus the
    * top `pruneTo` multi-character pieces by (cnt desc, piece asc — binary
    * order both engines), and the next iteration re-fits the survivors.
    * Without it the seeded set stays fixed (the q170 contract).
    *
    * `byteLevel` trains over byte-level symbol strings (one code point per
    * UTF-8 byte, [[graft.expressions.ByteRemap]] — the BPE `byteLevel`
    * regime) and the trained model RETAINS every one of the 256 byte-symbol
    * singles even at count 0 (SentencePiece's `--byte_fallback`): an encode
    * caller feeding pre-tokens from scripts the training corpus never saw
    * degrades them to byte pieces (probability-0 Viterbi paths, ties to the
    * longer piece — deterministic) instead of silently dropping text. */
  def trainUnigram(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                   vocabSize: Int = 200, iters: Int = 2,
                   pruneTo: Option[Int] = None,
                   byteLevel: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    pruneTo.foreach(k => require(k >= 1, s"pruneTo must be >= 1, got $k"))
    val spark = docs.sparkSession
    import spark.implicits._
    // the one corpus-wide pass; everything after is vocabulary-sized. No
    // explicit repartition before the checkpoint: AQE sizes the aggregation
    // exchange to the data, so a vocabulary-sized word table coalesces small
    // (cheap EM sweeps) while a corpus-scale table keeps its parallelism —
    // forcing defaultParallelism made every Viterbi sweep pay 32 tasks of
    // overhead on a tiny table (q170 2.52x slower, measured r16).
    val freqs = BpeTrainer.preTokenFrequencies(docs, textCol, byteLevel)
      .localCheckpoint()
    // active piece set + running counts, model-sized by construction
    var counts: Array[(String, Long)] =
      seedFromFrequencies(freqs, maxPieceLen, vocabSize, byteLevel)
        .as[(String, Long)].collect()
    var r = 1
    while (r <= iters) {
      val segmented = segmentWords(freqs, counts, maxPieceLen)
      val segCnt = segmented
        .select(explode(col("pieces")).as("piece"), col("freq"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .as[(String, Long)].collect().toMap
      counts = counts.map { case (p, _) => (p, segCnt.getOrElse(p, 0L)) }
      if (r < iters) pruneTo.foreach { k =>
        val (singles, multi) = counts.partition(pc =>
          pc._1.codePointCount(0, pc._1.length) == 1)
        counts = multi.sortWith((a, b) =>
          a._2 > b._2 || (a._2 == b._2 && utf8Less(a._1, b._1))).take(k) ++ singles
      }
      r += 1
    }
    // byte-fallback retention: singles survive at count 0 — they ARE the
    // fallback vocabulary (probability 0, reachable, never dropped)
    counts.filter(pc => pc._2 > 0L ||
        (byteLevel && pc._1.codePointCount(0, pc._1.length) == 1))
      .toSeq.toDF("piece", "cnt")
  }

  /** Viterbi-segment each distinct word of `freqs` under `counts` —
    * (word, freq, pieces). The piece map broadcasts with PRE-DIVIDED
    * probabilities (`cnt / total`, one IEEE division per piece — the
    * oracle's `pr` CTE), so the DP multiplies exactly like the replay. */
  private def segmentWords(freqs: DataFrame, counts: Array[(String, Long)],
                           maxPieceLen: Int): DataFrame = {
    val spark = freqs.sparkSession
    import spark.implicits._
    val total = counts.map(_._2).sum
    val probs = new java.util.HashMap[String, java.lang.Double](counts.length * 2)
    counts.foreach { case (p, c) =>
      probs.put(p, c.toDouble / total.toDouble)
    }
    val bc = spark.sparkContext.broadcast(probs)
    freqs.as[(String, Long)].mapPartitions { it =>
      val m = bc.value
      it.map { case (word, freq) => (word, freq, viterbi(word, m, maxPieceLen)) }
    }.toDF("word", "freq", "pieces")
  }

  /** Maximum-likelihood segmentation of one word over the piece→probability
    * map: α(0)=1, α(j) = max over piece lengths ℓ of α(j−ℓ)·p(piece), ties
    * to the larger ℓ. Positions with no in-map piece ending there are
    * unreachable (α = −1); a word whose END is unreachable returns EMPTY —
    * only possible when the map lacks one of its single characters (never
    * for the training corpus against its own model; an encode caller feeding
    * alien text sees the word dropped, documented in [[encodeUnigram]]).
    * Code-point indexing throughout (both engines' `substr`/`length`
    * convention). */
  private[operators] def viterbi(word: String,
                                 probs: java.util.HashMap[String, java.lang.Double],
                                 maxPieceLen: Int): Seq[String] = {
    val cps = word.codePoints.toArray
    val n = cps.length
    val alpha = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    alpha(0) = 1.0
    var j = 1
    while (j <= n) {
      var bestV = -1.0
      var bestL = 0
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        if (alpha(j - l) >= 0.0) {
          val p = probs.get(new String(cps, j - l, l))
          if (p != null) {
            val v = alpha(j - l) * p.doubleValue()
            // >= : the later (longer) candidate wins exact ties — the
            // replay's ORDER BY val DESC, len DESC
            if (v >= bestV) { bestV = v; bestL = l }
          }
        }
        l += 1
      }
      alpha(j) = if (bestL == 0) -1.0 else bestV
      back(j) = bestL
      j += 1
    }
    if (alpha(n) < 0.0) return Seq.empty
    var pos = n
    var acc = List.empty[String]
    while (pos > 0) {
      val l = back(pos)
      acc = new String(cps, pos - l, l) :: acc
      pos -= l
    }
    acc
  }

  /** Encode documents with a trained model table (piece, cnt): pre-tokenize,
    * Viterbi-segment each pre-token under the model probabilities, emit
    * (doc_id, pos, token) — pos 1-based across the document in pre-token
    * order. A posexplode view over [[encodeUnigramTokens]]; use the array
    * form directly when the consumer wants per-document sequences (packing,
    * counting) — at corpus scale the explode is the expensive half. */
  def encodeUnigram(docs: DataFrame, idCol: String, textCol: String,
                    model: DataFrame, maxPieceLen: Int = 4,
                    byteLevel: Boolean = false): DataFrame =
    encodeUnigramTokens(docs, idCol, textCol, model, maxPieceLen, byteLevel)
      .select(col("doc_id"), posexplode(col("tokens")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("token"))

  /** Pre-token column: `byteLevel` remaps each pre-token to its byte-level
    * symbol string ([[graft.expressions.ByteRemap]]) — the [[BpeTrainer]]
    * convention, so a byteLevel model prices exactly what it trained on. */
  private def preTokensOf(textCol: String, byteLevel: Boolean) = {
    val pts = TextFunctions.bpeTokens(col(textCol))
    if (byteLevel) transform(pts, t => graft.expressions.ByteRemap.remap(t))
    else pts
  }

  /** The array form of [[encodeUnigram]]: (doc_id, tokens) — one row per
    * document, tokens in pre-token order. Scan-shaped: the model broadcasts,
    * one pass over the corpus. A pre-token containing a character the model
    * cannot reach contributes no tokens (the training corpus against its
    * own model always reaches — every piece of the final segmentation has a
    * positive count); with a `byteLevel` model this cannot happen at all —
    * the retained byte alphabet makes every position reachable, so alien
    * pre-tokens degrade to byte pieces and nothing is dropped
    * (spec-pinned: lossless [[graft.expressions.ByteRemap.unremapString]]
    * decode). */
  def encodeUnigramTokens(docs: DataFrame, idCol: String, textCol: String,
                          model: DataFrame, maxPieceLen: Int = 4,
                          byteLevel: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = model.select(col("piece"), col("cnt").cast("long"))
      .as[(String, Long)].collect()
    require(counts.nonEmpty, "encodeUnigram: empty model table")
    val total = counts.map(_._2).sum
    val probs = new java.util.HashMap[String, java.lang.Double](counts.length * 2)
    counts.foreach { case (p, c) => probs.put(p, c.toDouble / total.toDouble) }
    val bc = spark.sparkContext.broadcast(probs)
    val pts = docs.select(col(idCol), col(textCol))
      .select(col(idCol).cast("long").as("doc_id"),
        preTokensOf(textCol, byteLevel).as("_pts"))
    pts.as[(Long, Seq[String])].mapPartitions { it =>
      val m = bc.value
      // Zipf memo (the BpeCodec discipline): distinct pre-tokens are tiny
      // relative to corpus occurrences, so per-partition segmentation is
      // almost always a cache hit; cleared (not evicted) at a cap a
      // natural-language vocabulary never reaches
      val memo = new java.util.HashMap[String, Seq[String]]()
      val cap = 1 << 20
      it.map { case (id, words) =>
        (id, words.flatMap { w =>
          var s = memo.get(w)
          if (s == null) {
            s = viterbi(w, m, maxPieceLen)
            if (memo.size > cap) memo.clear()
            memo.put(w, s)
          }
          s
        })
      }
    }.toDF("doc_id", "tokens")
  }

  /** Per-document INTEGER BIT-SURPRISAL under a trained model — the
    * oracle-exact stand-in for the per-token NLL perplexity gate (CCNet's
    * LM filter in the unigram regime): each Viterbi piece scores
    * `floor(log2(total/cnt))` bits — the bit length of the integer quotient
    * minus one (`floor(log2(total/cnt)) = floor(log2(total div cnt))`, an
    * identity for integers: no power of two lies strictly inside
    * `[q, q+1)`) — and a count-0 fallback piece (byteLevel models) scores
    * `bitlen(total)`, one more than the rarest positive piece can. The only
    * float arithmetic is ONE exactly-rounded IEEE division per document
    * (`sum_bits / n_tokens`), so the scores hash-replay cell-for-cell in
    * DuckDB (`length(bin(total // cnt)) - 1`) — unlike `ln`-based NLL,
    * which is libm-dependent cross-engine ([[NgramLm.avgNegLogProb]]'s
    * documented limitation, solved here by base-2 floor quantization).
    *
    * Output: (idCol, n_tokens, sum_bits, avg_bits) — one row per input
    * document; 0-token docs score avg 0.0 (no evidence — the length gates
    * own degenerate docs, the [[NgramLm.oovBigramRate]] convention). Scale
    * shape: the same single scan as [[encodeUnigramTokens]] (broadcast
    * model + per-partition Zipf memo), summing in-scan — the token explode
    * never materializes. Lower = more in-domain. */
  def bitSurprisal(docs: DataFrame, idCol: String, textCol: String,
                   model: DataFrame, maxPieceLen: Int = 4,
                   byteLevel: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = model.select(col("piece"), col("cnt").cast("long"))
      .as[(String, Long)].collect()
    require(counts.nonEmpty, "bitSurprisal: empty model table")
    val total = counts.map(_._2).sum
    require(total > 0L, "bitSurprisal: model has no probability mass")
    def bitLen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val probs = new java.util.HashMap[String, java.lang.Double](counts.length * 2)
    val bits = new java.util.HashMap[String, Integer](counts.length * 2)
    counts.foreach { case (p, c) =>
      probs.put(p, c.toDouble / total.toDouble)
      bits.put(p, if (c == 0L) bitLen(total) else bitLen(total / c) - 1)
    }
    val bcP = spark.sparkContext.broadcast(probs)
    val bcB = spark.sparkContext.broadcast(bits)
    docs.select(col(idCol), col(textCol))
      .select(col(idCol).cast("long").as("doc_id"),
        preTokensOf(textCol, byteLevel).as("_pts"))
      .as[(Long, Seq[String])].mapPartitions { it =>
        val m = bcP.value
        val bm = bcB.value
        val memo = new java.util.HashMap[String, (Int, Long)]()
        val cap = 1 << 20
        it.map { case (id, words) =>
          var n = 0L
          var sb = 0L
          words.foreach { w =>
            var s = memo.get(w)
            if (s == null) {
              val pieces = viterbi(w, m, maxPieceLen)
              var b = 0L
              pieces.foreach(p => b += bm.get(p).intValue())
              s = (pieces.length, b)
              if (memo.size > cap) memo.clear()
              memo.put(w, s)
            }
            n += s._1
            sb += s._2
          }
          (id, n, sb, if (n == 0L) 0.0 else sb.toDouble / n.toDouble)
        }
      }.toDF("doc_id", "n_tokens", "sum_bits", "avg_bits")
      .withColumnRenamed("doc_id", idCol)
  }

  /** UTF-8 unsigned byte order — binary string order on both engines. */
  private def utf8Less(a: String, b: String): Boolean =
    TextFunctions.utf8Less(a, b)

  /** The model's piece→id table: ids 0..|model|−1 in ascending binary piece
    * order — the deterministic convention (the oracle replays it with
    * `row_number() OVER (ORDER BY piece) − 1`). */
  def vocabIds(model: DataFrame): DataFrame = {
    val spark = model.sparkSession
    import spark.implicits._
    model.select(col("piece")).as[String].collect().sortWith(utf8Less)
      .zipWithIndex.toSeq.toDF("piece", "id")
      .select(col("piece"), col("id").cast("int").as("id"))
  }

  /** The token-ID form of [[encodeUnigramTokens]]: (doc_id, token_ids
    * array<int>) with ids from [[vocabIds]] — what a training pipeline
    * actually packs. Same broadcast + per-partition Zipf memo; integer
    * output keeps the corpus-wide pass cheap (strings are the expensive
    * half of the string surface at scale). */
  def encodeUnigramToIds(docs: DataFrame, idCol: String, textCol: String,
                         model: DataFrame, maxPieceLen: Int = 4,
                         byteLevel: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = model.select(col("piece"), col("cnt").cast("long"))
      .as[(String, Long)].collect()
    require(counts.nonEmpty, "encodeUnigramToIds: empty model table")
    val total = counts.map(_._2).sum
    val probs = new java.util.HashMap[String, java.lang.Double](counts.length * 2)
    counts.foreach { case (p, c) => probs.put(p, c.toDouble / total.toDouble) }
    val ids = new java.util.HashMap[String, Integer](counts.length * 2)
    counts.map(_._1).sortWith(utf8Less).zipWithIndex
      .foreach { case (p, i) => ids.put(p, i) }
    val bcP = spark.sparkContext.broadcast(probs)
    val bcI = spark.sparkContext.broadcast(ids)
    docs.select(col(idCol), col(textCol))
      .select(col(idCol).cast("long").as("doc_id"),
        preTokensOf(textCol, byteLevel).as("_pts"))
      .as[(Long, Seq[String])].mapPartitions { it =>
        val m = bcP.value
        val idm = bcI.value
        val memo = new java.util.HashMap[String, Array[Int]]()
        val cap = 1 << 20
        it.map { case (id, words) =>
          val out = Array.newBuilder[Int]
          words.foreach { w =>
            var s = memo.get(w)
            if (s == null) {
              s = viterbi(w, m, maxPieceLen).map(idm.get(_).intValue()).toArray
              if (memo.size > cap) memo.clear()
              memo.put(w, s)
            }
            out ++= s
          }
          (id, out.result())
        }
      }.toDF("doc_id", "token_ids")
  }
}
