package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** BPE merge-candidate counting — the corpus-scale half of tokenizer training
  * (Sennrich et al. 2016): rank adjacent symbol pairs by frequency; the top
  * pair becomes the next merge rule. The loop that applies a merge and
  * recounts is driver-side orchestration over this same primitive; the
  * expensive part — counting over 100 TB — is what must distribute.
  *
  * Scale shape, the classic trick: train on the WORD-FREQUENCY table, not the
  * raw corpus. Pass 1 aggregates pre-tokens ([[TextFunctions.bpeTokens]], the
  * GPT-2-convention pre-tokenizer) to (pre_token, freq) — vocabulary-sized,
  * map-side combined. Pass 2 explodes adjacent character pairs over DISTINCT
  * pre-tokens only and sums freq per pair: the pair count never touches corpus
  * cardinality, and top-k leaves through TakeOrderedAndProject. Integer sums
  * throughout — bit-stable under any partial-agg schedule.
  */
object BpeTrainer {

  /** Pre-token array of `textCol`; `byteLevel` remaps each pre-token to its
    * GPT-2 byte-level symbol string ([[graft.expressions.ByteRemap]]) so the
    * base alphabet is the fixed 256-entry byte table — no text can be OOV.
    * The remap inside the `transform` lambda touches only the lambda element
    * (the pre-tokenizer itself runs once, as transform's input — not the HOF
    * staging trap). */
  private def preTokens(textCol: String, byteLevel: Boolean) = {
    val pts = TextFunctions.bpeTokens(col(textCol))
    if (byteLevel) transform(pts, t => graft.expressions.ByteRemap.remap(t))
    else pts
  }

  /** (pre_token, freq) corpus word-frequency table — pass 1, reusable across
    * merge iterations. */
  def preTokenFrequencies(docs: DataFrame, textCol: String,
                          byteLevel: Boolean = false): DataFrame =
    docs.select(col(textCol))
      .select(explode(preTokens(textCol, byteLevel)).as("pre_token"))
      .groupBy(col("pre_token")).agg(count(lit(1)).as("freq"))

  /** Top-k adjacent character pairs by corpus frequency: (pair, cnt), ordered
    * (cnt desc, pair) — the first BPE merge iteration's candidate ranking. */
  def topPairs(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    preTokenFrequencies(docs, textCol)
      .filter(length(col("pre_token")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("pre_token")) - 1),
        i => col("pre_token").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
  }

  /** The FULL iterative BPE training loop (Sennrich et al. 2016 alg. 1):
    * `rounds` times, count adjacent SYMBOL pairs over the frequency table,
    * take the argmax, fuse that pair everywhere (greedy left-to-right,
    * non-overlapping — the reference algorithm's scan order), recount.
    * Output: the learned merge table (merge_idx, left_sym, right_sym, merged,
    * cnt), merge_idx 1..rounds — inherently tiny (it IS the tokenizer model).
    *
    * Ties rank (cnt desc, left_sym asc, right_sym asc) — binary UTF-8 order on
    * both engine sides, so merge order is deterministic and oracle-exact.
    *
    * Scale shape: every iteration touches only the VOCABULARY-sized symbol
    * table, never the corpus — pass 1 ([[preTokenFrequencies]]) is the single
    * corpus-wide job. Per round: one map-side-combined pair aggregate feeding
    * a 1-row TakeOrderedAndProject (the argmax), one scan-shaped fold applying
    * the merge, and a `localCheckpoint` to stop the per-round lineage from
    * compounding (same pattern as the connected-components rounds). The fold
    * is the textbook left-to-right pass: a merged symbol `left+right` can
    * never re-match `left` within the same round (`right` is non-empty), so
    * accumulator-last matching IS non-overlapping greedy application.
    *
    * Single-character pre-tokens are dropped up front: they can never
    * participate in a pair and merges only grow symbols, so they contribute
    * nothing in any round.
    *
    * `byteLevel` trains over byte-level symbol strings (one code point per
    * UTF-8 byte, [[graft.expressions.ByteRemap]]) — the substr splitter and
    * the whole round machinery are unchanged because each mapped byte IS one
    * code point. */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
                  byteLevel: Boolean = false): DataFrame = {
    require(rounds > 0, s"rounds must be positive: $rounds")
    val spark = docs.sparkSession
    val toSyms = transform(sequence(lit(1), length(col("pre_token"))),
      i => col("pre_token").substr(i, lit(1)))
    // No explicit repartition before the checkpoint: AQE sizes the frequency
    // aggregation's exchange to the data (advisory partition bytes), which is
    // the scale-adaptive answer — a vocabulary-sized table coalesces small
    // and each per-round sweep stays cheap, a 100 TB corpus's word table
    // keeps its parallelism. Forcing defaultParallelism here made every
    // per-round job pay 32 tasks of overhead on a tiny table (q113 1.82x
    // slower, measured r16).
    var table = preTokenFrequencies(docs, textCol, byteLevel)
      .filter(length(col("pre_token")) >= 2)
      .select(toSyms.as("syms"), col("freq"))
      .localCheckpoint()
    val merges = Seq.newBuilder[Row]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val best = table
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Row(round.toLong, l, r, l + r, cnt)
        // greedy L2R fuse: append, or replace a trailing `l` when `r` arrives.
        // get() (0-based) returns NULL on the empty accumulator — no ANSI
        // out-of-bounds, and NULL === l is null → otherwise-branch.
        val fused = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => when(get(acc, size(acc) - 1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s))))
        val prev = table
        table = table.select(fused.as("syms"), col("freq")).localCheckpoint()
        prev.unpersist()
        round += 1
      }
    }
    val schema = StructType(Seq(
      StructField("merge_idx", LongType, nullable = false),
      StructField("left_sym", StringType, nullable = false),
      StructField("right_sym", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(merges.result().asJava, schema)
  }

  /** The trained merge table as driver rows (left, right, merged) in merge
    * order — BOUNDED collect: the merge table IS the tokenizer model
    * (vocab-sized by construction, one row per training round). */
  def collectMerges(merges: DataFrame): Array[Array[String]] =
    merges.orderBy(col("merge_idx"))
      .select(col("left_sym"), col("right_sym"), col("merged"))
      .collect()
      .map(r => Array(r.getString(0), r.getString(1), r.getString(2)))

  /** Token vocabulary (sym, id): the corpus pre-token alphabet in binary
    * string order takes ids 0..A-1, merge products take A + merge_idx − 1;
    * duplicate strings (two merges CAN produce the same product) keep the
    * lowest id. Built driver-side — both inputs are vocab-sized by
    * construction (the alphabet collect is the distinct single code points of
    * the corpus; the one corpus-wide job is [[preTokenFrequencies]], already
    * map-side combined).
    *
    * In `byteLevel` mode the base alphabet is NOT corpus-derived: it is the
    * full fixed 256-entry byte table (sorted — code-point order IS binary
    * UTF-8 order for these chars), so every symbol any future text can
    * produce already has an id — OOV is impossible by construction. */
  def vocab(docs: DataFrame, textCol: String, merges: DataFrame,
            byteLevel: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val alpha =
      if (byteLevel) graft.expressions.ByteRemap.byteToChar.map(_.toString).sorted
      else preTokenFrequencies(docs, textCol)
        .select(explode(transform(sequence(lit(1), length(col("pre_token"))),
          i => col("pre_token").substr(i, lit(1)))).as("sym"))
        .distinct().orderBy(col("sym"))
        .collect().map(_.getString(0))
    val entries = alpha.zipWithIndex.map { case (s, i) => (s, i) } ++
      collectMerges(merges).zipWithIndex.map { case (m, i) => (m(2), alpha.length + i) }
    val deduped = entries.groupBy(_._1).map { case (s, es) => (s, es.map(_._2).min) }
      .toSeq.sortBy(_._2)
    import spark.implicits._
    deduped.toDF("sym", "id").select(col("sym"), col("id").cast("int").as("id"))
  }

  /** Append `outCol`: BPE token SYMBOLS of `textCol` under the trained merge
    * table — sequential learn-order replay, the exact fold [[trainMerges]]
    * applies (contract details on [[graft.expressions.BpeCodec]]). Scan-side:
    * pre-tokenize + one native [[graft.expressions.BpeApply]] call per row,
    * no shuffle, no explode. Losslessness invariant (spec-pinned):
    * array_join(outCol, "") == the original text — merges only regroup
    * characters, and the GPT-2 pre-tokenizer pattern covers every character.
    * In `byteLevel` mode the invariant is
    * ByteRemap.unremapString(array_join(outCol, "")) == the original text
    * (symbols are byte-level; the remap is a bijection). */
  def encode(docs: DataFrame, textCol: String, merges: DataFrame,
             outCol: String = "bpe_tokens", byteLevel: Boolean = false): DataFrame =
    docs.withColumn(outCol, graft.expressions.BpeApply.symbols(
      preTokens(textCol, byteLevel), collectMerges(merges)))

  /** Append `outCol`: BPE token IDS of `textCol` under (merges, vocab) — the
    * form downstream packing/length operators consume. Same scan-side shape
    * as [[encode]]. Symbols outside the vocab RAISE by default (loud on
    * corpus/vocab alphabet mismatch); `oovId = Some(x)` opts into graceful
    * degradation for open text (unknown symbols map to the sentinel — pick
    * one outside the vocab range, e.g. −2, and handle it downstream).
    * A `byteLevel` encode against a `byteLevel` vocab cannot raise: the
    * vocab's base alphabet is the full 256-entry byte table, so every
    * symbol of every text is priced — the structural fix the opt-in
    * sentinel only approximates. */
  def encodeToIds(docs: DataFrame, textCol: String, merges: DataFrame,
                  vocabDf: DataFrame, outCol: String = "token_ids",
                  oovId: Option[Int] = None, byteLevel: Boolean = false): DataFrame = {
    val v = vocabDf.orderBy(col("id")).select(col("sym"), col("id").cast("int"))
      .collect()
    docs.withColumn(outCol, graft.expressions.BpeApply.ids(
      preTokens(textCol, byteLevel), collectMerges(merges),
      v.map(_.getString(0)), v.map(_.getInt(1)), oovId))
  }
}
