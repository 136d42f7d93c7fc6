package graft.queries

import graft.functions.TextFunctions
import graft.operators.{DedupSuite, HeavyHitters, Multimodal, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the `documents` / `embeddings` tables:
  * text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding near-dup), similarity search, multimodal plumbing — each with a
  * DuckDB oracle.
  *
  * Vector-math oracles are generated programmatically as unrolled left-associative
  * double chains, which are bit-identical to the Spark side's higher-order-function
  * folds (IEEE: `0.0 + x == x`, fold order == chain order).
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Unrolled Σ a[j]*b[j] over 64 dims, left-assoc, double. */
  private def dotSql(a: String, b: String): String =
    (1 to 64).map(j =>
      s"CAST($a.embedding[$j] AS DOUBLE)*CAST($b.embedding[$j] AS DOUBLE)")
      .mkString(" + ")

  private val tokensSql = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  /** The q88 language-suffix / profile-list pair, derived from the single
    * source of truth ([[TextFunctions.LanguageProfiles]]) on both engine sides. */
  private def langProfile(lang: String): Seq[String] =
    TextFunctions.LanguageProfiles.find(_._1 == lang).get._2
  private def langSuffix(lang: String): String = " " + langProfile(lang).mkString(" ")
  private def langListSql(lang: String): String =
    langProfile(lang).map(w => s"'$w'").mkString(", ")

  /** Planted boilerplate lines for the q92/q93 line-dedup pair (doc-frequency
    * by construction: ~N/3, ~N/13, ~N/250 docs). */
  private val Boiler: Seq[(Int, String)] = Seq(
    3 -> "subscribe to our newsletter for updates",
    13 -> "all rights reserved copyright notice",
    250 -> "rare footer appears almost nowhere")

  /** Newline-structured corpus for the line-dedup queries: 12-token chunk
    * lines + boilerplate planted at [[Boiler]] frequencies + a within-doc
    * repeat of line 1 for doc_id % 5 == 0. [[linedCtes]] is the oracle twin. */
  private def linedDocs(docs: DataFrame): DataFrame = {
    val emptyArr = typedLit(Seq.empty[String])
    val chunked = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_toks"))
      // empty-token guard: sequence(1, 0) defaults to step -1 and yields
      // [1, 0] (two phantom lines) where DuckDB's generate_series(1, 0) is
      // empty — a latent cross-engine divergence even though the fixture has
      // no empty docs
      .select(col("doc_id"), when(size(col("_toks")) === 0, emptyArr).otherwise(
        transform(
          sequence(lit(1L), floor((size(col("_toks")) - 1).cast("double") / 12.0) + 1L),
          i => array_join(slice(col("_toks"), ((i - lit(1L)) * 12L + 1L).cast("int"),
            lit(12)), " "))).as("_ls"))
    val planted = Boiler.foldLeft(chunked) { case (df, (m, line)) =>
      df.withColumn("_ls", concat(col("_ls"),
        when(pmod(col("doc_id"), lit(m)) === 0, array(lit(line))).otherwise(emptyArr)))
    }
    planted
      .select(col("doc_id"), concat(col("_ls"),
        when(pmod(col("doc_id"), lit(5)) === 0, array(element_at(col("_ls"), 1)))
          .otherwise(emptyArr)).as("_ls"))
      .select(col("doc_id"), array_join(col("_ls"), "\n").as("text"))
  }

  /** Oracle CTEs ending in `lines(doc_id, ls)` — the q92/q93 construction twin
    * of [[linedDocs]] (no leading WITH; callers splice). */
  private def linedCtes: String = {
    val boilerSql = Boiler.map { case (m, line) =>
      s"(CASE WHEN doc_id % $m = 0 THEN ['$line'] ELSE []::VARCHAR[] END)"
    }.mkString(" || ")
    s"""t0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |l0 AS (SELECT doc_id, [array_to_string(t[(i-1)*12+1:(i)*12], ' ')
       |  FOR i IN generate_series(1, (len(t)+11)//12)] AS ls FROM t0),
       |l1 AS (SELECT doc_id, ls || $boilerSql AS ls FROM l0),
       |lines AS (SELECT doc_id,
       |  ls || (CASE WHEN doc_id % 5 = 0 THEN [ls[1]] ELSE []::VARCHAR[] END) AS ls
       |  FROM l1)""".stripMargin
  }

  /** q94's fixed retrieval query (terms from the corpus vocabulary). */
  private val Bm25Terms = Seq("spark", "window", "table")

  /** q137 fixture arithmetic: gray of pixel p (row-major 0..63) of doc `id`'s
    * 8×8 image. Own image for doc_id%5 ∈ {0,3,4}; doc_id%5==1 is a planted
    * NEAR-dup of doc_id−1 (pixel 0 nudged ±48, no wrap); doc_id%5==2 is a
    * pixel-identical re-encode of doc_id−2 (the recompress case). The mod-256
    * construction is NOT a uniform brightness shift across bases (wrap-around
    * reorders pixels vs the mean), so distinct bases get uncorrelated hashes.
    * The oracle replays this closed form through luma ≡ gray (r=g=b PNGs),
    * the cross-multiplied aHash threshold, banding, and integer L1. */
  private def grayFor(id: Long, p: Int): Int = {
    val b = if (id % 5 == 1) id - 1 else if (id % 5 == 2) id - 2 else id
    val g0 = ((1000003L * (b + 1) + 55L * (p + 1) + b * p.toLong * p) % 256).toInt
    if (id % 5 == 1 && p == 0) { if (g0 < 128) g0 + 48 else g0 - 48 } else g0
  }

  /** Distributed q137 fixture: REAL 8×8 grayscale PNGs (encodePngGray) from
    * [[grayFor]], one per document — the hash pipeline must decode them with
    * the real codec to reproduce the oracle's arithmetic. */
  private def imageFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // widen the id scan first (unconditionally — the caller declares the
    // compute heavy): payload synthesis + codec encode is the heavy per-row
    // leg over 8-byte rows, and a single-row-group corpus file plans as ONE
    // task
    graft.operators.Spread.widenForCompute(docs.select(col("doc_id"))).as[Long].map { id =>
      (id, graft.operators.Multimodal.encodePngGray(8, 8,
        Array.tabulate(64)(p => grayFor(id, p))))
    }.toDF("media_id", "payload")
  }

  /** q147 fixture arithmetic: gray of pixel p (row-major 0..63) of frame f
    * of the clip whose SOURCE polynomial is (sb, sf). Base clips carry 6
    * frames f=0..5 with (sb,sf)=(id,f); doc_id%7==1 is a byte-identical
    * RE-ENCODE of doc_id−1; %7==2 is a TRIM (frames 1..4 of doc_id−2);
    * %7==3 replaces frame 3 of doc_id−3 with its own polynomial (sb=id,
    * sf=97) — the partial-edit case. The oracle replays this closed form
    * through the per-frame aHash, frame-level banding, and the directional
    * containment verify. */
  private def vidGray(sb: Long, sf: Long, p: Int): Int =
    ((1000003L * (sb + 1) + 7919L * (sf + 1) + 55L * (p + 1)
      + sb * p.toLong * p + sf * p) % 256).toInt

  /** Distributed q147 fixture: REAL multi-frame grayscale GIFs
    * (encodeGifGray — lossless indexed palette) from [[vidGray]], one clip
    * per document. */
  private def videoFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // widen the id scan first (unconditionally — the caller declares the
    // compute heavy): payload synthesis + codec encode is the heavy per-row
    // leg over 8-byte rows, and a single-row-group corpus file plans as ONE
    // task
    graft.operators.Spread.widenForCompute(docs.select(col("doc_id"))).as[Long].map { id =>
      val frames: Seq[Array[Int]] = (id % 7) match {
        case 1 => (0 until 6).map(f => Array.tabulate(64)(p => vidGray(id - 1, f, p)))
        case 2 => (1 to 4).map(f => Array.tabulate(64)(p => vidGray(id - 2, f, p)))
        case 3 => (0 until 6).map(f => Array.tabulate(64)(p =>
          if (f == 3) vidGray(id, 97, p) else vidGray(id - 3, f, p)))
        case _ => (0 until 6).map(f => Array.tabulate(64)(p => vidGray(id, f, p)))
      }
      (id, graft.operators.Multimodal.encodeGifGray(frames, 8, 8))
    }.toDF("media_id", "payload")
  }

  /** q153 fixture arithmetic: PCM sample t (0..2047) of doc `id`'s clip.
    * Own signal for doc_id%5 ∈ {0,3,4}; doc_id%5==1 is a planted NEAR-dup of
    * doc_id−1 (first 32 samples — frame 0 — nudged +192, no clipping);
    * doc_id%5==2 is a sample-identical re-encode of doc_id−2. The mod-4096
    * construction gives uncorrelated energy profiles across bases; the
    * oracle replays this closed form through per-frame |s| sums, the
    * cross-multiplied threshold, banding, and integer L1. */
  private def audioSample(id: Long, t: Int): Int = {
    val b = if (id % 5 == 1) id - 1 else if (id % 5 == 2) id - 2 else id
    val s0 = ((1000003L * (b + 1) + 55L * (t + 1) + b * t.toLong * t) % 4096L).toInt - 2048
    if (id % 5 == 1 && t < 32) s0 + 192 else s0
  }

  /** Distributed q153 fixture: REAL 2048-sample 16-bit mono WAVs
    * ([[graft.operators.Multimodal.encodeWav]]) from [[audioSample]] — the
    * hash pipeline must parse the RIFF container to reproduce the oracle's
    * arithmetic. */
  private def audioFixture(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NO widen here, unlike the image/video fixtures: WAV synthesis is a
    // headerless sample dump (no zlib/LZW compression leg), so the per-row
    // compute never pays for the repartition — and a widened fixture makes
    // every index save/append write 32 tiny files per generation instead of
    // one, which the banding probes then re-read (measured: q153 1.38→2.33 s,
    // q161 3.50→7.98 s, q165 3.83→8.42 s when r16 widened this fixture).
    docs.select(col("doc_id")).as[Long].map { id =>
      (id, graft.operators.Multimodal.encodeWav(
        Array.tabulate(2048)(t => audioSample(id, t).toShort), 8000))
    }.toDF("media_id", "payload")
  }

  /** q151/q152 fixture: the documents corpus rebuilt with PLANTED repetition
    * so every Gopher signal is exercised — doc_id%4 extra copies of the first
    * 6 tokens appended (duplicated 5-grams + a dominant 2-gram), tokens
    * chunked into 8-token lines with line 1 re-appended for doc_id%3==0
    * (duplicate lines), lines paired into \n-joined paragraphs with paragraph
    * 1 re-appended for doc_id%4==0 (duplicate paragraphs), paragraphs joined
    * by \n\n. [[repCtes]] is the oracle twin; both sides re-derive lines /
    * paragraphs / tokens from the SAME final text string. */
  private def repFixture(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("_t"))
    val rep = toks.select(col("doc_id"),
      concat(col("_t"), flatten(array_repeat(slice(col("_t"), 1, 6),
        pmod(col("doc_id"), lit(4)).cast("int")))).as("_t"))
    // zero-token guard: sequence(1, 0) is the DESCENDING [1, 0] in Spark
    // (two phantom empty lines) while the oracle's generate_series(1, 0) is
    // empty — both chunkings must agree on degenerate docs
    val lined = rep.select(col("doc_id"),
      when(size(col("_t")) === 0, typedLit(Seq.empty[String])).otherwise(
        transform(
          sequence(lit(1L), floor((size(col("_t")) - 1).cast("double") / 8.0).cast("long") + 1L),
          i => array_join(slice(col("_t"), ((i - 1L) * 8L + 1L).cast("int"), lit(8)), " ")))
        .as("_ls"))
    val lPlant = lined.select(col("doc_id"),
      concat(col("_ls"),
        when(pmod(col("doc_id"), lit(3)) === 0, array(element_at(col("_ls"), 1)))
          .otherwise(typedLit(Seq.empty[String]))).as("_ls"))
    val paras = lPlant.select(col("doc_id"),
      when(size(col("_ls")) === 0, typedLit(Seq.empty[String])).otherwise(
        transform(
          sequence(lit(1L), floor((size(col("_ls")) - 1).cast("double") / 2.0).cast("long") + 1L),
          i => array_join(slice(col("_ls"), ((i - 1L) * 2L + 1L).cast("int"), lit(2)), "\n")))
        .as("_ps"))
    val pPlant = paras.select(col("doc_id"),
      concat(col("_ps"),
        when(pmod(col("doc_id"), lit(4)) === 0, array(element_at(col("_ps"), 1)))
          .otherwise(typedLit(Seq.empty[String]))).as("_ps"))
    // stage the synthesized text ONCE: withRepetitionSignals derives five
    // columns from it, and without the lineage cut each would re-run the
    // whole chunk/plant chain per row (the fixture dominated q152/q156)
    pPlant.select(col("doc_id"), array_join(col("_ps"), "\n\n").as("text"))
      .localCheckpoint()
  }

  /** Oracle construction CTEs ending in `tr(doc_id, text)` — the twin of
    * [[repFixture]] (no leading WITH; callers splice). */
  private val repCtes: String =
    s"""rt0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |rr0 AS (SELECT doc_id,
       |  t || flatten([t[1:6] FOR x IN generate_series(1, doc_id % 4)]) AS t FROM rt0),
       |rl0 AS (SELECT doc_id, [array_to_string(t[(i-1)*8+1:i*8], ' ')
       |  FOR i IN generate_series(1, (len(t)+7)//8)] AS ls FROM rr0),
       |rl1 AS (SELECT doc_id,
       |  ls || (CASE WHEN doc_id % 3 = 0 THEN [ls[1]] ELSE []::VARCHAR[] END) AS ls FROM rl0),
       |rp0 AS (SELECT doc_id, [array_to_string(ls[(i-1)*2+1:i*2], chr(10))
       |  FOR i IN generate_series(1, (len(ls)+1)//2)] AS ps FROM rl1),
       |rp1 AS (SELECT doc_id,
       |  ps || (CASE WHEN doc_id % 4 = 0 THEN [ps[1]] ELSE []::VARCHAR[] END) AS ps FROM rp0),
       |tr AS (SELECT doc_id, array_to_string(ps, chr(10) || chr(10)) AS text FROM rp1)""".stripMargin

  /** Line + paragraph duplicate-signal CTEs over `tr` ending in
    * `lsig`/`psig` — shared by the q151 oracle and q152's pass flag.
    * `sum(c−1)` ≡ the engine's total−distinct; `sum((c−1)·len)` ≡ its sorted
    * adjacency pass. */
  private val repSegSigCtes: String =
    s"""rln AS (SELECT doc_id, l FROM tr, LATERAL unnest(string_split(text, chr(10))) AS u(l)),
       |rlc AS (SELECT doc_id, l, count(*) AS c FROM rln GROUP BY 1, 2),
       |lsig AS (SELECT doc_id,
       |  CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_line_frac,
       |  CASE WHEN sum(c * length(l)) = 0 THEN 0.0
       |       ELSE CAST(sum((c - 1) * length(l)) AS DOUBLE)
       |            / CAST(sum(c * length(l)) AS DOUBLE) END AS dup_line_char_frac
       |  FROM rlc GROUP BY 1),
       |rpn AS (SELECT doc_id, p
       |  FROM tr, LATERAL unnest(string_split(text, chr(10) || chr(10))) AS u(p)),
       |rpc AS (SELECT doc_id, p, count(*) AS c FROM rpn GROUP BY 1, 2),
       |psig AS (SELECT doc_id,
       |  CAST(sum(c - 1) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup_para_frac,
       |  CASE WHEN sum(c * length(p)) = 0 THEN 0.0
       |       ELSE CAST(sum((c - 1) * length(p)) AS DOUBLE)
       |            / CAST(sum(c * length(p)) AS DOUBLE) END AS dup_para_char_frac
       |  FROM rpc GROUP BY 1)""".stripMargin

  /** q113's merge-round count (shared by the query and the unrolled oracle). */
  private val BpeTrainRounds = 6

  /** Unrolled DuckDB replay of `BpeTrainRounds` BPE merge rounds — the oracle
    * twin of [[graft.operators.BpeTrainer.trainMerges]]. State between rounds
    * is the EXPLODED symbol table t{r}(word, freq, i, s); each round:
    *   c: pair view via lead();  b: the argmax merge (cnt desc, pair asc);
    *   d-g: greedy L2R selection — within a run of CONSECUTIVE candidate
    *        positions (only possible when left=right) keep odd run offsets,
    *        which IS non-overlapping left-to-right application;
    *   h-t: fuse selected starts (s || next), drop absorbed successors,
    *        re-index.
    * All counts are integer sums; tie-break is binary string order on both
    * engines. */
  private def bpeTrainOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_idx, lft AS left_sym, rgt AS right_sym,
         |  lft || rgt AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$r""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")
    s"WITH ${bpeTrainCtes(rounds)}$unions ORDER BY merge_idx"
  }

  /** The q113 training replay's CTE body (pt, f, t0, then per-round c/b/d/e/
    * f/g/h/t chains) WITHOUT the leading WITH — shared by the q113 oracle and
    * the q136 encode oracle, whose central identity is that encoding the
    * training corpus reads the symbols straight off t{rounds}. */
  private def bpeTrainCtes(rounds: Int): String = {
    val t0 =
      s"""pt AS (SELECT unnest(regexp_extract_all(text,
         |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS p
         | FROM documents),
         |f AS (SELECT p, count(*) AS freq FROM pt GROUP BY 1),
         |t0 AS (SELECT p AS word, freq, CAST(i AS INT) AS i,
         |    substr(p, CAST(i AS INT), 1) AS s
         |  FROM f, LATERAL unnest(generate_series(1, length(p))) AS g(i)
         |  WHERE length(p) >= 2)""".stripMargin
    s"$t0,\n${bpeRoundCtes(rounds)}"
  }

  /** The per-round c/b/d/e/f/g/h/t replay chain over a `t0(word, freq, i, s)`
    * exploded symbol table — shared by the code-point ([[bpeTrainCtes]]) and
    * byte-level ([[bpeTrainCtesByteLevel]]) preambles: the round machinery is
    * alphabet-agnostic. `c`, `b` and `t` are MATERIALIZED: `c` is read by
    * `b` and `d`, `b` twice inside `d`, and DuckDB inlines an unmarked CTE
    * into every reference, so each round would multiply the work of all
    * earlier ones — q136's oracle ran out of a 4 GB cap after 103 s inlined
    * and takes 0.6 s at 206 MB materialized (DuckDB 1.0.0). */
  private def bpeRoundCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (SELECT word, freq, i, s,
         |    lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt FROM t${r - 1}),
         |b$r AS MATERIALIZED (SELECT s AS lft, nxt AS rgt, sum(freq) AS cnt FROM c$r
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |d$r AS (SELECT word, freq, i, s, nxt,
         |    coalesce(s = (SELECT lft FROM b$r) AND nxt = (SELECT rgt FROM b$r),
         |      false) AS cand FROM c$r),
         |e$r AS (SELECT *, CASE WHEN cand THEN row_number() OVER
         |    (PARTITION BY word, cand ORDER BY i) END AS cseq FROM d$r),
         |f$r AS (SELECT *, CASE WHEN cand THEN row_number() OVER
         |    (PARTITION BY word, (i - cseq) ORDER BY i) END AS runpos FROM e$r),
         |g$r AS (SELECT *, coalesce(cand AND runpos % 2 = 1, false) AS sel FROM f$r),
         |h$r AS (SELECT *, coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i),
         |    false) AS absorbed FROM g$r),
         |t$r AS MATERIALIZED (SELECT word, freq,
         |    CAST(row_number() OVER (PARTITION BY word ORDER BY i) AS INT) AS i,
         |    CASE WHEN sel THEN s || nxt ELSE s END AS s
         |  FROM h$r WHERE NOT absorbed)""".stripMargin
    }
    roundCtes.mkString(",\n")
  }

  /** q170/q171's geometry (unigram-LM tokenizer training). */
  private val UnigramMaxPieceLen = 4
  private val UnigramVocabSize = 60
  private val UnigramIters = 2
  /** q174's shrink target (multi-char pieces kept between EM iterations). */
  private val UnigramPruneTo = 20
  /** q177's perplexity-gate threshold (avg bits/token under the q170 model)
    * — calibrated inside the sf0.01 corpus distribution (min 4.23, p70
    * ≈ 4.457, max 4.72 over the quality/language survivors), so the gate
    * drops a real ~30% slice instead of being vacuous. */
  private val UnigramGateMaxAvgBits = 4.46
  /** q179's KN-trigram gate threshold — same calibration discipline
    * (sf0.01 survivors: min 2.55, p70 ≈ 3.881, max 4.17). */
  private val KnGateMaxAvgBits = 3.88

  /** One Viterbi pass as CTEs (no WITH): `pr$tag` piece probabilities (ONE
    * IEEE division per piece over `vocabCte`'s counts), `dp$tag` the
    * recursive forward DP over `wordsCte(word, freq)` — α carried as a
    * 4-slot window, the chosen last-piece length appended per position,
    * candidates joined against the vocabulary with ties to (val desc, len
    * desc) — `bt$tag` the backtrace walk, `pieces$tag` the chosen
    * segmentation pieces with their end positions. The LEFT LATERAL + the
    * α-reachability guard make unreachable positions carry NULL (the
    * encode-mode contract; training never hits it — every corpus character
    * is a seeded single). */
  private def unigramViterbiCtes(tag: String, vocabCte: String,
                                 wordsCte: String): String = {
    // the α window carries exactly maxLen slots — the CASE arms, the base
    // NULL columns, and the recursive shift all derive from the SAME
    // constant, so a geometry bump cannot silently mis-index the DP
    val maxLen = UnigramMaxPieceLen
    val aPrev = "(CASE CAST(g.l AS INT) " +
      (1 until maxLen).map(i => s"WHEN $i THEN d.a${i - 1}").mkString(" ") +
      s" ELSE d.a${maxLen - 1} END)"
    val aBase = (s"CAST(1.0 AS DOUBLE) AS a0" +:
      (1 until maxLen).map(i => s"CAST(NULL AS DOUBLE) AS a$i")).mkString(", ")
    val aShift = (0 until maxLen - 1).map(i => s"d.a$i").mkString(", ")
    // FUSED carried-model DP (the q177 form): the vocabulary rides the
    // recursion as a per-row struct LIST built once in the BASE case, and
    // the recursive step unnests d.vl instead of referencing pr$tag. Two
    // reasons, both measured: (1) DuckDB 1.0 inlines a non-recursive CTE
    // referenced from a recursive step PER RECURSION STEP — with pr$tag's
    // chain bottoming out at the corpus frequency pass that was the whole
    // oracle's cost; (2) a MATERIALIZED CTE referenced from inside a
    // recursive step RACES under DuckDB 1.0's parallel pipelines and
    // intermittently returns wrong rows (the q176 flake: 390-row results in
    // ~2/8 contended runs, engine side correct). Base-case scalar subqueries
    // evaluate exactly once, so the carried list is both race-free and pays
    // the vocab chain once.
    s"""pr$tag AS (SELECT piece,
       |    CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) FROM $vocabCte) AS pp
       |  FROM $vocabCte),
       |dp$tag AS (
       |  SELECT word, freq, 0 AS j,
       |    $aBase,
       |    CAST([] AS INT[]) AS bls,
       |    (SELECT list(struct_pack(piece := piece, pp := pp)) FROM pr$tag) AS vl
       |  FROM $wordsCte
       |  UNION ALL
       |  SELECT d.word, d.freq, d.j + 1, c.val, $aShift,
       |    list_append(d.bls, c.lx), d.vl
       |  FROM dp$tag d LEFT JOIN LATERAL (
       |    SELECT $aPrev * u.s.pp AS val, CAST(g.l AS INT) AS lx
       |    FROM unnest(generate_series(1, least($maxLen, CAST(d.j AS BIGINT) + 1))) AS g(l),
       |      LATERAL unnest(d.vl) AS u(s)
       |    WHERE u.s.piece = substr(d.word, d.j + 2 - CAST(g.l AS INT), CAST(g.l AS INT))
       |      AND $aPrev IS NOT NULL
       |    ORDER BY val DESC, lx DESC LIMIT 1
       |  ) c ON true
       |  WHERE d.j < length(d.word)
       |),
       |bt$tag AS (
       |  SELECT word, freq, CAST(length(word) AS INT) AS pos, bls
       |  FROM dp$tag WHERE j = length(word)
       |  UNION ALL
       |  SELECT word, freq, pos - bls[pos], bls FROM bt$tag WHERE pos > 0
       |),
       |pieces$tag AS (SELECT word, freq, pos,
       |    substr(word, pos - bls[pos] + 1, bls[pos]) AS piece
       |  FROM bt$tag WHERE pos > 0 AND bls[pos] IS NOT NULL)""".stripMargin
  }

  /** The unrolled hard-EM unigram-LM training replay (no WITH; callers say
    * WITH RECURSIVE): pt/f pre-token frequencies, s0 substring seeds, c0 the
    * FIXED vocabulary (top-V multi-char by (cnt desc, piece asc) + every
    * single), then per iteration r the Viterbi pass over c{r−1}'s counts and
    * the integer recount c$r over the fixed set (zeros kept — a zero-count
    * piece stays a probability-0 candidate, the trainer's convention). */
  private def unigramTrainCtes(iters: Int, pruneTo: Option[Int] = None,
                               byteLevel: Boolean = false): String = {
    // code-point regime: pre-token frequencies f(p, freq) directly off the
    // text; singles floor = the corpus alphabet. Byte-level regime: the same
    // chain over REMAPPED words (hex(encode(w)) split into byte pairs
    // against the 256-row map — the q146 construction), with the singles
    // floor being the FIXED byte alphabet at coalesce(corpus cnt, 0) — the
    // byte-fallback vocabulary, retained at count 0.
    val freqCtes =
      if (!byteLevel)
        s"""pt AS (SELECT unnest(regexp_extract_all(text,
           |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS p
           | FROM documents),
           |f AS (SELECT p, count(*) AS freq FROM pt GROUP BY 1)""".stripMargin
      else
        s"""rm(hx, ch) AS (SELECT * FROM (VALUES $byteRemapValuesSql)),
           |pt AS (SELECT unnest(regexp_extract_all(text,
           |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS orig
           | FROM documents),
           |fw AS (SELECT orig, count(*) AS freq FROM pt GROUP BY 1),
           |fh AS (SELECT orig, freq, hex(encode(orig)) AS hx FROM fw),
           |fr AS (SELECT fh.orig, fh.freq,
           |    string_agg(r.ch, '' ORDER BY g.i) AS p
           |  FROM fh, LATERAL unnest(generate_series(1, length(fh.hx) // 2)) AS g(i)
           |  JOIN rm r ON r.hx = substr(fh.hx, CAST(2 * g.i - 1 AS INT), 2)
           |  GROUP BY fh.orig, fh.freq),
           |f AS (SELECT p, freq FROM fr)""".stripMargin
    val singlesCte =
      if (!byteLevel) "SELECT piece, cnt FROM s0 WHERE length(piece) = 1"
      else """SELECT r.ch AS piece, CAST(coalesce(s.cnt, 0) AS BIGINT) AS cnt
             |  FROM rm r LEFT JOIN (SELECT piece, cnt FROM s0
             |    WHERE length(piece) = 1) s ON s.piece = r.ch""".stripMargin
    val pre =
      s"""$freqCtes,
         |w AS (SELECT p AS word, freq FROM f),
         |s0 AS (SELECT substr(p, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM f,
         |    LATERAL unnest(generate_series(1, length(p))) AS gi(i),
         |    LATERAL unnest(generate_series(1,
         |      least($UnigramMaxPieceLen, length(p) - i + 1))) AS gl(l)
         |  GROUP BY 1),
         |c0 AS (SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM s0 WHERE length(piece) >= 2) z WHERE rn <= $UnigramVocabSize
         |  UNION ALL $singlesCte)""".stripMargin
    // the ACTIVE candidate set feeding iteration r+1: the recount itself
    // when unpruned (same pieces as c0 — only the counts move), the shrunk
    // a$r when the SentencePiece prune loop is engaged between iterations
    def active(r: Int): String =
      if (r == 0) "c0"
      else if (pruneTo.isDefined && r < iters) s"a$r" else s"c$r"
    val rounds = (1 to iters).flatMap { r =>
      val recount =
        s"""c$r AS (SELECT v.piece,
           |    CAST(coalesce(s.cnt, 0) AS BIGINT) AS cnt
           |  FROM ${active(r - 1)} v LEFT JOIN (SELECT piece, sum(freq) AS cnt
           |      FROM pieces$r GROUP BY 1) s
           |    ON v.piece = s.piece)""".stripMargin
      val prune = if (pruneTo.isDefined && r < iters) Seq(
        s"""a$r AS (SELECT piece, cnt FROM (
           |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
           |    FROM c$r WHERE length(piece) >= 2) z WHERE rn <= ${pruneTo.get}
           |  UNION ALL SELECT piece, cnt FROM c$r WHERE length(piece) = 1)""".stripMargin)
        else Nil
      Seq(unigramViterbiCtes(r.toString, active(r - 1), "w"), recount) ++ prune
    }
    (pre +: rounds).mkString(",\n")
  }

  private def unigramTrainOracleSql: String =
    s"""WITH RECURSIVE ${unigramTrainCtes(UnigramIters)}
       |SELECT piece, cnt FROM c$UnigramIters WHERE cnt > 0 ORDER BY piece""".stripMargin

  /** q174: the pruned-training replay — the q170 chain with the shrink CTE
    * between iterations (singles + top-`UnigramPruneTo` multi-char). */
  private def unigramPrunedTrainOracleSql: String =
    s"""WITH RECURSIVE ${unigramTrainCtes(UnigramIters, Some(UnigramPruneTo))}
       |SELECT piece, cnt FROM c$UnigramIters WHERE cnt > 0 ORDER BY piece""".stripMargin

  /** The encode replay's CTE body (no WITH; ends in `sq(doc_id, pos, token)`
    * and `vf(piece, cnt)`): the training CTEs feed a final-model Viterbi
    * pass (positive pieces only) over the %25 sample's distinct pre-tokens,
    * joined back to per-document pre-token sequences in order. Shared by
    * the q171/q172 string surface and the q173 id surface. */
  private def unigramEncodeCtes: String =
    s"""${unigramTrainCtes(UnigramIters)},
       |vf AS (SELECT piece, cnt FROM c$UnigramIters WHERE cnt > 0),
       |dtl AS (SELECT doc_id, regexp_extract_all(text,
       |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS tl
       |  FROM documents WHERE doc_id % 25 = 0),
       |dpt AS MATERIALIZED (SELECT doc_id, CAST(pi AS INT) AS pti,
       |    tl[CAST(pi AS INT)] AS word
       |  FROM dtl, LATERAL unnest(generate_series(1, len(tl))) AS gp(pi)),
       |we AS (SELECT DISTINCT word, CAST(1 AS BIGINT) AS freq FROM dpt),
       |${unigramViterbiCtes("e", "vf", "we")},
       |sq AS (SELECT d.doc_id,
       |    CAST(row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY d.pti, pe.pos) AS BIGINT) AS pos, pe.piece AS token
       |  FROM dpt d JOIN piecese pe ON d.word = pe.word)""".stripMargin

  /** Byte-fallback twin of [[unigramEncodeCtes]] over encode source
    * `encSrc(doc_id, text)`: the byteLevel training chain (fixed-alphabet
    * singles floor), the final model KEEPING count-0 singles (`vf` — the
    * byte-fallback vocabulary), and the %25 sample's pre-tokens REMAPPED
    * through the byte table before the Viterbi pass — so a pre-token from a
    * script the training corpus never saw reaches the DP as in-alphabet
    * byte symbols (probability-0 path, ties to the longer piece) instead of
    * stranding. Ends in `sq(doc_id, pos, token)`. */
  private def unigramEncodeCtesByteLevel(encSrc: String): String =
    s"""${unigramTrainCtes(UnigramIters, byteLevel = true)},
       |vf AS (SELECT piece, cnt FROM c$UnigramIters
       |  WHERE cnt > 0 OR length(piece) = 1),
       |dtl AS (SELECT doc_id, regexp_extract_all(text,
       |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS tl
       |  FROM $encSrc WHERE doc_id % 25 = 0),
       |dpt AS MATERIALIZED (SELECT doc_id, CAST(pi AS INT) AS pti,
       |    tl[CAST(pi AS INT)] AS orig
       |  FROM dtl, LATERAL unnest(generate_series(1, len(tl))) AS gp(pi)),
       |dwh AS (SELECT DISTINCT orig, hex(encode(orig)) AS hx FROM dpt),
       |dwr AS MATERIALIZED (SELECT orig,
       |    string_agg(r.ch, '' ORDER BY g.i) AS word
       |  FROM dwh, LATERAL unnest(generate_series(1, length(hx) // 2)) AS g(i)
       |  JOIN rm r ON r.hx = substr(dwh.hx, CAST(2 * g.i - 1 AS INT), 2)
       |  GROUP BY orig),
       |we AS (SELECT DISTINCT word, CAST(1 AS BIGINT) AS freq FROM dwr),
       |${unigramViterbiCtes("e", "vf", "we")},
       |sq AS (SELECT d.doc_id,
       |    CAST(row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY d.pti, pe.pos) AS BIGINT) AS pos, pe.piece AS token
       |  FROM dpt d JOIN dwr rw ON rw.orig = d.orig
       |  JOIN piecese pe ON rw.word = pe.word)""".stripMargin

  /** q176: the byte-fallback encode oracle — byteLevel training on the
    * PLAIN corpus, encode of the %25 sample with real multi-byte UTF-8
    * appended (accents, CJK, an astral emoji — bytes the training corpus
    * never saw; they price through the count-0 byte singles and nothing
    * drops). */
  private def unigramByteEncodeOracleSql: String =
    s"""WITH RECURSIVE uq AS (SELECT doc_id,
       |    substr(text, 1, 60) || ' café 日本 Straße 🙂!' AS text
       |  FROM documents),
       |${unigramEncodeCtesByteLevel("uq")}
       |SELECT doc_id, pos, token FROM sq ORDER BY doc_id, pos""".stripMargin

  private def unigramEncodeOracleSql: String =
    s"""WITH RECURSIVE $unigramEncodeCtes
       |SELECT doc_id, pos, token FROM sq ORDER BY doc_id, pos""".stripMargin

  /** q177: the q149 curation chain with the LM stage swapped for the
    * trained-unigram bit-surprisal gate — replay the q170 EM to the final
    * model `vf`, Viterbi the quality/language survivors' distinct
    * pre-tokens under it, price each piece `bitlen(total div cnt) − 1`
    * bits, gate per-doc avg bits, then the verbatim q149
    * LSH/components/decontamination tail.
    *
    * The scoring pass is a FUSED Viterbi (the [[unigramViterbiCtes]] α
    * window carrying piece-count and bit-sum columns alongside, and the
    * model rides the recursion as a per-row struct LIST built once in the
    * base case) rather than the backtrace chain: DuckDB 1.0 inlines
    * non-recursive CTEs per reference, so a `pru` that closes over the EM
    * chain re-evaluates the whole training replay EVERY recursion step —
    * measured 8.5 min for this oracle; the fused carried-model form plus a
    * MATERIALIZED `filt` (legal here — materialization below a recursive
    * CTE reference works; above one it evaluates against empty working
    * tables) brings it to ~8 s, cell-identical. */
  private def curationUnigramGateOracleSql: String = {
    val maxLen = UnigramMaxPieceLen
    def shiftOf(p: String) = (0 until maxLen - 1).map(i => s"d.$p$i").mkString(", ")
    def armOf(sel: String, p: String) = s"(CASE $sel " +
      (1 until maxLen).map(i => s"WHEN $i THEN d.$p${i - 1}").mkString(" ") +
      s" ELSE d.$p${maxLen - 1} END)"
    val aPrev = armOf("CAST(g.l AS INT)", "a")
    val aBase = (s"CAST(1.0 AS DOUBLE) AS a0" +:
      (1 until maxLen).map(i => s"CAST(NULL AS DOUBLE) AS a$i")).mkString(", ")
    val nBase = (s"0 AS n0" +:
      (1 until maxLen).map(i => s"CAST(NULL AS INT) AS n$i")).mkString(", ")
    val bBase = (s"CAST(0 AS BIGINT) AS b0" +:
      (1 until maxLen).map(i => s"CAST(NULL AS BIGINT) AS b$i")).mkString(", ")
    s"""WITH RECURSIVE filt0 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ($qualitySql) >= 0.5
       |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
       |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
       |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
       |${unigramTrainCtes(UnigramIters)},
       |vf AS (SELECT piece, cnt FROM c$UnigramIters WHERE cnt > 0),
       |utl AS (SELECT doc_id, regexp_extract_all(text,
       |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS tl
       |  FROM filt0),
       |upt AS MATERIALIZED (SELECT doc_id, CAST(pi AS INT) AS pti,
       |    tl[CAST(pi AS INT)] AS word
       |  FROM utl, LATERAL unnest(generate_series(1, len(tl))) AS gp(pi)),
       |uw AS (SELECT DISTINCT word FROM upt),
       |prb AS (SELECT piece,
       |    CAST(cnt AS DOUBLE) / (SELECT CAST(sum(cnt) AS DOUBLE) FROM vf) AS pp,
       |    length(bin((SELECT CAST(sum(cnt) AS BIGINT) FROM vf) // cnt)) - 1 AS b
       |  FROM vf),
       |dpu AS (
       |  SELECT word, 0 AS j, $aBase, $nBase, $bBase,
       |    (SELECT list(struct_pack(piece := piece, pp := pp, b := b)) FROM prb) AS vl
       |  FROM uw
       |  UNION ALL
       |  SELECT d.word, d.j + 1, c.val, ${shiftOf("a")},
       |    CASE WHEN c.lx IS NULL THEN NULL ELSE
       |      ${armOf("c.lx", "n")} + 1 END, ${shiftOf("n")},
       |    CASE WHEN c.lx IS NULL THEN NULL ELSE
       |      ${armOf("c.lx", "b")} + c.pb END, ${shiftOf("b")},
       |    d.vl
       |  FROM dpu d LEFT JOIN LATERAL (
       |    SELECT $aPrev * u.s.pp AS val, CAST(g.l AS INT) AS lx, u.s.b AS pb
       |    FROM unnest(generate_series(1, least($maxLen, CAST(d.j AS BIGINT) + 1))) AS g(l),
       |      LATERAL unnest(d.vl) AS u(s)
       |    WHERE u.s.piece = substr(d.word, d.j + 2 - CAST(g.l AS INT), CAST(g.l AS INT))
       |      AND $aPrev IS NOT NULL
       |    ORDER BY val DESC, lx DESC LIMIT 1
       |  ) c ON true
       |  WHERE d.j < length(d.word)
       |),
       |wb AS (SELECT word, CAST(n0 AS BIGINT) AS np, b0 AS wbits
       |  FROM dpu WHERE j = length(word) AND a0 IS NOT NULL),
       |per AS (SELECT u.doc_id, CAST(sum(wb.np) AS BIGINT) AS n,
       |    CAST(sum(wb.wbits) AS BIGINT) AS sb
       |  FROM upt u JOIN wb ON u.word = wb.word GROUP BY 1),
       |filt AS MATERIALIZED (SELECT f.doc_id, f.text
       |  FROM filt0 f LEFT JOIN per p ON f.doc_id = p.doc_id
       |  WHERE coalesce(p.n, 0) = 0
       |     OR CAST(p.sb AS DOUBLE) / CAST(p.n AS DOUBLE) <= $UnigramGateMaxAvgBits),
       |${minhashPairsCtes("filt")},
       |$componentsCtes,
       |cur AS (SELECT f.doc_id, f.text FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
       |        WHERE comp.id IS NULL OR comp.component = f.doc_id),
       |evsh AS (SELECT doc_id, $shinglesSql AS sh
       |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
       |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM evsh),
       |csh AS (SELECT doc_id, $shinglesSql AS sh
       |  FROM (SELECT doc_id, $tokensSql AS t FROM cur)),
       |hit AS (SELECT DISTINCT c.doc_id
       |        FROM (SELECT doc_id, unnest(sh) AS gram FROM csh) c JOIN ev USING (gram))
       |SELECT doc_id FROM cur
       |WHERE doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id""".stripMargin
  }

  /** Interpolated-KN count tables trained on the full corpus (no WITH):
    * `tgk` corpus trigram explode, then `tri`/`c12t`/`mid`/`c2t`/`unit` —
    * every table derives from the trigram table (the
    * [[graft.operators.NgramLm.knTrigramBits]] self-contained formulation,
    * exact normalization). */
  private def knCountCtes: String =
    s"""kt0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
       |tgk AS MATERIALIZED (SELECT doc_id, t[CAST(i AS INT)] AS w1,
       |    t[CAST(i AS INT) + 1] AS w2, t[CAST(i AS INT) + 2] AS w3
       |  FROM kt0, LATERAL unnest(generate_series(1, len(t) - 2)) AS g(i)
       |  WHERE len(t) >= 3),
       |tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |  FROM tgk GROUP BY 1, 2, 3),
       |c12t AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12,
       |    CAST(count(*) AS BIGINT) AS t12 FROM tri GROUP BY 1, 2),
       |mid AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n2
       |  FROM tri GROUP BY 1, 2),
       |c2t AS (SELECT w2, CAST(sum(n2) AS BIGINT) AS tot2,
       |    CAST(count(*) AS BIGINT) AS t2 FROM mid GROUP BY 1),
       |unit AS (SELECT w3, CAST(count(*) AS BIGINT) AS n1 FROM mid GROUP BY 1)""".stripMargin

  /** Per-document KN bit scoring of `src(doc_id, text)` under the
    * [[knCountCtes]] tables (no WITH): the two interpolation levels
    * collapse to exact rationals with d = 1/2, each trigram prices
    * `bitlen(den // num) − 1` bits (num = 0 → `bitlen(den)`); ends in
    * `knper(doc_id, n, sb)` — rows only for docs with ≥1 trigram. */
  private def knScoreCtes(src: String): String =
    s"""st0 AS (SELECT doc_id, $tokensSql AS t FROM $src),
       |sg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1,
       |    t[CAST(i AS INT) + 1] AS w2, t[CAST(i AS INT) + 2] AS w3
       |  FROM st0, LATERAL unnest(generate_series(1, len(t) - 2)) AS g(i)
       |  WHERE len(t) >= 3),
       |sc AS (SELECT g.doc_id,
       |    coalesce(r.c3, 0) AS c3, coalesce(x.c12, 0) AS c12,
       |    coalesce(x.t12, 0) AS t12, coalesce(m.n2, 0) AS n2,
       |    coalesce(y.tot2, 0) AS tot2, coalesce(y.t2, 0) AS t2,
       |    coalesce(u.n1, 0) AS n1,
       |    (SELECT CAST(count(*) AS BIGINT) FROM mid) AS na
       |  FROM sg g
       |  LEFT JOIN tri r ON g.w1 = r.w1 AND g.w2 = r.w2 AND g.w3 = r.w3
       |  LEFT JOIN c12t x ON g.w1 = x.w1 AND g.w2 = x.w2
       |  LEFT JOIN mid m ON g.w2 = m.w2 AND g.w3 = m.w3
       |  LEFT JOIN c2t y ON g.w2 = y.w2
       |  LEFT JOIN unit u ON g.w3 = u.w3),
       |lv AS (SELECT doc_id, c3, c12, t12, tot2, n1, na,
       |    greatest(2 * n2 - 1, 0) * na + t2 * n1 AS num2,
       |    2 * tot2 * na AS den2
       |  FROM sc),
       |fin AS (SELECT doc_id,
       |    CASE WHEN c12 > 0 THEN greatest(2 * c3 - 1, 0) * den2 + t12 * num2
       |         WHEN tot2 > 0 THEN num2 ELSE n1 END AS num,
       |    CASE WHEN c12 > 0 THEN 2 * c12 * den2
       |         WHEN tot2 > 0 THEN den2 ELSE na END AS den
       |  FROM lv),
       |btk AS (SELECT doc_id, CASE WHEN num = 0 THEN length(bin(den))
       |    ELSE length(bin(den // num)) - 1 END AS b FROM fin),
       |knper AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(b) AS BIGINT) AS sb FROM btk GROUP BY 1)""".stripMargin

  /** q178: KN bit-surprisal of every corpus document under the corpus-trained
    * model. */
  private def knTrigramOracleSql: String =
    s"""WITH $knCountCtes,
       |${knScoreCtes("documents")}
       |SELECT d.doc_id, CAST(coalesce(p.n, 0) AS BIGINT) AS n_trigrams,
       |  CAST(coalesce(p.sb, 0) AS BIGINT) AS sum_bits,
       |  CASE WHEN coalesce(p.n, 0) = 0 THEN 0.0
       |       ELSE CAST(p.sb AS DOUBLE) / CAST(p.n AS DOUBLE) END AS avg_bits
       |FROM documents d LEFT JOIN knper p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q179: the q149 curation chain with the LM stage swapped for the KN
    * trigram bit gate — q178's scoring restricted to the quality/language
    * survivors, gated at avg bits ≤ threshold, then the verbatim q149
    * LSH/components/decontamination tail (`filt` MATERIALIZED — the scoring
    * joins would otherwise re-evaluate once per tail reference). */
  private def curationKnGateOracleSql: String =
    s"""WITH RECURSIVE filt0 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ($qualitySql) >= 0.5
       |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
       |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
       |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
       |$knCountCtes,
       |${knScoreCtes("filt0")},
       |filt AS MATERIALIZED (SELECT f.doc_id, f.text
       |  FROM filt0 f LEFT JOIN knper p ON f.doc_id = p.doc_id
       |  WHERE coalesce(p.n, 0) = 0
       |     OR CAST(p.sb AS DOUBLE) / CAST(p.n AS DOUBLE) <= $KnGateMaxAvgBits),
       |${minhashPairsCtes("filt")},
       |$componentsCtes,
       |cur AS (SELECT f.doc_id, f.text FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
       |        WHERE comp.id IS NULL OR comp.component = f.doc_id),
       |evsh AS (SELECT doc_id, $shinglesSql AS sh
       |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
       |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM evsh),
       |csh AS (SELECT doc_id, $shinglesSql AS sh
       |  FROM (SELECT doc_id, $tokensSql AS t FROM cur)),
       |hit AS (SELECT DISTINCT c.doc_id
       |        FROM (SELECT doc_id, unnest(sh) AS gram FROM csh) c JOIN ev USING (gram))
       |SELECT doc_id FROM cur
       |WHERE doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id""".stripMargin

  /** q173: the id surface — ids 0..|model|−1 in ascending binary piece
    * order (the [[graft.operators.UnigramLm.vocabIds]] convention). */
  private def unigramEncodeIdsOracleSql: String =
    s"""WITH RECURSIVE $unigramEncodeCtes,
       |vid AS (SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) - 1 AS INT) AS id FROM vf)
       |SELECT q.doc_id, q.pos, v.id AS token_id
       |FROM sq q JOIN vid v ON q.token = v.piece
       |ORDER BY doc_id, pos""".stripMargin

  /** The 256-row GPT-2 byte-to-symbol map as SQL VALUES `('HX', ch)` —
    * generated from [[graft.expressions.ByteRemap.byteToChar]], the exact
    * table the Scala expression walks (hex pairs uppercase, matching
    * DuckDB's `hex()`). */
  private lazy val byteRemapValuesSql: String =
    (0 until 256).map { b =>
      val ch = graft.expressions.ByteRemap.byteToChar(b)
      val esc = if (ch == '\'') "''" else ch.toString
      f"('$b%02X', '$esc')"
    }.mkString(", ")

  /** Byte-level training replay over `src(doc_id, text)`: pre-tokenize the
    * ORIGINAL text (the remap must not disturb the pre-tokenizer), aggregate
    * to distinct words first (the remap then runs per distinct word, not per
    * corpus occurrence — the Scala side's Zipf shape), remap each word's
    * UTF-8 bytes through the 256-row map (hex(encode(w)) split into byte
    * pairs), and feed the remapped frequency table `f(p, freq)` into the
    * SAME round chain as the code-point replay. Also yields `rm(hx, ch)`
    * (the map — the byte-level vocab's base alphabet) and `fr(orig, p)`
    * (word → remapped word, reused by the encode-side join). */
  private def bpeTrainCtesByteLevel(rounds: Int, src: String): String = {
    val pre =
      s"""rm(hx, ch) AS (SELECT * FROM (VALUES $byteRemapValuesSql)),
         |pt AS (SELECT unnest(regexp_extract_all(text,
         |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS orig
         | FROM $src),
         |fw AS (SELECT orig, count(*) AS freq FROM pt GROUP BY 1),
         |fh AS (SELECT orig, freq, hex(encode(orig)) AS hx FROM fw),
         |fr AS MATERIALIZED (SELECT fh.orig, fh.freq,
         |    string_agg(r.ch, '' ORDER BY g.i) AS p
         |  FROM fh, LATERAL unnest(generate_series(1, length(fh.hx) // 2)) AS g(i)
         |  JOIN rm r ON r.hx = substr(fh.hx, CAST(2 * g.i - 1 AS INT), 2)
         |  GROUP BY fh.orig, fh.freq),
         |f AS (SELECT p, freq FROM fr),
         |t0 AS (SELECT p AS word, freq, CAST(i AS INT) AS i,
         |    substr(p, CAST(i AS INT), 1) AS s
         |  FROM f, LATERAL unnest(generate_series(1, length(p))) AS g(i)
         |  WHERE length(p) >= 2)""".stripMargin
    s"$pre,\n${bpeRoundCtes(rounds)}"
  }

  /** Byte-level twin of [[bpeEncodeCtes]] over `src(doc_id, text)`: the base
    * alphabet is the FIXED 256-entry byte table (ids 0..255 in binary
    * symbol order — NOT corpus-derived, the no-OOV-by-construction point),
    * merge products take 256 + merge_idx − 1; the %5-sampled documents
    * pre-tokenize on original text and join through `fr` to their remapped
    * words before reading symbols off the final round's table. */
  private def bpeEncodeCtesByteLevel(r: Int, src: String): String = {
    val mergesUnion = (1 to r).map { i =>
      s"SELECT $i AS midx, lft || rgt AS merged FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""${bpeTrainCtesByteLevel(r, src)},
       |aid AS (SELECT ch AS sym,
       |  CAST(row_number() OVER (ORDER BY ch) - 1 AS INT) AS id FROM rm),
       |mu AS ($mergesUnion),
       |mid AS (SELECT merged AS sym, CAST(256 + midx - 1 AS INT) AS id FROM mu),
       |voc AS (SELECT sym, CAST(min(id) AS INT) AS id
       |  FROM (SELECT * FROM aid UNION ALL SELECT * FROM mid) u GROUP BY sym),
       |wsym AS MATERIALIZED (SELECT word, i, s FROM t$r
       |  UNION ALL SELECT p AS word, 1 AS i, p AS s FROM f WHERE length(p) = 1),
       |dtl AS (SELECT doc_id, regexp_extract_all(text,
       |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS tl
       |  FROM $src WHERE doc_id % 5 = 0),
       |dpt AS (SELECT doc_id, CAST(pi AS INT) AS pti,
       |    tl[CAST(pi AS INT)] AS word
       |  FROM dtl, LATERAL unnest(generate_series(1, len(tl))) AS gp(pi)),
       |dptb AS MATERIALIZED (SELECT d.doc_id, d.pti, fr.p AS word
       |  FROM dpt d JOIN fr ON fr.orig = d.word),
       |sq AS (SELECT d.doc_id,
       |    CAST(row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY d.pti, w.i) AS BIGINT) AS pos, w.s
       |  FROM dptb d JOIN wsym w ON d.word = w.word)""".stripMargin
  }

  /** q146: the byte-level encode oracle — the q136 SELECT over the
    * byte-level CTE chain, with the multi-byte-UTF-8 fixture inlined. */
  private lazy val q146OracleSql: String =
    s"""WITH docs6 AS (SELECT doc_id,
       |    substr(text, 1, 60) || ' café 日本 Straße 🙂!' AS text
       |  FROM documents),
       |${bpeEncodeCtesByteLevel(BpeTrainRounds, "docs6")}
       |SELECT q.doc_id, q.pos, q.s AS token_sym, v.id AS token_id
       |FROM sq q JOIN voc v ON q.s = v.sym
       |ORDER BY doc_id, pos""".stripMargin

  /** The q138 entity-decode expression over column `x` — generated from the
    * SAME constants [[graft.operators.HtmlExtract]] folds (named entities,
    * then the bounded numeric-reference table via the shared pattern
    * builder, then the `&` family last), so Scala chain and oracle cannot
    * drift. */
  private lazy val htmlEntityDecodeSql: String = {
    val he = graft.operators.HtmlExtract
    val named = """replace(replace(replace(replace(replace(x,
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)), '&nbsp;', ' ')"""
    val numeric = he.NumericRefs.foldLeft(named) { case (acc, (cp, r)) =>
      val rep = if (r == "'") "chr(39)" else s"'$r'"
      s"regexp_replace($acc, '${he.numRefPattern(cp)}', $rep, 'g')"
    }
    s"regexp_replace($numeric, '${he.AmpPattern}', '&', 'g')"
  }

  /** One BM25 term's score expression in DuckDB SQL — the exact arithmetic
    * twin of [[graft.operators.Retrieval.bm25Scores]]: rational idf from in-SQL
    * (n, df_i), k1=1.5 / b=0.75 literals (exact binary doubles), identical
    * association order. */
  private def bm25TermSql(term: String, i: Int): String = {
    val tf = s"CAST(len(list_filter(t, x -> x = '$term')) AS DOUBLE)"
    s"""((CAST(n AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
       | * ($tf * 2.5) / ($tf + 1.5 * (0.25 + 0.75 *
       |   (CAST(len(t) AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))"""
      .stripMargin.replace("\n", " ")
  }

  /** Fixed sign-LSH hyperplanes shared by the q52 query and its oracle: the SQL
    * side embeds the exact same doubles as literals (Double.toString round-trips
    * bit-exactly through DuckDB's decimal parser), and both sides evaluate the
    * plane dots as left-associative double chains — bucket bits agree bit-for-bit. */
  private val LshPlanes: Seq[Seq[Double]] = SimilaritySearch.deterministicPlanes(6, 64)

  /** Unrolled Σ e.embedding[j]·plane[j], left-assoc double, plane inlined. */
  private def planeDotSql(e: String, plane: Seq[Double]): String =
    plane.zipWithIndex.map { case (v, j) =>
      s"CAST($e.embedding[${j + 1}] AS DOUBLE)*($v)" }.mkString(" + ")

  /** MinHash-LSH banded-signature SQL over `src`: yields `bands(doc_id,
    * band_key, band_idx)` — the oracle twin of `DedupSuite.minHashBandKeys`.
    * NOTE: does not start with WITH — callers provide the (recursive) WITH and
    * splice these CTEs in, since SQL allows only one WITH clause per level. */
  private def minhashBandsCtes(src: String): String =
    s"""sh0 AS (SELECT doc_id, $shinglesSql AS sh
       |  FROM (SELECT doc_id, $tokensSql AS t FROM $src)),
       |mhe AS (SELECT doc_id, md5(unnest(sh)) AS d FROM sh0),
       |mhw AS (SELECT doc_id, ('0x' || substr(d, 1, 8))::BIGINT AS wa,
       |  ('0x' || substr(d, 9, 8))::BIGINT AS wb FROM mhe),
       |sig AS (SELECT doc_id, ${(0 until 8).map(i =>
           s"min((wa + $i * wb) % 4294967296) AS h$i").mkString(", ")}
       |  FROM mhw GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |  unnest([${(0 until 4).map(b => s"md5(h${2 * b}::VARCHAR || '|' || h${2 * b + 1}::VARCHAR)").mkString(", ")}]) AS band_key,
       |  unnest([0,1,2,3]) AS band_idx FROM sig)""".stripMargin

  /** MinHash-LSH candidate-pair SQL over `src` (q46's oracle body; also the
    * edge set the q68/q69 connected-components oracles close transitively). */
  private def minhashPairsCtes(src: String): String =
    s"""${minhashBandsCtes(src)},
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** Transitive closure of `pairs` into min-id components — CTE tail shared by
    * the q68/q69 oracles; yields `comp(id, component)`. */
  private val componentsCtes: String =
    """edges AS (SELECT id_a AS s, id_b AS d FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT s, s FROM (SELECT DISTINCT s FROM edges) t
      |  UNION
      |  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d),
      |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)""".stripMargin

  private def bucketSql(e: String): String =
    LshPlanes.map(p =>
      s"(CASE WHEN (${planeDotSql(e, p)}) >= 0.0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  /** Collect the query embedding (vec_id 0) to the driver as doubles. */
  private def queryVec(s: SparkSession, dir: String): (Seq[Double], Int) = {
    val row = t(s, dir, "embeddings").filter(col("vec_id") === 0L)
      .select(col("embedding"), col("label")).head()
    (row.getSeq[Float](0).map(_.toDouble), row.getInt(1))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ─── text analysis ───────────────────────────────────────────────────────
    "q40_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))),

    "q41_text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars2"),
          TextFunctions.matchCount(col("text"), "[.,!?;:]").as("punct_cnt"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "q42_text_langid" -> ((s, dir) => {
      val pred = TextFunctions.langIdEn(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
          when(pred === col("lang"), "Agree").otherwise("Conflict").as("agreement"))
        .orderBy(col("doc_id"))
    }),

    "q43_text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // q64: BPE-style pre-tokenization — the token-count estimator that actually
    // matches how LLM training corpora are budgeted; pattern restricted to the
    // regex subset java and RE2 share so DuckDB reproduces it verbatim.
    "q64_text_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
          TextFunctions.tokenCount(col("text")).as("n_ws"))
        .orderBy(col("doc_id"))),

    // q71: deterministic train/val/test split — hash of the CONTENT fingerprint
    // (duplicate texts land in the same split: no leakage), 80/10/10 by md5
    // bucket; per-doc assignment plus the per-split tallies, both oracle-exact.
    "q71_hash_split" -> ((s, dir) => {
      val assigned = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.splitAssign(TextFunctions.fingerprintMd5(col("text")),
            buckets = 100, trainUpTo = 80, valUpTo = 90).as("split"))
      assigned.orderBy(col("doc_id"))
    }),

    // q72: greedy sequence packing into 300-token context windows, hash-sharded;
    // the oracle replays the sequential greedy rule with a recursive CTE
    // stepping shard rows in order.
    "q72_sequence_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
      graft.operators.SequencePacking
        .packSequences(docs, "doc_id", "n_tokens", budget = 300L, nShards = 4)
        .orderBy(col("doc_id"))
    }),

    // q79: benchmark decontamination — corpus docs sharing 3-gram shingles with
    // a held-out eval subset (doc_id % 101 == 0), reported as per-doc distinct
    // overlap counts. Eval shingles broadcast; the corpus side never shuffles.
    "q79_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(101)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // q80: PII scrubbing — emails/phones/IPv4s (injected deterministically from
    // doc_id on BOTH engine sides, since the synthetic corpus carries none)
    // counted and redacted with java/RE2-shared patterns.
    "q80_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" alt o"), col("doc_id").cast("string"), lit("@x.org")))
          .otherwise(""),
        lit(" call +1-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(200)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(250)).cast("string"))
      val staged = t(s, dir, "documents").select(col("doc_id"), aug.as("aug"))
      val (ne, np, ni) = TextFunctions.piiCounts(col("aug"))
      staged.select(col("doc_id"),
        ne.as("n_emails"), np.as("n_phones"), ni.as("n_ips"),
        TextFunctions.redactPii(col("aug")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // q81: domain-level corpus filtering — URL host extraction (scheme+www+port
    // handling), crude registrable domain, and a relationally-derived blocklist
    // (top-2 hosts by doc count) removed via broadcast anti-join.
    "q81_domain_blocklist" -> ((s, dir) => {
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(4)) === 0, "www.").otherwise(""),
        when(pmod(col("doc_id"), lit(6)) === 0, "cdn.").otherwise(""),
        col("source"), pmod(col("doc_id"), lit(7)).cast("string"), lit("-site"),
        when(pmod(col("doc_id"), lit(3)) === 0, ".com")
          .when(pmod(col("doc_id"), lit(3)) === 1, ".org").otherwise(".net"),
        when(pmod(col("doc_id"), lit(5)) === 0, ":8080").otherwise(""),
        lit("/doc/"), col("doc_id").cast("string"))
      val withHost = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.urlHost(url).as("host"))
        .withColumn("domain", TextFunctions.registrableDomain(col("host")))
      val blocked = withHost.groupBy(col("host")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("host")).limit(2).select(col("host"))
      withHost.join(broadcast(blocked), Seq("host"), "left_anti")
        .select(col("doc_id"), col("host"), col("domain"))
        .orderBy(col("doc_id"))
    }),

    // q82: chunking with overlap — 32-token windows advancing by 24 (the
    // embedding/retrieval prep; dual of q72's packing). Zero shuffle: chunks
    // materialize in-scan via HOF + posexplode.
    "q82_chunk_overlap" -> ((s, dir) =>
      graft.operators.Chunker.chunkByTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // q83: unigram-frequency quality proxy — per-doc mean corpus frequency of
    // its tokens (CCNet-style LM-perplexity stand-in). LONG sums keep the
    // aggregate order-independent; one double division per doc at the end.
    "q83_unigram_freq" -> ((s, dir) =>
      graft.operators.TfIdf.unigramFrequencyScore(
        t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // q84: one-sided containment near-dup pairs — |A∩B|/min sizes over 3-gram
    // shingles; catches short-doc-inside-long-doc cases symmetric Jaccard's
    // union term suppresses. Asymmetric prefix filter (see DedupSuite scaladoc).
    // Every doc_id % 83 == 0 doc gets a boilerplate-wrapped twin (id + 1e6, same
    // construction in the oracle) so the corpus provably contains the
    // short-inside-long shape the operator exists for.
    "q84_dedup_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
      val wrapped = docs.filter(pmod(col("doc_id"), lit(83)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" standard footer boilerplate appended here"))
            .as("text"),
          col("source"))
      DedupSuite.ngramContainmentPairs(docs.unionByName(wrapped), "doc_id", "text",
        blockCol = "source", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q85: temperature-flattened mixture cap — at most ceil(sqrt(|source|))
    // docs per source (sqrt is IEEE-exact cross-engine, unlike pow).
    "q85_sqrt_cap_sample" -> ((s, dir) =>
      graft.operators.Sampling.sqrtCapSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", k = 1)
        .orderBy(col("doc_id"))),

    // q86: the capstone composition's relational core, oracle-checked end to
    // end — curate (quality → language → near-dup canonicals) THEN
    // decontaminate against the held-out eval subset; the oracle replays the
    // full q69 recursive-CTE pipeline plus the q79 overlap filter.
    "q86_curated_decontaminated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.decontaminate(
        graft.operators.CurationPipeline.curate(docs),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // q73: Gopher-style repetition signals — top-bigram fraction via in-place
    // sort + run-length fold (zero shuffle, no explode/groupBy: the per-doc
    // max-frequency is the longest equal-run of the SORTED bigram array) and
    // distinct-token fraction. The oracle recomputes the max frequency the
    // relational way (unnest → count → max).
    "q73_text_repetition" -> ((s, dir) => {
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          TextFunctions.wordShinglesOf(col("toks"), 2).as("bigrams"))
      staged.select(col("doc_id"),
        TextFunctions.distinctTokenFraction(col("toks")).as("distinct_word_frac"),
        TextFunctions.topGramFraction(col("bigrams")).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // q74: length-outlier trim — drop the bottom/top 5% of rows by n_chars with
    // value-based (tie-stable) cut points; exact cumsum over DISTINCT values.
    "q74_length_trim" -> ((s, dir) =>
      graft.operators.Sampling.trimByValueQuantile(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")), "n_chars")
        .orderBy(col("doc_id"))),

    // q75: deterministic stratified downsample — at most 10 docs per source,
    // chosen by md5(doc_id) order (regeneration-stable, unlike sample() seeds).
    "q75_stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedLimit(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", m = 10)
        .orderBy(col("doc_id"))),

    // q78: proportional per-source downsample — keep ceil(30%·|source|) docs
    // per source in deterministic md5 order (mixture-preserving, unlike a
    // global limit; ceil keeps rare sources alive).
    "q78_stratified_fraction" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedFraction(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", frac = 0.3)
        .orderBy(col("doc_id"))),

    // q77: per-doc top-3 terms by tf·idf (rational idf (N+1)/(df+1) — IEEE-
    // identical across engines where ln is not; see TfIdf scaladoc).
    "q77_tfidf_topterms" -> ((s, dir) =>
      graft.operators.TfIdf.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rank"))),

    // ─── dedup ───────────────────────────────────────────────────────────────
    "q44_dedup_exact" -> ((s, dir) =>
      DedupSuite.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("digest"))),

    "q45_dedup_jaccard" -> ((s, dir) =>
      DedupSuite.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCol = "source", n = 1, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    "q46_dedup_minhash" -> ((s, dir) =>
      DedupSuite.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b"))),

    // q68: candidate pairs → duplicate CLUSTERS via distributed connected
    // components (min-label propagation + pointer halving); the oracle closes
    // the same MinHash pair set transitively with a recursive CTE.
    "q68_dedup_clusters" -> ((s, dir) => {
      val pairs = DedupSuite.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 8, bands = 4)
        .select(col("id_a"), col("id_b"))
      DedupSuite.connectedComponents(pairs).orderBy(col("id"))
    }),

    // q76: incremental dedup — the continuous-ingestion pattern. The corpus is
    // split by source name length into "existing" (src0–src9) and "incoming"
    // (src10–src19); incoming docs colliding with the existing index in any
    // LSH band are dropped, the remainder self-dedups to cluster canonicals.
    "q76_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupSuite.incrementalDedup(
        docs.filter(length(col("source")) === 4),
        docs.filter(length(col("source")) === 5),
        "doc_id", "text", shingleSize = 3, numHashes = 8, bands = 4)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "q47_dedup_simhash" -> ((s, dir) =>
      DedupSuite.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 64, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // q69: the full curation composition — quality gate → language filter →
    // near-dup cluster canonicalization — as ONE operator; the oracle replays
    // every stage (filters in SQL, pair set + recursive transitive closure
    // over the filtered corpus, canonical = cluster min or untouched single).
    "q69_curation" -> ((s, dir) =>
      graft.operators.CurationPipeline.curate(t(s, dir, "documents"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // ─── similarity search ───────────────────────────────────────────────────
    "q48_sim_bruteforce" -> ((s, dir) => {
      val (q, _) = queryVec(s, dir)
      SimilaritySearch.bruteForceTopK(t(s, dir, "embeddings"), "embedding", "vec_id", q, 20)
    }),

    "q49_sim_partitioned" -> ((s, dir) => {
      val (q, label) = queryVec(s, dir)
      SimilaritySearch.partitionedTopK(t(s, dir, "embeddings"), "embedding", "vec_id",
        "label", q, label, 10)
    }),

    // q65: IVF with a TRAINED coarse quantizer (deterministic Lloyd k-means,
    // init = lowest-id vectors). Probing all k lists must reproduce exact brute
    // force — the oracle identity that proves the index loses nothing it
    // shouldn't; nprobe<k pruning is spec-verified (PipelineOpsSpec).
    "q65_sim_ivf_fullprobe" -> ((s, dir) => {
      val (q, _) = queryVec(s, dir)
      val emb = t(s, dir, "embeddings")
      val centroids = SimilaritySearch.kmeansCentroids(emb, "embedding", "vec_id",
        k = 4, iters = 2)
      SimilaritySearch.ivfTopK(emb, "embedding", "vec_id", centroids, q,
        nprobe = 4, k = 20)
    }),

    "q50_embedding_neardup" -> ((s, dir) =>
      SimilaritySearch.embeddingNearDupPairs(t(s, dir, "embeddings"), "embedding",
        "vec_id", "label", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    "q52_embedding_neardup_lsh" -> ((s, dir) =>
      SimilaritySearch.embeddingNearDupPairsLsh(t(s, dir, "embeddings"), "embedding",
        "vec_id", LshPlanes, threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    "q55_heavy_bigrams" -> ((s, dir) =>
      HeavyHitters.heavyGrams(t(s, dir, "documents"), "text", n = 2,
        phi = 0.0013, k = 1024)
        .orderBy(col("gram"))),

    // q67: per-column profile gate — null counts, exact distinct cardinality,
    // min/max — over pipeline-input columns; one aggregate job + stack unpivot.
    "q67_profile_orders" -> ((s, dir) =>
      graft.operators.Profiler.profile(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderkey"))
        .orderBy(col("col_name"))),

    // q87: exact duplicated-PASSAGE removal (Lee et al. 2022 EXACTSUBSTR at
    // 8-token granularity): any 8-token window occurring more than once in the
    // corpus is stripped from every document containing it — the substring-
    // level complement of the document-level dedup family (q44-q47/q84). Docs
    // with doc_id % 37 == 0 carry a planted verbatim promo passage (same
    // construction in the oracle) so corpus-wide duplicated spans provably
    // exist beyond natural repetition.
    "q87_passage_dedup" -> ((s, dir) => {
      val promo = " repeated promotional sentence fragment appears verbatim in many documents exactly"
      val aug = t(s, dir, "documents")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(37)) === 0, concat(col("text"), lit(promo)))
            .otherwise(col("text")).as("text"))
      graft.operators.PassageDedup.removeDuplicatedPassages(
        aug, "doc_id", "text", windowTokens = 8)
        .orderBy(col("doc_id"))
    }),

    // q88: multilingual language ID — per-language stopword-profile hit counts
    // (en/de/fr/es) with deterministic first-max argmax. Docs are augmented
    // with a repeated language suffix keyed on doc_id % 4 (same construction
    // in the oracle) so all four labels provably occur; scores are STAGED
    // columns evaluated once, argmax reads the staged columns.
    "q88_langid_multi" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 1, repeat(lit(langSuffix("de")), 4))
            .when(pmod(col("doc_id"), lit(4)) === 2, repeat(lit(langSuffix("fr")), 4))
            .when(pmod(col("doc_id"), lit(4)) === 3, repeat(lit(langSuffix("es")), 4))
            .otherwise(lit(""))).as("text"))
      val scored = aug
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id") +: TextFunctions.LanguageProfiles.map { case (l, p) =>
          TextFunctions.profileHits(col("toks"), p).as(s"s_$l") }: _*)
      scored.select(col("doc_id"),
          col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
          TextFunctions.langArgmax(
            TextFunctions.LanguageProfiles.map { case (l, _) => l -> col(s"s_$l") })
            .as("lang"))
        .orderBy(col("doc_id"))
    }),

    // q89: KMV distinct-count sketch (native TypedImperativeAggregate, <= k
    // longs of state, order-insensitive merge — so its output is deterministic
    // and oracle-checkable, unusual for a sketch). The exact n_distinct_hashes
    // column exists only to juxtapose estimate vs truth in the verified output;
    // production reads just the sketch. k=16 < the 25-distinct-per-source
    // cardinality, so the estimator arm (not the exact fallback) is verified.
    "q89_kmv_distinct" -> ((s, dir) => {
      val k = 16
      val hashed = t(s, dir, "documents").select(col("source"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("hv"))
      hashed.groupBy(col("source"))
        .agg(graft.expressions.KmvSketch.kmvMinima(col("hv"), k).as("minima"),
          countDistinct(col("hv")).as("n_distinct_hashes"))
        .select(col("source"),
          size(col("minima")).cast("long").as("n_minima"),
          col("n_distinct_hashes"),
          when(size(col("minima")) >= k, element_at(col("minima"), k)).as("kth_min"),
          when(size(col("minima")) < k, size(col("minima")).cast("double"))
            .otherwise(lit((k - 1).toDouble * 4294967296.0) /
              element_at(col("minima"), k).cast("double"))
            .as("estimate"))
        .orderBy(col("source"))
    }),

    // q90: inverted index build (retrieval prep) — term -> document frequency +
    // head of the sorted postings list (exact df, bounded head — the scale
    // contract; see Retrieval.invertedIndex scaladoc).
    "q90_inverted_index" -> ((s, dir) =>
      graft.operators.Retrieval.invertedIndex(
        t(s, dir, "documents"), "doc_id", "text", headPostings = 32)
        .orderBy(col("term"))),

    // q91: linear quality-classifier inference over hashed bag-of-words
    // features (fastText shape; see TextFunctions.hashedFeatureScore — the
    // LONG fold keeps the sum order-independent, one double division per doc).
    "q91_linear_classifier" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          TextFunctions.hashedFeatureScore(col("toks")).as("raw_score"))
        .withColumn("norm_score",
          col("raw_score").cast("double") / (col("n_tokens").cast("double") * 500.0))
        .withColumn("label",
          when(col("raw_score") >= 0, "keep").otherwise("drop"))
        .orderBy(col("doc_id"))),

    // q92: corpus-level LINE dedup (C4 §2.2 / RefinedWeb line-wise pass) —
    // any line appearing in > 4 distinct docs is removed from every doc. Lines
    // are constructed (the corpus is single-line): 12-token chunks joined by
    // \n, plus planted boilerplate lines at three frequencies — doc_id%3
    // (removed), %13 (removed), %250 (2 docs — KEPT, proving the threshold) —
    // and a %5 within-doc first-line repeat (doc-frequency 1 — kept here,
    // removed by q93). Same construction in the oracle.
    "q92_line_dedup" -> ((s, dir) =>
      graft.operators.LineDedup.removeRepeatedLines(
        linedDocs(t(s, dir, "documents")), "doc_id", "text", maxDocs = 4)
        .orderBy(col("doc_id"))),

    // q93: WITHIN-document line dedup (first occurrence wins, order kept) —
    // the zero-shuffle HOF variant; the %5 planted repeat of line 1 is removed,
    // corpus-repeated boilerplate is NOT (it occurs once per doc).
    "q93_line_dedup_intradoc" -> ((s, dir) =>
      graft.operators.LineDedup.dedupLinesWithinDoc(
        linedDocs(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // q101: quality-weighted rejection sampling — deterministic md5 draw vs
    // the quality score as acceptance probability; keep-verdict per doc.
    "q101_rejection_sample" -> ((s, dir) =>
      graft.operators.Sampling.rejectionSample(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", TextFunctions.qualityScore(col("text")), seed = "s1")
        .select(col("doc_id"), col("accept_u"), col("accept_p"), col("keep"))
        .orderBy(col("doc_id"))),

    // q100: BPE merge-candidate counting (tokenizer-training pass 1): adjacent
    // char pairs over the pre-token FREQUENCY table, top-40 by weighted count.
    "q100_bpe_pairs" -> ((s, dir) =>
      graft.operators.BpeTrainer.topPairs(t(s, dir, "documents"), "text", k = 40)),

    // q115: bucket capping (the LSH/blocking anti-skew gate) — a planted
    // non-discriminative bucket holding ~80% of the corpus is dropped whole;
    // the long tail of small buckets survives intact.
    "q115_capped_buckets" -> ((s, dir) => {
      val bucketed = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 8, lit("big"))
          .otherwise(concat(lit("b"), pmod(col("doc_id"), lit(50)).cast("string")))
          .as("bucket"))
      graft.ops.Skew.capBuckets(bucketed, Seq("bucket"), maxBucket = 100L)
        .select(col("doc_id"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // q113: the FULL iterative BPE training loop — 6 merge rounds over the
    // pre-token frequency table, greedy L2R fusion, (cnt desc, pair asc)
    // tie-break. The oracle replays every round with unrolled window-function
    // CTEs (run-parity selection = non-overlapping greedy application).
    "q113_bpe_train" -> ((s, dir) =>
      graft.operators.BpeTrainer.trainMerges(t(s, dir, "documents"), "text",
        rounds = BpeTrainRounds)
        .orderBy(col("merge_idx"))),

    // q99: epoch-deterministic corpus shuffle into shards — md5(id:epoch)
    // deals shard + in-shard position; rerunning reproduces it exactly,
    // changing the epoch re-deals everything.
    "q99_epoch_shuffle" -> ((s, dir) =>
      graft.operators.Sharding.epochShuffle(t(s, dir, "documents"), "doc_id",
        epoch = 3, numShards = 8)
        .orderBy(col("doc_id"))),

    // q98: URL-level dedup — canonicalization (fragment/tracking/case/port/
    // slash variants collapse) + min-id survivor per canonical key. URLs are
    // derived (corpus has none): canonical key reduces to doc_id % 20 by
    // construction, so every class provably has variants of all five kinds.
    "q98_url_dedup" -> ((s, dir) => {
      val url = concat(
        when(pmod(col("doc_id"), lit(11)) === 0, lit("HTTP://WWW.EXAMPLE"))
          .otherwise(lit("http://example")),
        pmod(col("doc_id"), lit(5)).cast("string"), lit(".com"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(":80")).otherwise(lit("")),
        lit("/page/"), pmod(col("doc_id"), lit(20)).cast("string"),
        when(pmod(col("doc_id"), lit(9)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("?utm_source=feed&gclid=abc"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("#frag")).otherwise(lit("")))
      graft.operators.UrlDedup.dedupByCanonicalUrl(
        t(s, dir, "documents").select(col("doc_id"), url.as("url")),
        "doc_id", "url")
        .orderBy(col("doc_id"))
    }),

    // q112: the custom GroupTopK WHOLE-OPERATOR (logical node → strategy →
    // partial/final SparkPlan with bounded per-group heaps, hash exchange in
    // between, no sort) — per-source top-3 by quality; the oracle replays the
    // equivalent window formulation.
    "q112_group_topk_plan" -> ((s, dir) =>
      graft.plans.GroupTopK.topK(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality")),
        Seq("source"), Seq("quality" -> false, "doc_id" -> true), k = 3)
        .orderBy(col("source"), col("doc_id"))),

    // q110: Count-Min sketch point-frequency estimates for the en-profile
    // probe words vs their exact counts. Cell indexes are md5-derived per row
    // (visible in the plan, replayed relationally by the oracle); estimates
    // are deterministic because merge is cell-wise addition.
    "q110_cms_counts" -> ((s, dir) => {
      import s.implicits._
      val (depth, width) = (4, 1024)
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val idxArr = array((0 until depth).map(d =>
        pmod(TextFunctions.md5Bits32(concat(lit(d + ":"), col("tok"))),
          lit(width.toLong))): _*)
      val cells = toks.agg(graft.expressions.CountMinSketch
          .cmsAgg(idxArr, depth, width))
        .collect()(0).getSeq[Long](0).toArray
      val est = langProfile("en").map(p =>
        (p, graft.expressions.CountMinSketch.estimate(cells, width,
          graft.expressions.CountMinSketch.probeIdxs(p, depth, width))))
      val exact = toks.groupBy(col("tok").as("token")).agg(count(lit(1)).as("n_exact"))
      est.toDF("token", "estimate")
        .join(exact, Seq("token"), "left")
        .select(col("token"), col("estimate"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy(col("token"))
    }),

    // q111: uniform exact-k corpus sample — global md5 order, deterministic
    // and regeneration-stable (eval-set carving); TakeOrderedAndProject, no
    // global sort materialization.
    "q111_exact_k_sample" -> ((s, dir) =>
      graft.operators.Sampling.uniformExactK(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", k = 100,
        seed = "s2")
        .orderBy(col("doc_id"))),

    // q109: reverse-direction contamination report — per EVAL doc (doc_id %
    // 101 == 0), the fraction of its distinct 3-gram shingles found anywhere
    // in the training corpus (the benchmark-integrity number).
    "q109_eval_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.evalContaminationReport(
        docs.filter(pmod(col("doc_id"), lit(101)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // q108: deterministic weighted upsampling — w = 1 + (doc_id%3)·0.75
    // (1.0 / 1.75 / 2.5): floor(w) copies + one more iff the md5 draw falls
    // under frac(w); E[copies] = w, regeneration-idempotent.
    "q108_weighted_upsample" -> ((s, dir) =>
      graft.operators.Sampling.upsampleByWeight(
        t(s, dir, "documents").select(col("doc_id")),
        "doc_id",
        lit(1.0) + pmod(col("doc_id"), lit(3)).cast("double") * lit(0.75),
        seed = "up1")
        .orderBy(col("doc_id"), col("copy_idx"))),

    // q106: per-source quality ceiling — keep the 10 best docs per source by
    // quality score, deterministic doc_id tie-break at the cut line.
    "q106_quality_topm" -> ((s, dir) =>
      graft.operators.Sampling.topMByScore(
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("quality")),
        "source", m = 10, score = col("quality"), tieBreak = col("doc_id"))
        .orderBy(col("source"), col("doc_id"))),

    // q107: SOFT dedup — near-dup cluster canonicals keep a weight = cluster
    // size (count-preserving dedup for loss re-weighting); singletons weigh 1.
    "q107_soft_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = DedupSuite.minHashLshPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 8, bands = 4)
        .select(col("id_a"), col("id_b"))
      DedupSuite.canonicalWithWeight(docs, "doc_id", pairs)
        .select(col("doc_id"), col("weight"))
        .orderBy(col("doc_id"))
    }),

    // q105: per-source corpus report — the curation dashboard panel (exact
    // mean quality via micro-quantized LONG sums; see Profiler.corpusReport).
    "q105_corpus_report" -> ((s, dir) =>
      graft.operators.Profiler.corpusReport(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))),

    // q104: deterministic span corruption (BART text-infilling shape) — 15%
    // md5-decided token masking, masked runs collapsed to one <mask> sentinel.
    "q104_span_corruption" -> ((s, dir) =>
      graft.operators.SpanCorruption.corrupt(t(s, dir, "documents"),
        "doc_id", "text", maskPercent = 15)
        .orderBy(col("doc_id"))),

    // q102: batch kNN join — 20 query vectors (vec_id % 25 == 0) each retrieve
    // their top-5 neighbors from the full table among same-LSH-bucket
    // candidates; exact cosine, deterministic (cosine desc, id) ranking.
    "q102_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.knnJoinLsh(
        emb.filter(pmod(col("vec_id"), lit(25)) === 0), emb, "embedding",
        "vec_id", "vec_id", LshPlanes, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // q97: bloom-pruned semi join — lineitem ⋉ (urgent finished orders). The
    // bloom pre-filter drops non-matching lineitem rows in-scan before the
    // exact join; no false negatives ⇒ result ≡ the plain semi join the
    // oracle runs. FPR/merge properties are spec-covered (BloomFilterSpec).
    "q97_bloom_semijoin" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomJoin.semiJoinPruned(
        t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey",
        numBits = 1 << 16, numHashes = 5)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // q96: exact per-source token-length quantiles (p50/p90/p99) via the
    // histogram-cumsum path — no row-level sort; type-1 quantiles are observed
    // values, integer-exact on both engines.
    "q96_exact_quantiles" -> ((s, dir) =>
      graft.operators.Quantiles.exactQuantiles(
        t(s, dir, "documents")
          .select(col("source"), TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "source", "n_tokens", Seq(0.5, 0.9, 0.99))
        .orderBy(col("source"))),

    // q95: SemDeDup semantic dedup verdict — sign-LSH cluster + greedy
    // lower-id-neighbor pruning at cosine >= 0.3; one row per vector with its
    // cluster and keep/drop. The kmeans-quantizer variant is spec-covered.
    // Corpus-adaptive quantizer depth (SemDeDup's own scaling discipline);
    // floor=6/target=32 derive EXACTLY LshPlanes at both sf0.01 and sf0.1, so
    // the static-plane oracle below stays hash-identical at correctness scale
    // while ×10+ corpora get the deeper, linear-work bucketing.
    "q95_semantic_dedup" -> ((s, dir) =>
      SimilaritySearch.semanticDedupAuto(t(s, dir, "embeddings"), "embedding",
        "vec_id", threshold = 0.3, floor = 6, target = 32L)
        .orderBy(col("vec_id"))),

    // q94: BM25 top-k retrieval (rational-idf Okapi; exact cross-engine
    // arithmetic — see Retrieval scaladoc). Ranks the whole corpus for a fixed
    // 3-term query, deterministic doc_id tie-break at the k-th boundary.
    "q94_bm25_topk" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, topK = 50)),

    // q150: BM25 over a PERSISTED text index — q94's ranking THROUGH the
    // saveTextIndex/loadTextIndex round-trip (bucketed full postings +
    // doclens + df/meta tables; file-level pruning on the query terms'
    // buckets). Shares q94's oracle verbatim: the parquet round-trip must
    // be invisible in the scores or the hash breaks.
    "q150_bm25_from_index" -> ((s, dir) => {
      val ret = graft.operators.Retrieval
      val idxPath = "/tmp/graft_fixtures/q150_textindex"
      ret.saveTextIndex(t(s, dir, "documents"), "doc_id", "text", idxPath,
        nBuckets = 16)
      ret.bm25TopKFromIndex(ret.loadTextIndex(s, idxPath), Bm25Terms, topK = 50)
    }),

    // ─── multimodal byte-stats path (real codec kernels live in q60/q61) ─────
    "q51_multimodal_bytes" -> ((s, dir) => {
      val media = Multimodal.asMediaFrame(
        t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", "image")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("sha_prefix"))
        .orderBy(col("media_id"))
    }),

    // q117: the SQL SURFACE end-to-end through the correctness gate — the
    // whole pipeline is a `spark.sql(...)` string over the registered
    // graft_* functions (SqlFunctions/GraftExtensions), no Column API in the
    // query at all. Proves the registry path produces oracle-identical
    // results, not just Column-API-identical ones (SqlFunctionsSpec).
    "q117_sql_surface" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id,
          graft_token_count(text) AS n_tokens,
          graft_quality_score(text) AS quality,
          graft_fingerprint_md5(text) AS fp,
          graft_hash_bucket(graft_fingerprint_md5(text), 100) AS bucket
        FROM graft_docs ORDER BY doc_id""")
    }),

    // q118: the TABLE-function surface — the pair-generating dedup operators
    // reachable from a pure-SQL FROM clause (same builders as the Scala API,
    // resolved through the session's TableFunctionRegistry). Same operator
    // parameters as q45, so the DuckDB oracle is q45's pair pipeline.
    "q118_sql_table_fn" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT id_a, id_b, inter, size_a, size_b, jaccard
          FROM graft_jaccard_pairs('graft_docs', 'doc_id', 'text', 'source', 1, 0.8)
          ORDER BY id_a, id_b""")
    }),

    // q119: the custom GroupTopK WHOLE-OPERATOR from a pure-SQL FROM clause —
    // the same per-source top-3-by-quality as q112, but reaching the
    // bounded-heap plan through the TableFunctionRegistry instead of the
    // Scala API. Same oracle as q112 (the window formulation).
    "q119_sql_group_topk" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "documents").select(col("source"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .createOrReplaceTempView("graft_docs_quality")
      s.sql("""SELECT source, doc_id, quality
          FROM graft_group_topk('graft_docs_quality', 'source',
                                'quality desc, doc_id asc', 3)
          ORDER BY source, doc_id""")
    }),

    // q120: PRODUCT-QUANTIZATION encode (Jégou et al. 2011) — each 64-dim
    // embedding compresses to m=8 codes of 4 bits (ksub=16): per subspace the
    // L2-nearest codebook entry, ONE native codegen expression per row
    // (PqEncode; the composed formulation is 1024 literal nodes — over the
    // codegen budget, the NearestCentroid lesson). The oracle pins the full
    // determinism contract: ascending-dimension distance chains, argmin ties
    // to the LOWER centroid index. Codebook = the 16 lowest-id vectors'
    // subvectors (zero training — deterministic and SQL-reproducible;
    // trained-codebook convergence is spec-pinned in PipelineOpsSpec).
    "q120_pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.ProductQuantization.seedCodebooks(
        emb, "embedding", "vec_id", m = PqM, ksub = PqKsub)
      graft.operators.ProductQuantization.encode(emb, "embedding", cb)
        .select(col("vec_id"), posexplode(col("pq_codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("sub"))
    }),

    // q121: PQ ASYMMETRIC-DISTANCE top-k — the search path over the PACKED
    // code column (8 codes × 4 bits = one 32-bit value per vector; the scan
    // reads 12 bytes a row instead of 256 + runs 8 LUT lookups instead of a
    // 64-dim float kernel). Distances flow query → driver-side LUT →
    // per-row Σ_s lut[s][code_s] (ascending-s left-assoc chain), so the
    // oracle recomputes every step — a wrong pack, unpack, encode, or LUT
    // entry all break the hash. Same fixed codebook and query vector
    // (vec_id 0) as q48's brute-force convention.
    "q121_pq_adc_topk" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val cb = pq.seedCodebooks(emb, "embedding", "vec_id", m = PqM, ksub = PqKsub)
      val (q, _) = queryVec(s, dir)
      val encoded = pq.encode(emb, "embedding", cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"))
      pq.adcTopK(encoded, "packed", "vec_id", cb, q, k = 20)
    }),

    // q123: RESIDUAL product-quantization encode — the true IVFADC layout
    // (quantize v − coarseCentroid(cell) instead of v; same native-expression
    // rationale as q120). The oracle reproduces the WHOLE chain: coarse
    // assignment by cosine (ties to the HIGHER index — the NearestCentroid
    // rule), residual seed codebooks (residuals of the 16 lowest-id rows
    // under THEIR assigned cells), and the per-subspace argmin over residual
    // distances (ties to the LOWER codeword index). Fixed seed coarse
    // centroids (the 4 lowest-id vectors) keep every step SQL-expressible;
    // trained-coarse/trained-codebook quality is spec- and artifact-covered
    // (ProductQuantizationSpec, r10_pq_residual_ab).
    "q123_pq_residual_encode" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          posexplode(col("pq_codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("cell"), col("sub").cast("long").as("sub"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("sub"))
    }),

    // q124: RESIDUAL IVFADC search — the q121 analog over residual codes:
    // per-probed-cell query LUTs (query residual taken against EACH probed
    // cell's centroid), union of nprobe partition-pruned branches, global
    // top-k. nprobe = the full coarse set here so the oracle needn't model
    // probe selection (it is q121's full-scan convention); nprobe<k cell
    // pruning is the same isin filter r9_ivf_prune measured as partition
    // pruning. A wrong residual LUT, branch union, pack, or unpack breaks
    // the hash.
    "q124_pq_residual_adc_topk" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      val (q, _) = queryVec(s, dir)
      val encoded = pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
      pq.ivfPqResidualTopK(encoded, "packed", "vec_id", "cell", coarse, cb, q,
        nprobe = PqCoarseK, k = 20)
    }),

    // q125: the PQ-encode TABLE function — q120's pipeline from a pure-SQL
    // FROM clause (TableFunctionRegistry path, same Scala builder, one code
    // path; the q118/q119 discipline applied to the round's flagship). Same
    // oracle as q120.
    "q125_sql_pq_encode" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql(s"""SELECT vec_id, sub, code
          FROM graft_pq_encode('graft_emb', 'vec_id', 'embedding', $PqM, $PqKsub)
          ORDER BY vec_id, sub""")
    }),

    // q126: BATCH (query-TABLE) residual IVFADC search — the pipeline form
    // of q124: every query row (vec_id % 25 == 0, the q102 convention)
    // retrieves its top-5 neighbors from the residual-quantized index in ONE
    // distributed plan. nprobe=2 of the 4 coarse cells, so the oracle models
    // the whole new surface: per-query probe SELECTION (cosine rank, ties to
    // the HIGHER cell — the assignment rule), the per-(query, cell) residual
    // LUT (PqAdcLut native expression ≡ the unrolled residual chains), the
    // cell join, and per-query GroupTopK. A wrong probe rank, LUT entry,
    // join, or heap all break the hash.
    "q126_ivfpq_batch_join" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      val encoded = pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
      val queries = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      pq.ivfPqTopKJoin(queries, "qid", "embedding", encoded, "packed", "vec_id",
          "cell", coarse, cb, nprobe = 2, k = 5)
        .orderBy(col("query_id"), col("adc_dist"), col("vec_id"))
    }),

    // q127: the ADC-search TABLE function — q121's packed-code top-k from a
    // pure-SQL FROM clause (q125 covered the encode side; this completes the
    // pure-SQL story for the PQ index family — one code path through the
    // same Scala builders). Same oracle as q121.
    "q127_sql_adc_topk" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql(s"""SELECT vec_id, adc_dist
          FROM graft_adc_topk('graft_emb', 'vec_id', 'embedding', $PqM, $PqKsub, 0, 20)
          ORDER BY adc_dist, vec_id""")
    }),

    // q128: OPQ-style ROTATED PQ encode (Ge et al. 2013; the FAISS
    // RandomRotation pre-transform rung) — every embedding is rotated by ONE
    // deterministic orthogonal matrix (fixed-seed Gaussians + modified
    // Gram-Schmidt, a native MatVec expression per row: the 64×64 literal
    // composition would blow the codegen budget), then q120's seed-codebook
    // encode runs in rotated space. The oracle replays the WHOLE chain:
    // the rotation as ascending-index multiply-add chains against the
    // literal matrix (Double.toString round-trips exactly), rotated seed
    // codebooks, and the per-subspace argmin over rotated distances. A
    // wrong matrix entry, chain order, or rotated codebook breaks the hash.
    "q128_opq_rotated_encode" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val rot = graft.operators.Rotation.rotationMatrix(64)
      val rotated = emb.select(col("vec_id"),
        graft.operators.Rotation.rotate(col("embedding"), rot).as("rv"))
      val cb = pq.seedCodebooks(rotated, "rv", "vec_id", m = PqM, ksub = PqKsub)
      pq.encode(rotated, "rv", cb)
        .select(col("vec_id"), posexplode(col("pq_codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("sub"))
    }),

    // q129: k-NN GRAPH over the quantized index — knnGraphIvfPq's full
    // chain (probe rank incl. the higher-cell tie rule, per-pair residual
    // LUTs, cell join, k+1 ranking, EXACT self-exclusion, re-take k) on the
    // q126 geometry. The oracle ranks all non-self candidates directly —
    // mathematically identical to rank-(k+1)-drop-self-retake-k, so a graph
    // that ever leaks a self edge or trims the wrong candidate hash-fails.
    "q129_knn_graph" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      val encoded = pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
      val nodes = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
      pq.knnGraphIvfPq(nodes, "vec_id", "embedding", encoded, "packed", "cell",
          coarse, cb, nprobe = 2, k = 5, broadcastLuts = true)
        .orderBy(col("query_id"), col("adc_dist"), col("vec_id"))
    }),

    // q130: k-NN graph via SYMMETRIC distance (SDC, Jégou et al. 2011
    // §III.A) — the corpus×corpus scale shape: both join sides carry only
    // packed codes, every distance is m lookups into ONE m·ksub² broadcast
    // table (no per-pair LUT column). nprobe = kCent covers every cell, so
    // the oracle replays pure code-to-code ranking with no cell model: code
    // assignment (q120's seed-codebook convention), the unrolled
    // centroid-centroid distance chains, and the non-self rank. A wrong
    // table entry, unpack, or self-filter breaks the hash.
    "q130_knn_graph_sdc" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooks(emb, "embedding", "vec_id", m = PqM, ksub = PqKsub)
      val encoded = pq.encode(assigned, "embedding", cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
      val nodes = encoded.filter(pmod(col("vec_id"), lit(25)) === 0)
      pq.knnGraphSdc(nodes, encoded, "vec_id", "packed", "cell", coarse, cb,
          nprobe = PqCoarseK, k = 5)
        .orderBy(col("query_id"), col("sdc_dist"), col("vec_id"))
    }),

    // q131: the SDC k-NN graph TABLE function — q130's code-to-code graph
    // from a pure-SQL FROM clause (the TVF builds the FULL graph; the WHERE
    // keeps the q130 node subset — per-node top-k is independent of other
    // nodes, so the rows are identical and the oracle is shared).
    "q131_sql_knn_graph" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb")
      s.sql(s"""SELECT query_id, vec_id, sdc_dist
          FROM graft_knn_graph_sdc('graft_emb', 'vec_id', 'embedding', $PqM, $PqKsub, 5)
          WHERE query_id % 25 = 0
          ORDER BY query_id, sdc_dist, vec_id""")
    }),

    // q132: SemDeDup driven by the quantized k-NN graph — candidate pairs
    // come from the SDC graph (k=5 edges per node, code-to-code distance),
    // and ONLY those n·k pairs are exactly cosine-verified (vs the bucketed
    // form's cluster-population² pairs): the 100 TB shape of semantic dedup.
    // Subset corpus (vec_id % 5) keeps the oracle's all-pairs graph replay
    // affordable; seed codebooks come from the SUBSET's own lowest ids. The
    // q95 verdict rule (greedy lower-id drop at cosine >= 0.3) unchanged.
    "q132_semantic_dedup_pq" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      val emb = t(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(5)) === 0)
      val cb = pq.seedCodebooks(emb, "embedding", "vec_id", m = PqM, ksub = PqKsub)
      val enc = pq.encode(emb, "embedding", cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          lit(0).as("cell"))
      val edges = pq.knnGraphSdc(enc, enc, "vec_id", "packed", "cell",
        Seq(Seq(0.0)), cb, nprobe = 1, k = 5)
      SimilaritySearch.semanticDedupByKnnGraph(emb, "embedding", "vec_id",
          edges, threshold = 0.3)
        .orderBy(col("vec_id"))
    }),

    // q133: RECIPROCAL RANK FUSION (Cormack, Clarke & Büttner 2009) — the
    // standard hybrid-retrieval combiner (BM25 list × ANN list; spec drives
    // that composition), arithmetic pinned here over two deterministic
    // 40-item rankings of documents (by char length desc, by token count
    // asc): rank windows, 1/(k0+rank) contributions, absent-item zeros via
    // the FULL join, fixed-order addition — all replayed in the oracle.
    "q133_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.select(col("doc_id"), length(col("text")).as("len"))
        .orderBy(col("len").desc, col("doc_id")).limit(40)
      val b = docs.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("ntok"))
        .orderBy(col("ntok"), col("doc_id")).limit(40)
      graft.operators.Retrieval.rrfFuse(
          Seq((a, Seq("len" -> false)), (b, Seq("ntok" -> true))),
          "doc_id", topK = 20)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // q134: SQ8 SCALAR-QUANTIZED encode — the compression ladder's middle
    // rung (raw 1× / SQ8 4× / PQ 32×): per-dim uint8 against trained
    // [min, max] bounds, all built-ins. The oracle recomputes the bounds,
    // the clamp(round(·)) encode, and the 8-codes-per-long packing is
    // covered by unpacking in q135; here codes are flattened per dim.
    "q134_sq8_encode" -> ((s, dir) => {
      val sq = graft.operators.ScalarQuantization
      // byte-gated widen: repairs an under-split LARGE vector scan only —
      // small inputs stay put (shuffling the vector payload costs more than
      // the single-core encode it would parallelize; measured r16)
      val emb = graft.operators.Spread.widen(t(s, dir, "embeddings"))
      val (mins, maxs) = sq.sqTrain(emb, "embedding")
      emb.select(col("vec_id"),
          posexplode(sq.sqEncode(col("embedding"), mins, maxs))
            .as(Seq("d", "code")))
        .select(col("vec_id"), col("d").cast("long").as("d"),
          col("code").cast("long").as("code"))
        .orderBy(col("vec_id"), col("d"))
    }),

    // q135: SQ8 top-k search — packed 64-byte codes, per-dim affine decode
    // (min + code·span/255), ascending-dim L2² chain, no LUT. The oracle
    // replays bounds → codes → decode → distance with each stage
    // materialized as a list (the resListSql decomposition), so every
    // distance term stays 2-array/1-op.
    "q135_sq8_topk" -> ((s, dir) => {
      val sq = graft.operators.ScalarQuantization
      // unconditional widen (caller-declared heavy): the encode+pack+WRITE
      // leg below otherwise runs inside ONE write task off the single-split
      // scan (measured 7.9 s of the 6.9 s-median query; widened: 2.8 s).
      // The moved embedding bytes are a few MB — trivial against that leg.
      val emb = graft.operators.Spread.widenForCompute(t(s, dir, "embeddings"))
      val (mins, maxs) = sq.sqTrain(emb, "embedding")
      // MATERIALIZE the code frame before searching: composing encode+pack
      // and search in one plan inlines the whole pack chain into each of
      // the 64 decode references (measured 16.5 s vs 0.9 s at sf0.1). A
      // real index is a written dataset — save/load IS the materialization
      // (and this query thereby gates the persistence round-trip too).
      val enc = emb.select(col("vec_id"),
        sq.sqPack(sq.sqEncode(col("embedding"), mins, maxs), 64).as("packed"))
      sq.saveSqIndex(enc, "vec_id", "packed", mins, maxs,
        "/tmp/graft_fixtures/q135_sq_index")
      val idx = sq.loadSqIndex(s, "/tmp/graft_fixtures/q135_sq_index")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0).toSeq
      sq.sqTopK(idx.codes, "packed", "vec_id", q, idx.mins, idx.maxs, k = 20)
        .orderBy(col("sq_dist"), col("vec_id"))
    }),

    // q136: BPE APPLY — encode the corpus to token ids with the TRAINED merge
    // table (train → vocab → scan-side native encode; the tokenizer story's
    // missing half). The oracle's central identity: sequential learn-order
    // replay of the merges over the training corpus reproduces the training
    // table's final state, so DuckDB reads each distinct word's symbols off
    // t{rounds} of the q113 replay, joins them back to per-document pre-token
    // sequences, and prices symbols with the alphabet+merges vocabulary.
    "q136_bpe_encode" -> ((s, dir) => {
      val bpe = graft.operators.BpeTrainer
      val docs = t(s, dir, "documents")
      val merges = bpe.trainMerges(docs, "text", rounds = BpeTrainRounds)
      val voc = bpe.vocab(docs, "text", merges)
      bpe.encodeToIds(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "text", merges, voc)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token_id"))
        .join(broadcast(voc.select(col("sym").as("token_sym"),
          col("id").as("token_id"))), Seq("token_id"))
        .select(col("doc_id"), col("pos"), col("token_sym"), col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // q137: IMAGE perceptual-hash near-dup — real PNG decode → 8×8 aHash →
    // Hamming-banded candidate pairs (pigeonhole blocking, no all-pairs) →
    // exact integer-L1 verify on the decoded thumbnails. Fixture: per-doc
    // grayscale PNGs with closed-form lumas, near-dups planted at doc_id%5==1
    // (one-pixel nudge) and exact re-encodes at doc_id%5==2; the oracle
    // replays construction → luma → threshold bits → banding → L1 entirely
    // in integer arithmetic (string fingerprints, the q47 convention).
    "q137_image_neardup" -> ((s, dir) => {
      graft.operators.Multimodal.imageNearDupPairs(
          imageFixture(t(s, dir, "documents")), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q138: HTML-TO-TEXT extraction — crawled-page markup stripped to C4-rule
    // text as pure column expressions (the pipeline's true first stage; C4 /
    // CCNet shape). Fixture: each document wrapped in real markup — head with
    // style/script blocks (content must vanish WITH the tags), a comment
    // hiding tags, block elements, planted nav boilerplate (killed by the
    // terminal-punctuation rule), a javascript line (killed by the banned
    // list), and an entity gauntlet where &lt;everyone&gt; must survive tag
    // stripping as text. The oracle builds the same string and replays the
    // identical regex chain (java.util.regex ∩ RE2 subset) in DuckDB.
    "q138_html_extract" -> ((s, dir) => {
      val d = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>T"), d, lit("</title>"),
        lit("<style a=\"b\">.c{color:red}</style>"),
        lit("<script>if(1<2){x=1;}</script></head><body>"),
        lit("<!-- hidden comment with <tags> inside -->"),
        lit("<h1>Doc "), d, lit(" heading stands alone.</h1>"),
        lit("<p>"), substring(col("text"), 1, 80), lit(".</p>"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("<div>home | about | contact</div>")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<p>Please enable javascript to continue.</p>")).otherwise(lit("")),
        lit("<p>Tom &amp; Jerry say &quot;hi&quot; to &lt;everyone&gt; " +
          "&#39;now&#39;&nbsp;okay.</p>"),
        lit("<p>It&#8217;s a &#8220;quoted&#8221; em&#8212;dash &#169; " +
          "&#x2026; leading&#0160;zeros &#038;lt; stays &#1234; put.</p>"),
        lit("<ul><li>one two three four.</li><li>tiny</li></ul>"),
        lit("</body></html>"))
      graft.operators.HtmlExtract.extract(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    // q139: the BATCH IVFADC search over a PERSISTED index, from pure SQL —
    // q126's construction written with savePqIndex (cell-partitioned codes +
    // geometry tables), reloaded inside the graft_ivfpq_search TABLE
    // function, searched with the identical ivfPqTopKJoin plan. Shares
    // q126's oracle VERBATIM: the parquet round-trip and the SQL surface
    // must be invisible in the result, or the hash breaks.
    "q139_sql_ivfpq_search" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      graft.expressions.SqlFunctions.registerAll(s)
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      val encoded = pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
      val idxPath = "/tmp/graft_fixtures/q139_index"
      pq.savePqIndex(encoded, "vec_id", "packed", "cell", coarse, cb,
        residual = true, idxPath)
      emb.filter(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
        .createOrReplaceTempView("graft_q139_queries")
      s.sql(s"""SELECT query_id, vec_id, adc_dist
          FROM graft_ivfpq_search('graft_q139_queries', 'qid', 'embedding',
                                  '$idxPath', 2, 5)
          ORDER BY query_id, adc_dist, vec_id""")
    }),

    // q175: the PQ index COMMIT PROTOCOL, oracle-gated end to end — q126's
    // construction split across the full [[GenCommit]] lifecycle: save the
    // vec_id%3!=0 slice (gen 0), APPEND the %3==0 slice (gen 1, under the
    // writer lease), plant a TORN generation (a gen=2 code file whose meta
    // never committed — the crash artifact), vacuum it away, and search the
    // reloaded index with the identical ivfPqTopKJoin plan. Shares q126's
    // oracle VERBATIM: the generation round-trip, the orphan, and the vacuum
    // must all be invisible in the result, or the hash breaks.
    "q175_pq_append_vacuum" -> ((s, dir) => {
      val pq = graft.operators.ProductQuantization
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val assigned = SimilaritySearch.assignCells(emb, "embedding", coarse, "cell")
      val cb = pq.seedCodebooksResidual(assigned, "embedding", "vec_id", "cell",
        coarse, m = PqM, ksub = PqKsub)
      // MATERIALIZE the packed-code frame once (the q135 discipline): it is
      // NARROW (vec_id, packed long, cell int) and feeds BOTH the save and
      // the append below — left lazy, each reference re-runs the whole
      // assign+residual-encode chain over the vectors.
      val encoded = pq.encodeResidual(assigned, "embedding", "cell", coarse, cb)
        .select(col("vec_id"), pq.packCodes(col("pq_codes"), PqM, PqKsub).as("packed"),
          col("cell"))
        .localCheckpoint()
      val idxPath = "/tmp/graft_fixtures/q175_index"
      pq.savePqIndex(encoded.filter(pmod(col("vec_id"), lit(3)) =!= 0),
        "vec_id", "packed", "cell", coarse, cb, residual = true, idxPath)
      pq.appendToPqIndex(encoded.filter(pmod(col("vec_id"), lit(3)) === 0),
        "vec_id", "packed", "cell", idxPath)
      // the crash artifact: a gen=2 code file landed, meta_g2 never did —
      // invisible to readers, reclaimed by the vacuum
      Seq((-1L, 0L, 0, 2)).toDF("vec_id", "packed", "cell", "gen")
        .write.mode("append").partitionBy("gen", "cell").parquet(s"$idxPath/codes")
      pq.vacuumPqIndex(s, idxPath)
      val idx = pq.loadPqIndex(s, idxPath)
      val queries = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      pq.ivfPqTopKJoin(queries, "qid", "embedding", idx.codes, "packed", "vec_id",
          "cell", idx.coarse, idx.codebooks, nprobe = 2, k = 5)
        .orderBy(col("query_id"), col("adc_dist"), col("vec_id"))
    }),

    // q140: the FULL tokenizer chain (train → vocab → encode → price) from a
    // pure-SQL FROM clause via the graft_bpe_encode TABLE function — trains
    // on the whole corpus, encodes the %5 sample, exactly q136's chain, so
    // it shares the oracle verbatim.
    "q140_sql_bpe_encode" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_bpe")
      t(s, dir, "documents").filter(pmod(col("doc_id"), lit(5)) === 0)
        .createOrReplaceTempView("graft_docs_bpe_sample")
      s.sql(s"""SELECT doc_id, pos, token_sym, token_id
          FROM graft_bpe_encode('graft_docs_bpe', 'graft_docs_bpe_sample',
                                'doc_id', 'text', $BpeTrainRounds)
          ORDER BY doc_id, pos""")
    }),

    // q141: TOKEN-level sequence packing — real BPE ids packed into
    // fixed-budget training rows (greedy per-shard bins, ascending-id
    // concatenation, −1 separators between documents): the array a
    // pretraining loader actually reads, closing the train → encode → pack
    // chain end-to-end. The oracle feeds the shared encode replay into
    // q72's recursive greedy-packing CTE and explodes packs to positions.
    "q141_pack_token_ids" -> ((s, dir) => {
      val bpe = graft.operators.BpeTrainer
      val docs = t(s, dir, "documents")
      val merges = bpe.trainMerges(docs, "text", rounds = BpeTrainRounds)
      val voc = bpe.vocab(docs, "text", merges)
      val withIds = bpe.encodeToIds(docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "text", merges, voc)
        .select(col("doc_id"), col("token_ids"))
      graft.operators.SequencePacking.packTokenIds(withIds, "doc_id",
          "token_ids", budget = 300L, nShards = 4, sepId = -1)
        .select(col("shard"), col("pack"), col("n_docs"),
          posexplode(col("packed_ids")))
        .select(col("shard"), col("pack"), col("n_docs"),
          (col("pos") + 1).cast("long").as("pos"), col("col").as("token_id"))
        .orderBy(col("shard"), col("pack"), col("pos"))
    }),

    // q143: image near-dup from pure SQL — the graft_image_neardup TABLE
    // function over the q137 fixture registered as a view; shares q137's
    // oracle verbatim.
    "q143_sql_image_neardup" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      imageFixture(t(s, dir, "documents"))
        .createOrReplaceTempView("graft_images")
      s.sql("""SELECT id_a, id_b, hamming, l1
          FROM graft_image_neardup('graft_images', 3)
          ORDER BY id_a, id_b""")
    }),

    // q144: bigram-LM OOV scoring from pure SQL — graft_bigram_oov trains on
    // the corpus view and scores it, exactly q142's chain; oracle shared
    // verbatim.
    "q144_sql_bigram_oov" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_lm")
      s.sql("""SELECT doc_id, n_bigrams, n_oov, oov_rate
          FROM graft_bigram_oov('graft_docs_lm', 'graft_docs_lm',
                                'doc_id', 'text', 2)
          ORDER BY doc_id""")
    }),

    // q145: DIVERSITY sampling — Voronoi-stratified selection over the
    // embedding space (nearest-centroid cells, md5-ordered per-cell cap via
    // GroupTopK): the density-flattening complement of semantic dedup. The
    // oracle replays the cosine assignment (ties to the HIGHER cell — the
    // NearestCentroid rule) and the md5 rank per cell.
    "q145_diversity_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse: Seq[Seq[Double]] = emb
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      graft.operators.Sampling.diversitySample(emb, "embedding", "vec_id",
          coarse, perCell = 20)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))
    }),

    // q142: BIGRAM-LM OOV novelty scoring — the CCNet-style quality filter's
    // oracle-exact surface: train the bigram table on the corpus, score each
    // document by the fraction of its token transitions with count < 2
    // (integer counts + one exactly-rounded IEEE division; the ln-based NLL
    // ranking is property-spec'd instead, libm differs cross-engine).
    "q142_bigram_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.NgramLm.bigramCounts(docs, "text")
      graft.operators.NgramLm.oovBigramRate(docs, "doc_id", "text", lm,
          minCount = 2L)
        .orderBy(col("doc_id"))
    }),

    // q122: Z-ORDER (Morton) layout value — the bit-interleave that
    // `Layout.zorderWrite` range-sorts on so a box predicate over SEVERAL
    // bucketized dimensions prunes parquet files/row groups at once (the
    // Delta/Iceberg OPTIMIZE ZORDER BY primitive; pruning itself is measured
    // in r10_zorder_scan, this pins the arithmetic). Dimensions here:
    // char length and token count, clamped to 10 bits each; the z-value is a
    // fixed shift/mask/add chain over disjoint bit fields — exact integer
    // math, identical unrolled in the oracle.
    "q122_zorder_value" -> ((s, dir) => {
      val lay = graft.operators.Layout
      t(s, dir, "documents")
        .select(col("doc_id"),
          lay.bucket(length(col("text")), 10).as("x"),
          lay.bucket(TextFunctions.tokenCount(col("text")), 10).as("y"))
        .withColumn("zval", lay.zValue(Seq(col("x"), col("y")), 10))
        .orderBy(col("doc_id"))
    }),

    // q146: BYTE-LEVEL BPE — the q136 chain under the GPT-2 byte-level
    // convention (ByteRemap: UTF-8 bytes → 256 printable symbol chars), so
    // OOV is impossible by construction on open text. The fixture appends
    // real multi-byte UTF-8 (accents, CJK, an astral emoji) to every
    // document — exactly what the code-point path cannot price without a
    // sentinel. The oracle replays the remap itself (hex(encode(word)) split
    // into byte pairs against the 256-row map) and then the identical
    // training-replay + vocab + pricing chain; the base alphabet is the
    // FIXED byte table, ids 0..255.
    "q146_bpe_byte_encode" -> ((s, dir) => {
      val bpe = graft.operators.BpeTrainer
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 60),
          lit(" café 日本 Straße 🙂!")).as("text"))
      val merges = bpe.trainMerges(fixture, "text", rounds = BpeTrainRounds,
        byteLevel = true)
      val voc = bpe.vocab(fixture, "text", merges, byteLevel = true)
      bpe.encodeToIds(fixture.filter(pmod(col("doc_id"), lit(5)) === 0),
          "text", merges, voc, byteLevel = true)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token_id"))
        .join(broadcast(voc.select(col("sym").as("token_sym"),
          col("id").as("token_id"))), Seq("token_id"))
        .select(col("doc_id"), col("pos"), col("token_sym"), col("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // q148: video near-dup from pure SQL — the graft_video_neardup TABLE
    // function over the q147 fixture registered as a view; shares q147's
    // oracle verbatim.
    "q148_sql_video_neardup" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      videoFixture(t(s, dir, "documents"))
        .createOrReplaceTempView("graft_videos")
      s.sql("""SELECT id_a, id_b, m_a, n_a, m_b, n_b, overlap
          FROM graft_video_neardup('graft_videos', 1, 3, 0.5)
          ORDER BY id_a, id_b""")
    }),

    // q149: the q86 capstone WITH the CCNet bigram-LM gate wired into
    // curate() — quality → language → LM OOV filter (count table trained on
    // the full corpus; minCount=30 marks below-median-frequency transitions
    // OOV so the gate is DISCRIMINATIVE on this corpus: ~20% of docs drop)
    // → near-dup canonicals → decontamination. The oracle replays q86's
    // recursive chain with the q142-style OOV stage spliced between the
    // scan filters and the LSH pair set.
    "q149_curation_lm_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.NgramLm.bigramCounts(docs, "text")
      graft.operators.Decontamination.decontaminate(
        graft.operators.CurationPipeline.curate(docs,
          lmFilter = Some(graft.operators.CurationPipeline.LmFilter(
            lm, minCount = 30L, maxOovRate = 0.5))),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // q151: GOPHER REPETITION SIGNALS, line/paragraph family — duplicate
    // occurrence fraction and duplicate CHARACTER fraction for both \n-lines
    // and \n\n-paragraphs, all pure scan-side column expressions
    // (RepetitionStats). Fixture plants duplicate lines (doc_id%3==0),
    // duplicate paragraphs (doc_id%4==0) and phrase repeats; the oracle
    // re-derives the SAME final text and replays the counts as
    // sum(c−1)/sum(c) per value.
    "q151_repetition_lines" -> ((s, dir) => {
      graft.operators.RepetitionStats
        .withRepetitionSignals(repFixture(t(s, dir, "documents")))
        .select(col("doc_id"), col("dup_line_frac"), col("dup_line_char_frac"),
          col("dup_para_frac"), col("dup_para_char_frac"))
        .orderBy(col("doc_id"))
    }),

    // q152: GOPHER REPETITION SIGNALS, n-gram family — top-2-gram and
    // duplicated-5-gram character fractions via EXACT position coverage
    // (overlaps counted once), plus the full six-signal keep flag at the
    // Rae et al. Table A1 thresholds (the predicate repetitionFilter
    // applies). The oracle computes coverage as DISTINCT covered token
    // positions joined from duplicated gram starts.
    "q152_repetition_ngrams" -> ((s, dir) => {
      val th = graft.operators.RepetitionStats.RepetitionThresholds()
      graft.operators.RepetitionStats
        .withRepetitionSignals(repFixture(t(s, dir, "documents")))
        .select(col("doc_id"), col("top_gram_char_frac"), col("dup_gram_char_frac"),
          (col("dup_line_frac") <= th.maxDupLineFrac &&
            col("dup_line_char_frac") <= th.maxDupLineCharFrac &&
            col("dup_para_frac") <= th.maxDupParaFrac &&
            col("dup_para_char_frac") <= th.maxDupParaCharFrac &&
            col("top_gram_char_frac") <= th.maxTopGramCharFrac &&
            col("dup_gram_char_frac") <= th.maxDupGramCharFrac).as("pass"))
        .orderBy(col("doc_id"))
    }),

    // q153: AUDIO near-dup — real WAV container parse → 64-frame energy
    // fingerprint → Hamming-banded candidate pairs (pigeonhole blocking, no
    // all-pairs) → exact integer-L1 verify on the per-frame energies — the
    // modality that completes the image (q137) / video (q147) / audio dedup
    // family. Fixture: per-doc 2048-sample PCM clips with closed-form
    // samples, near-dups planted at doc_id%5==1 (frame-0 amplitude nudge)
    // and exact re-encodes at doc_id%5==2; the oracle replays construction
    // → |s| frame sums → threshold bits → banding → L1 in integer
    // arithmetic (string fingerprints, the q137 convention).
    "q153_audio_neardup" -> ((s, dir) => {
      graft.operators.Multimodal.audioNearDupPairs(
          audioFixture(t(s, dir, "documents")), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q154: audio near-dup from pure SQL — the graft_audio_neardup TABLE
    // function over the q153 fixture registered as a view; shares q153's
    // oracle verbatim.
    "q154_sql_audio_neardup" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      audioFixture(t(s, dir, "documents"))
        .createOrReplaceTempView("graft_audio")
      s.sql("""SELECT id_a, id_b, hamming, l1
          FROM graft_audio_neardup('graft_audio', 3)
          ORDER BY id_a, id_b""")
    }),

    // q157: LINEAR-CLASSIFIER TRAINING — the fastText/CCNet-style quality
    // filter's trainable half as a distributed EXACT-INTEGER batch
    // perceptron over hashed token-count features (16 dims, 3 iterations,
    // labels = length threshold). Every iteration is one corpus aggregate
    // reducing to a dims-sized gradient; the oracle RE-TRAINS the identical
    // model as unrolled per-iteration CTEs (w=0 start makes iteration 1
    // update on every doc — the deterministic convention both engines pin).
    "q157_perceptron_train" -> ((s, dir) => {
      val lt = graft.operators.LinearTrainer
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_t"))
        .withColumn("_bk", lt.tokenBuckets(col("_t"), PerceptronDims))
        .select(col("doc_id"),
          lt.countsFromBuckets(col("_bk"), PerceptronDims).as("features"),
          when(size(col("_t")) >= 55, 1L).otherwise(-1L).as("label"))
      val w = lt.perceptronTrain(staged, "features", "label",
        PerceptronDims, PerceptronIters)
      import s.implicits._
      w.zipWithIndex.map { case (wv, p) => (p.toLong, wv) }.toSeq
        .toDF("pos", "weight").orderBy("pos")
    }),

    // q158: SPARSE-FEATURE perceptron training at fastText-regime dims
    // (2^16 hash buckets) — the same exact-integer batch update as q157 with
    // per-row cost ∝ the document's tokens instead of O(T·dims): features
    // are run-length (pos, cnt) entries over the sorted bucket array, the
    // gradient explodes only MISCLASSIFIED rows' sparse entries, and the
    // per-iteration collect is bounded by the ACTIVE vocabulary. The oracle
    // re-trains the identical model (its features were always sparse) and
    // both sides emit only the nonzero weights.
    "q158_perceptron_sparse" -> ((s, dir) => {
      val lt = graft.operators.LinearTrainer
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_t"))
        .withColumn("_sb", lt.sortedTokenBuckets(col("_t"), SparsePerceptronDims))
        .select(col("doc_id"),
          lt.sparseCountsFromSorted(col("_sb")).as("sfeat"),
          when(size(col("_t")) >= 55, 1L).otherwise(-1L).as("label"))
      val w = lt.perceptronTrainSparse(staged, "sfeat", "label",
        SparsePerceptronDims, PerceptronIters)
      import s.implicits._
      w.zipWithIndex.collect { case (wv, p) if wv != 0L => (p.toLong, wv) }
        .toSeq.toDF("pos", "weight").orderBy("pos")
    }),

    // q159: AVERAGED perceptron (Freund & Schapire's voted average, batch
    // form) — Σ of the weight vector after each iteration beside the final
    // iterate, exact integers so the oracle re-trains BOTH from unrolled
    // CTEs (wavg = union-all of the per-iteration weight tables, summed).
    "q159_perceptron_averaged" -> ((s, dir) => {
      val lt = graft.operators.LinearTrainer
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("_t"))
        .withColumn("_sb", lt.sortedTokenBuckets(col("_t"), PerceptronDims))
        .select(col("doc_id"),
          lt.sparseCountsFromSorted(col("_sb")).as("sfeat"),
          when(size(col("_t")) >= 55, 1L).otherwise(-1L).as("label"))
      val (fin, avg) = lt.perceptronTrainAveragedSparse(staged, "sfeat", "label",
        PerceptronDims, PerceptronIters)
      import s.implicits._
      (0 until PerceptronDims).map(p => (p.toLong, fin(p), avg(p)))
        .toDF("pos", "weight", "weight_avg").orderBy("pos")
    }),

    // q160: one-vs-all MULTI-CLASS training (the language-ID shape) on the
    // q88 suffix-augmented corpus — one binary sparse perceptron per
    // language over a SHARED checkpointed feature frame, labels +1/−1 per
    // class, active weights per class. The oracle unrolls all four training
    // chains over the same pt/px CTEs.
    "q160_perceptron_multiclass" -> ((s, dir) => {
      val models = graft.operators.LinearTrainer.perceptronTrainOneVsAll(
        multiclassStaged(s, dir), "sfeat", "cls", MulticlassDims, MulticlassIters)
      import s.implicits._
      models.flatMap { case (c, w) => w.zipWithIndex.collect {
        case (wv, p) if wv != 0L => (c, p.toLong, wv) } }
        .toDF("cls", "pos", "weight").orderBy("cls", "pos")
    }),

    // q167: the AVERAGED one-vs-all variant — per class the summed
    // per-iteration weight vectors (q159's Freund & Schapire average, exact
    // integers) over the SAME four training chains as q160; the oracle
    // unrolls every chain and sums its per-iteration weight tables.
    "q167_perceptron_multiclass_avg" -> ((s, dir) => {
      val models = graft.operators.LinearTrainer.perceptronTrainOneVsAll(
        multiclassStaged(s, dir), "sfeat", "cls", MulticlassDims, MulticlassIters,
        averaged = true)
      import s.implicits._
      models.flatMap { case (c, w) => w.zipWithIndex.collect {
        case (wv, p) if wv != 0L => (c, p.toLong, wv) } }
        .toDF("cls", "pos", "weight").orderBy("cls", "pos")
    }),

    // q170: UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018, the SentencePiece
    // regime) — the hard-EM variant: substring seeds over the pre-token
    // frequency table, then per iteration a Viterbi segmentation of every
    // distinct word (float work limited to the α·p product chain —
    // bit-identical in any IEEE engine; ties to the longer piece) and an
    // exact integer recount. The oracle replays seeding, both unrolled EM
    // iterations (recursive-CTE forward DP + backtrace walk), and the
    // final positive-count filter.
    "q170_unigram_train" -> ((s, dir) =>
      graft.operators.UnigramLm.trainUnigram(t(s, dir, "documents"), "text",
          UnigramMaxPieceLen, UnigramVocabSize, UnigramIters)
        .orderBy(col("piece"))),

    // q171: UNIGRAM-LM ENCODE — Viterbi-encode the %25 document sample with
    // the model q170 trains (train on the FULL corpus, the q136 discipline):
    // per document, pre-tokens in order, each segmented under the final
    // piece probabilities; (doc_id, pos, token), pos 1-based across the doc.
    "q171_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.UnigramLm.trainUnigram(docs, "text",
        UnigramMaxPieceLen, UnigramVocabSize, UnigramIters)
      graft.operators.UnigramLm.encodeUnigram(
          docs.filter(pmod(col("doc_id"), lit(25)) === 0), "doc_id", "text",
          model, UnigramMaxPieceLen)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // q174: unigram-LM training with the SENTENCEPIECE SHRINK LOOP — seed
    // wide (the q170 geometry), then between the two EM iterations prune
    // the active set to every single character plus the top-20 multi-char
    // pieces by count; the second iteration re-fits the survivors. The
    // oracle replays both unrolled iterations with the prune CTE between.
    "q174_unigram_train_pruned" -> ((s, dir) =>
      graft.operators.UnigramLm.trainUnigram(t(s, dir, "documents"), "text",
          UnigramMaxPieceLen, UnigramVocabSize, UnigramIters,
          pruneTo = Some(UnigramPruneTo))
        .orderBy(col("piece"))),

    // q173: unigram-LM encode to TOKEN IDS — the q171 segmentation priced
    // through the vocabIds table (ascending binary piece order, the packing
    // pipelines' integer surface); per-doc id arrays exploded to
    // (doc_id, pos, token_id).
    "q173_unigram_encode_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.UnigramLm.trainUnigram(docs, "text",
        UnigramMaxPieceLen, UnigramVocabSize, UnigramIters)
      graft.operators.UnigramLm.encodeUnigramToIds(
          docs.filter(pmod(col("doc_id"), lit(25)) === 0), "doc_id", "text",
          model, UnigramMaxPieceLen)
        .select(col("doc_id"), posexplode(col("token_ids")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token_id"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // q172: unigram-LM encode from PURE SQL — the graft_unigram_encode
    // TABLE function over the q170/q171 construction (train view = full
    // corpus, encode view = the %25 sample); shares q171's oracle verbatim.
    "q172_sql_unigram_encode" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      val docs = t(s, dir, "documents")
      docs.createOrReplaceTempView("graft_unigram_train")
      docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .createOrReplaceTempView("graft_unigram_probe")
      s.sql(s"""SELECT doc_id, pos, token
          FROM graft_unigram_encode('graft_unigram_train', 'graft_unigram_probe',
            'doc_id', 'text', $UnigramMaxPieceLen, $UnigramVocabSize, $UnigramIters)
          ORDER BY doc_id, pos""")
    }),

    // q176: unigram-LM encode with BYTE FALLBACK (SentencePiece's
    // --byte_fallback for the hard-EM regime) — train byteLevel on the
    // PLAIN corpus (fixed 256-symbol alphabet floor, count-0 singles
    // RETAINED in the model), then encode the %25 sample with the q146
    // adversarial multi-byte UTF-8 appended: accents, CJK and an astral
    // emoji whose bytes the training corpus never saw degrade to
    // probability-0 byte pieces (ties to the longer piece — deterministic)
    // instead of vanishing. The oracle replays the byte remap, the
    // byteLevel EM, the count-0-singles model, and the fallback Viterbi.
    "q176_unigram_byte_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.UnigramLm.trainUnigram(docs, "text",
        UnigramMaxPieceLen, UnigramVocabSize, UnigramIters, byteLevel = true)
      val fixture = docs.select(col("doc_id"),
        concat(substring(col("text"), 1, 60), lit(" café 日本 Straße 🙂!")).as("text"))
      graft.operators.UnigramLm.encodeUnigram(
          fixture.filter(pmod(col("doc_id"), lit(25)) === 0), "doc_id", "text",
          model, UnigramMaxPieceLen, byteLevel = true)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // q177: the UNIGRAM-NLL curation gate — q149's chain with the trained
    // unigram tokenizer's per-document bit-surprisal (UnigramLm.bitSurprisal,
    // the oracle-exact CCNet perplexity stand-in) spliced between the
    // scan-side predicates and the LSH dedup shuffles: quality → language →
    // avg-bits ≤ threshold under the q170-geometry model trained on the full
    // corpus → near-dup canonicals → decontamination. The threshold sits
    // inside the corpus distribution (docs above it drop), so the gate is
    // discriminative, not vacuous. The oracle replays the q170 EM to the
    // trained model, a final-model Viterbi pass over the survivors' distinct
    // pre-tokens, the integer floor-log2 pricing, and then q149's
    // LSH/components/decontamination tail.
    "q177_curation_unigram_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.UnigramLm.trainUnigram(docs, "text",
        UnigramMaxPieceLen, UnigramVocabSize, UnigramIters)
      graft.operators.Decontamination.decontaminate(
        graft.operators.CurationPipeline.curate(docs,
          unigramFilter = Some(graft.operators.CurationPipeline.UnigramNllFilter(
            model, maxPieceLen = UnigramMaxPieceLen,
            maxAvgBits = UnigramGateMaxAvgBits))),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // q179: the KN-TRIGRAM curation gate — q149's chain with the
    // interpolated Kneser–Ney trigram bit-surprisal (q178's scorer) as the
    // LM stage: quality → language → KN avg-bits ≤ threshold under the
    // corpus-trained trigram tables → near-dup canonicals →
    // decontamination. Completes the LM-gate ladder (bigram OOV q149 →
    // unigram tokenizer NLL q177 → smoothed KN trigram here); threshold
    // calibrated inside the survivor distribution so ~30% drop.
    "q179_curation_kn_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tri = graft.operators.NgramLm.trigramCounts(docs, "text")
      graft.operators.Decontamination.decontaminate(
        graft.operators.CurationPipeline.curate(docs,
          knFilter = Some(graft.operators.CurationPipeline.KnFilter(
            tri, maxAvgBits = KnGateMaxAvgBits))),
        docs.filter(pmod(col("doc_id"), lit(101)) === 0),
        "doc_id", "text", n = 3)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // q178: KNESER-NEY trigram LM scoring — the CCNet-style perplexity gate
    // upgraded from the q142 bigram-OOV novelty to a real smoothed trigram
    // model (interpolated KN, absolute discount d=1/2), kept ORACLE-EXACT by
    // the bit-surprisal discipline: every probability is one rational
    // num/den over integer count tables (all derived from the corpus
    // trigram table), each trigram prices floor(log2(den/num)) bits via the
    // integer identity bitlen(den div num) − 1, and the only float op is
    // the final per-doc IEEE division. The oracle replays the count tables,
    // the two-level interpolation numerators, and the bin()-length pricing.
    "q178_kn_trigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tri = graft.operators.NgramLm.trigramCounts(docs, "text")
      graft.operators.NgramLm.knTrigramBits(docs, "doc_id", "text", tri)
        .orderBy(col("doc_id"))
    }),

    // q162: THE FULL MODERN CURATION CHAIN, oracle-gated end to end —
    // curateForTraining with BOTH optional stages engaged: the Gopher
    // repetition gate (maxTopGramCharFrac tightened to 0.10, which drops
    // ~10% of the natural corpus — the gate is discriminative here, not
    // vacuous) joins quality/language in the scan predicates, and the
    // Voronoi diversity cap (q145's construction, perCell=20 over the
    // decontamination survivors' embeddings) runs before redaction/
    // chunking/sharding. Output: (doc_id, shard) distinct from the chunk
    // frame the pipeline WROTE — the oracle replays quality → language →
    // repetition thresholds → LSH canonicals → decontamination → Voronoi
    // cap → md5 shard, so every selection stage and the shard layout are
    // pinned in one row set.
    "q162_curation_full_chain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val coarse: Seq[Seq[Double]] = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(col("vec_id")).limit(PqCoarseK)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val outPath = "/tmp/graft_fixtures/q162_curated"
      graft.operators.CurationPipeline.curateForTraining(
        docs, docs.filter(pmod(col("doc_id"), lit(101)) === 0), outPath,
        repetitionGate = Some(graft.operators.RepetitionStats
          .RepetitionThresholds(maxTopGramCharFrac = 0.10)),
        diversity = Some(graft.operators.CurationPipeline.DiversitySpec(
          emb, "embedding", coarse, perCell = 20)))
      // read back what the pipeline WROTE (shard is the partition column) —
      // gating the on-disk layout, and never re-executing the chain
      s.read.parquet(outPath)
        .select(col("doc_id"), col("shard").cast("long").as("shard"))
        .distinct().orderBy(col("doc_id"))
    }),

    // q161: PERSISTED MEDIA-FINGERPRINT INDEX — audio near-dup AGAINST a
    // saved-then-APPENDED index (the q150 persistence discipline for the
    // media hash families): the catalog clips (doc_id%5 ∈ {0,3,4}) hash once
    // into the gen-committed fingerprint index in two generations, and the
    // probe clips (%5 ∈ {1,2}: the planted nudge/re-encode population) band
    // and verify against the PARQUET fingerprints — the indexed payloads are
    // never re-decoded. The oracle replays q153's arithmetic restricted to
    // probe×catalog pairs; the round-trip must be invisible in the result.
    "q161_audio_neardup_index" -> ((s, dir) => {
      val mm = graft.operators.Multimodal
      val media = audioFixture(t(s, dir, "documents"))
      val catalog = media.filter(pmod(col("media_id"), lit(5)).isin(0, 3, 4))
      val idxPath = "/tmp/graft_fixtures/q161_audioindex"
      mm.saveAudioIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToAudioIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      mm.audioNearDupAgainstIndex(
          media.filter(pmod(col("media_id"), lit(5)).isin(1, 2)), idxPath,
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q163: VIDEO near-dup against the persisted frame-hash index — the
    // q161 persistence discipline for the clip modality: catalog clips
    // (doc_id%7 ∈ {0,4,5,6}) demux once into the gen-committed index in two
    // generations; the probe clips (%7 ∈ {1,2,3}: planted re-encode, trim,
    // one-frame edit) band frame-level against the PARQUET frame hashes and
    // run the directional containment verify. Oracle: q147's arithmetic on
    // probe×catalog pairs.
    "q163_video_neardup_index" -> ((s, dir) => {
      val mm = graft.operators.Multimodal
      val media = videoFixture(t(s, dir, "documents"))
      val catalog = media.filter(!pmod(col("media_id"), lit(7)).isin(1, 2, 3))
      val idxPath = "/tmp/graft_fixtures/q163_videoindex"
      mm.saveVideoIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToVideoIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      mm.videoNearDupAgainstIndex(
          media.filter(pmod(col("media_id"), lit(7)).isin(1, 2, 3)), idxPath,
          every = 1, maxHamming = 3, minOverlap = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q166: BM25 from the persisted text index from PURE SQL — the
    // graft_bm25_index TABLE function over q150's construction (index saved
    // then APPENDED in two generations, so the SQL read crosses a
    // generation boundary); shares q94's oracle verbatim — persistence AND
    // the SQL surface must both be invisible in the ranking.
    "q166_sql_bm25_index" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      val ret = graft.operators.Retrieval
      val idxPath = "/tmp/graft_fixtures/q166_textindex"
      val docs = t(s, dir, "documents")
      ret.saveTextIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", idxPath, nBuckets = 16)
      ret.appendToTextIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", idxPath)
      s.sql(s"""SELECT doc_id, n_tokens, score
          FROM graft_bm25_index('$idxPath', '${Bm25Terms.mkString(",")}', 50)""")
    }),

    // q165: audio near-dup against the persisted index from PURE SQL — the
    // graft_audio_neardup_index TABLE function over the q161 construction
    // (index built the same way; probes registered as a view); shares q161's
    // oracle verbatim — the SQL surface must be invisible in the result.
    "q165_sql_audio_neardup_index" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      val mm = graft.operators.Multimodal
      val media = audioFixture(t(s, dir, "documents"))
      val catalog = media.filter(pmod(col("media_id"), lit(5)).isin(0, 3, 4))
      val idxPath = "/tmp/graft_fixtures/q165_audioindex"
      mm.saveAudioIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToAudioIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      media.filter(pmod(col("media_id"), lit(5)).isin(1, 2))
        .createOrReplaceTempView("graft_audio_probes")
      s.sql(s"""SELECT id_a, id_b, hamming, l1
          FROM graft_audio_neardup_index('graft_audio_probes', '$idxPath', 3)
          ORDER BY id_a, id_b""")
    }),

    // q164: IMAGE near-dup against the persisted aHash index — catalog
    // images (doc_id%5 ∈ {0,3,4}) hash once into the index; probes (%5 ∈
    // {1,2}: pixel nudge, re-encode) band against the parquet fingerprints
    // with the exact gray-L1 verify. Oracle: q137's arithmetic on
    // probe×catalog pairs.
    "q164_image_neardup_index" -> ((s, dir) => {
      val mm = graft.operators.Multimodal
      val media = imageFixture(t(s, dir, "documents"))
      val catalog = media.filter(pmod(col("media_id"), lit(5)).isin(0, 3, 4))
      val idxPath = "/tmp/graft_fixtures/q164_imageindex"
      mm.saveImageIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToImageIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      mm.imageNearDupAgainstIndex(
          media.filter(pmod(col("media_id"), lit(5)).isin(1, 2)), idxPath,
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // q168: image near-dup against the persisted index from PURE SQL — the
    // graft_image_neardup_index TABLE function over the q164 construction
    // (index built the same way; probes registered as a view); shares
    // q164's oracle verbatim — the SQL surface must be invisible.
    "q168_sql_image_neardup_index" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      val mm = graft.operators.Multimodal
      val media = imageFixture(t(s, dir, "documents"))
      val catalog = media.filter(pmod(col("media_id"), lit(5)).isin(0, 3, 4))
      val idxPath = "/tmp/graft_fixtures/q168_imageindex"
      mm.saveImageIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToImageIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      media.filter(pmod(col("media_id"), lit(5)).isin(1, 2))
        .createOrReplaceTempView("graft_image_probes")
      s.sql(s"""SELECT id_a, id_b, hamming, l1
          FROM graft_image_neardup_index('graft_image_probes', '$idxPath', 3)
          ORDER BY id_a, id_b""")
    }),

    // q169: video near-dup against the persisted frame-hash index from PURE
    // SQL — the graft_video_neardup_index TABLE function over the q163
    // construction; shares q163's oracle verbatim.
    "q169_sql_video_neardup_index" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      val mm = graft.operators.Multimodal
      val media = videoFixture(t(s, dir, "documents"))
      val catalog = media.filter(!pmod(col("media_id"), lit(7)).isin(1, 2, 3))
      val idxPath = "/tmp/graft_fixtures/q169_videoindex"
      mm.saveVideoIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 0), idxPath)
      mm.appendToVideoIndex(catalog.filter(pmod(col("media_id"), lit(2)) === 1), idxPath)
      media.filter(pmod(col("media_id"), lit(7)).isin(1, 2, 3))
        .createOrReplaceTempView("graft_video_probes")
      s.sql(s"""SELECT id_a, id_b, m_a, n_a, m_b, n_b, overlap
          FROM graft_video_neardup_index('graft_video_probes', '$idxPath', 1, 3, 0.5)
          ORDER BY id_a, id_b""")
    }),

    // q156: repetition signals from pure SQL — the graft_repetition TABLE
    // function over the q151/q152 fixture registered as a view, with the
    // six-threshold keep flag computed in the caller's SQL; shares q152's
    // oracle verbatim.
    "q156_sql_repetition" -> ((s, dir) => {
      graft.expressions.SqlFunctions.registerAll(s)
      repFixture(t(s, dir, "documents"))
        .createOrReplaceTempView("graft_rep_docs")
      s.sql("""SELECT doc_id, top_gram_char_frac, dup_gram_char_frac,
          (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
           AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
           AND top_gram_char_frac <= 0.20 AND dup_gram_char_frac <= 0.15) AS pass
          FROM graft_repetition('graft_rep_docs', 'doc_id', 'text', 2, 5)
          ORDER BY doc_id""")
    }),

    // q155: TOKEN-BUDGET MIXTURE — compose a training recipe in TOKENS per
    // domain (The Pile / Llama-style mixtures): greedy hash-ordered prefix
    // per domain, kept iff cumulative tokens ≤ the domain budget; domains
    // absent from the recipe drop. The engine runs the bucketed two-phase
    // plan (histogram + boundary-bucket window); the oracle replays the
    // SEMANTICS as one plain window cumsum — structural equality is the
    // point of the gate.
    "q155_token_budget_mix" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val dom = when(m === 0, lit("web")).when(m === 1, lit("code"))
        .when(m === 2, lit("wiki")).otherwise(lit("books"))
      val df = t(s, dir, "documents").select(col("doc_id"), dom.as("domain"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sampling.tokenBudgetMix(df, "domain", "n_tokens", "doc_id",
          Map("web" -> 2500L, "code" -> 1500L, "wiki" -> 800L))
        .orderBy(col("doc_id"))
    }),

    // q147: VIDEO near-dup — re-encoded, trimmed, and partially-edited clips
    // caught with NO all-pairs comparison: real GIF demux → per-frame aHash
    // in the scan → distinct frame-hash sets per clip → frame-level Hamming
    // banding for candidates → exact directional-containment verify on the
    // sampled frames. Fixture plants a re-encode (%7==1), a trim (%7==2,
    // containment 1.0 from the trimmed side), and a one-frame edit (%7==3,
    // overlap 5/6); the oracle replays construction → threshold bits →
    // banding → min-hamming containment in integer arithmetic.
    "q147_video_neardup" -> ((s, dir) => {
      graft.operators.Multimodal.videoNearDupPairs(
          videoFixture(t(s, dir, "documents")), every = 1, maxHamming = 3,
          minOverlap = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    })
  )

  // ─── oracles ───────────────────────────────────────────────────────────────

  /** PQ geometry for q120/q121: 64 dims → m=8 subspaces × 8 dims, ksub=16
    * centroids (4-bit codes). Oracle twins below are generated from the SAME
    * constants. */
  private val PqM = 8
  private val PqKsub = 16
  private val PqDsub = 64 / PqM

  /** Unrolled Σ_d (a[d]-b[d])² over subspace `s` (0-based; SQL arrays are
    * 1-based), ascending-dimension left-assoc double chain — bit-identical to
    * PqEncode's accumulation order. */
  private def pqSubDistSql(a: String, b: String, s: Int): String =
    (1 to PqDsub).map { d =>
      val j = s * PqDsub + d
      s"(CAST($a.embedding[$j] AS DOUBLE)-CAST($b.embedding[$j] AS DOUBLE))" +
        s"*(CAST($a.embedding[$j] AS DOUBLE)-CAST($b.embedding[$j] AS DOUBLE))"
    }.mkString(" + ")

  private def pqSubDistCaseSql(a: String, b: String, subExpr: String): String =
    s"CASE $subExpr " +
      (0 until PqM).map(s => s"WHEN $s THEN (${pqSubDistSql(a, b, s)})").mkString(" ") +
      " END"

  /** q123 coarse-cell count (the 4 lowest-id vectors act as IVF centroids). */
  private val PqCoarseK = 4

  /** 64-element residual array `a.embedding − c.embedding` as ONE list
    * comprehension — each element one IEEE subtraction, exactly
    * PqResidualEncode's `x − ce` (and seedCodebooksResidual's codeword
    * precompute). Materializing residuals ONCE keeps every downstream
    * distance chain at 2 array refs + 1 op per term: the inline 4-array
    * 3-op formulation compiled ~10× larger expression trees, which
    * fragmented DuckDB 1.0.0's allocator into tens of thousands of memory
    * maps per query — two heavy queries from the 65530 vm.max_map_count
    * wall the driver's single-process 126-query sweep must stay under. */
  private def resListSql(a: String, c: String): String =
    s"[CAST($a.embedding[j] AS DOUBLE) - CAST($c.embedding[j] AS DOUBLE) " +
      "FOR j IN generate_series(1, 64)]"

  /** Unrolled Σ_d (a.res[j] − b.res[j])² over subspace `s` — ascending-dim
    * left-assoc, the `(x − ce) − cb[t]` chain with both residuals
    * pre-materialized ([[resListSql]]): identical IEEE ops in identical
    * order to PqResidualEncode / residualAdcLut / PqAdcLut. */
  private def pqResidSubDistSql(a: String, b: String, s: Int): String =
    (1 to PqDsub).map { d =>
      val j = s * PqDsub + d
      s"(($a.res[$j]-$b.res[$j])*($a.res[$j]-$b.res[$j]))"
    }.mkString(" + ")

  /** Cosine of a row alias against a centroid alias with NearestCentroid's
    * exact operation shape: dot / (sqrt(vv) · sqrt(cc)), all ascending-dim
    * chains. */
  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Shared q123/q124/q126 oracle prefix: fixed coarse centroids (the
    * PqCoarseK lowest-id vectors), per-row cosine cell assignment (ties to
    * the HIGHER index — the NearestCentroid rule), per-row materialized
    * residual arrays (`rez`, [[resListSql]]), the seed-codeword residuals
    * (`sres` — the PqKsub lowest-id rows' residuals under THEIR cells,
    * exactly seedCodebooksResidual), and the per-(vector, subspace) residual
    * argmin (`r`, ties to the LOWER codeword index). */
  private def pqResidualCtes: String = {
    val caseSql = s"CASE s.sub " +
      (0 until PqM).map(s => s"WHEN $s THEN (${pqResidSubDistSql("rz", "sr", s)})").mkString(" ") +
      " END"
    s"""WITH co AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ccid,
       |    embedding
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $PqCoarseK) zc),
       |asg AS MATERIALIZED (SELECT vec_id, ccid AS cell FROM (
       |    SELECT e.vec_id, c.ccid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e", "c")} DESC, c.ccid DESC) AS rn
       |    FROM embeddings e CROSS JOIN co c) a WHERE rn = 1),
       |rez AS MATERIALIZED (SELECT e.vec_id, ea.cell, ${resListSql("e", "ce")} AS res
       |  FROM embeddings e
       |  JOIN asg ea ON e.vec_id = ea.vec_id
       |  JOIN co ce ON ce.ccid = ea.cell),
       |sd0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
       |    vec_id
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqKsub) zs),
       |sres AS MATERIALIZED (SELECT sd.cid, rz.res FROM sd0 sd JOIN rez rz ON rz.vec_id = sd.vec_id),
       |d AS MATERIALIZED (SELECT rz.vec_id, rz.cell, s.sub, sr.cid, $caseSql AS dist
       |  FROM rez rz
       |  CROSS JOIN sres sr
       |  CROSS JOIN (SELECT unnest([${(0 until PqM).mkString(",")}]) AS sub) s),
       |r AS MATERIALIZED (SELECT vec_id, cell, sub, cid FROM (
       |    SELECT vec_id, cell, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM d) rr WHERE rn = 1)""".stripMargin
  }

  /** q130/q131 oracle: pure code-to-code SDC ranking (no cell model — the
    * q130 run probes every cell, the q131 TVF uses one synthetic cell):
    * q120's code assignment, then for every (query, candidate, sub) the
    * distance between the two ASSIGNED codebook centroids — the sdcTables
    * entry the Spark side looks up — summed subspaces-ascending, non-self
    * rank <= 5. */
  private def sdcKnnGraphOracle: String =
    s"""$pqAssignCtes,
       |qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 25 = 0),
       |qd AS MATERIALIZED (SELECT rq.vec_id AS query_id, rx.vec_id, rq.sub,
       |    ${pqSubDistCaseSql("c1", "c2", "rq.sub")} AS sdist
       |  FROM r rq
       |  JOIN qs q0 ON q0.query_id = rq.vec_id
       |  JOIN r rx ON rx.sub = rq.sub
       |  JOIN cb c1 ON c1.cid = rq.cid
       |  JOIN cb c2 ON c2.cid = rx.cid),
       |p AS MATERIALIZED (SELECT query_id, vec_id,
       |    ${(0 until PqM).map(s =>
             s"MAX(CASE WHEN sub = $s THEN sdist END) AS p$s").mkString(", ")}
       |  FROM qd GROUP BY query_id, vec_id),
       |sc AS MATERIALIZED (SELECT query_id, vec_id,
       |    ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS sdc_dist FROM p)
       |SELECT query_id, vec_id, sdc_dist FROM (
       |  SELECT query_id, vec_id, sdc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sdc_dist, vec_id) AS rn
       |  FROM sc WHERE vec_id <> query_id) t WHERE rn <= 5
       |ORDER BY query_id, sdc_dist, vec_id""".stripMargin

  /** q134/q135 oracle prefix: per-dim [min, max] bounds as two one-row
    * 64-lists — the sqTrain twin (min/max are exact, no summation). */
  private def sq8BoundsCtes: String =
    s"""WITH bnd AS MATERIALIZED (SELECT s.j AS j,
       |    min(CAST(e.embedding[s.j] AS DOUBLE)) AS mn,
       |    max(CAST(e.embedding[s.j] AS DOUBLE)) AS mx
       |  FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) s
       |  GROUP BY s.j),
       |bl AS MATERIALIZED (SELECT list(mn ORDER BY j) AS mnl, list(mx ORDER BY j) AS mxl FROM bnd)""".stripMargin

  /** Per-row SQ8 code list: clamp(round(((x − mn)/span)·255), 0, 255),
    * zero-span dims encode 0 — op-for-op ScalarQuantization.sqEncode
    * (round HALF_UP = DuckDB half-away on these non-negative arguments). */
  private def sq8CodeListSql: String =
    "[CASE WHEN bl.mxl[j] > bl.mnl[j] THEN CAST(least(greatest(round(" +
      "(CAST(e.embedding[j] AS DOUBLE) - bl.mnl[j]) / (bl.mxl[j] - bl.mnl[j]) * 255.0" +
      ", 0), 0.0), 255.0) AS INT) ELSE 0 END FOR j IN generate_series(1, 64)]"

  /** Shared q120/q121 oracle prefix: fixed codebook (the ksub lowest-id
    * vectors) and the per-(vector, subspace) argmin code, ties to lower cid.
    * `src` is the corpus CTE/table the codes are assigned over; `pre`
    * injects its definition right after WITH (q132 dedups a filtered
    * subset, whose seed codebook is the subset's own lowest ids). */
  private def pqAssignCtesOver(src: String, pre: String = ""): String =
    s"""WITH ${pre}cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
       |    embedding
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $PqKsub) z),
       |subs AS (SELECT unnest([${(0 until PqM).mkString(",")}]) AS sub),
       |d AS MATERIALIZED (SELECT e.vec_id, s.sub, c.cid,
       |    ${pqSubDistCaseSql("e", "c", "s.sub")} AS dist
       |  FROM $src e CROSS JOIN cb c CROSS JOIN subs s),
       |r AS MATERIALIZED (SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
       |    FROM d) rr WHERE rn = 1)""".stripMargin

  private def pqAssignCtes: String = pqAssignCtesOver("embeddings")

  private val qualitySql =
    """(CASE WHEN CAST(length(text) AS DOUBLE) >= 50.0 AND CAST(length(text) AS DOUBLE) <= 5000.0 THEN 1.0 ELSE 0.5 END) * 0.2
      | + (CASE WHEN CAST(length(text) AS DOUBLE) > 0 THEN 1.0 - least(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)/CAST(length(text) AS DOUBLE)*10.0, 1.0) ELSE 0.0 END) * 0.3
      | + (CASE WHEN CAST(length(text) AS DOUBLE) > 0 THEN CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)/CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 0.5""".stripMargin

  private val stopRe = "\\b(the|a|an|of|to|and|in|is|was|for|on|with|that)\\b"

  private val shinglesSql =
    s"""CASE WHEN len(t) >= 3
       | THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN generate_series(1, len(t)-2)]
       | ELSE [array_to_string(t, ' ')] END""".stripMargin

  private val SimHashBits = 64

  /** Packed 16-bit-lane vote sums, mirroring DedupSuite.simHashLaneSums: token
    * bit b = bit (31 - b%32) of big-endian 32-bit word (b/32) of md5(t) (words
    * parsed from hex chars 1-8 / 9-16); lane group g sums Σ_i bit_{4g+i}·2^(16i). */
  private def simhashLaneSql(g: Int): String = {
    val terms = (0 until 4).map { i =>
      val b = 4 * g + i
      s"(((w${b / 32} >> ${31 - b % 32}) & 1) << ${16 * i})"
    }
    s"SUM(${terms.mkString(" + ")}) AS lane$g"
  }

  /** '1'/'0' char of fingerprint bit b from the packed lanes: set ⇔ 2·count > n. */
  private def simhashBitSql(b: Int): String =
    s"(CASE WHEN 2 * ((lane${b / 4} >> ${16 * (b % 4)}) & 65535) > n THEN '1' ELSE '0' END)"

  /** 64-term differing-bit-char sum between two fp bit-string expressions. */
  private def hammingSqlOn(a: String, b: String): String =
    "CAST(" + (1 to SimHashBits).map(i =>
      s"(CASE WHEN substr($a,$i,1) = substr($b,$i,1) THEN 0 ELSE 1 END)")
      .mkString(" + ") + " AS BIGINT)"

  private val hammingSql: String = hammingSqlOn("a.fp", "b.fp")

  /** The q137 image-near-dup oracle, shared VERBATIM by q143 (the
    * graft_image_neardup TABLE function must reproduce the Scala chain
    * exactly). */
  /** `pairCondSql` picks the candidate-pair population (self-join canonical
    * order for q137/q143; probe×catalog for q164's vs-index form — the
    * persistence round-trip must be invisible in the arithmetic). */
  private def imageNearDupOracleSql(pairCondSql: String): String =
      s"""WITH dm AS (SELECT doc_id, CASE WHEN doc_id % 5 = 1 THEN doc_id - 1
         |    WHEN doc_id % 5 = 2 THEN doc_id - 2 ELSE doc_id END AS b
         |  FROM documents),
         |gr AS MATERIALIZED (SELECT doc_id, p,
         |    CASE WHEN doc_id % 5 = 1 AND p = 0 THEN
         |      CASE WHEN g0 < 128 THEN g0 + 48 ELSE g0 - 48 END
         |    ELSE g0 END AS g
         |  FROM (SELECT doc_id, p, (1000003*(b+1) + 55*(p+1) + b*p*p) % 256 AS g0
         |    FROM dm, LATERAL unnest(generate_series(0, 63)) AS gs(p)) t0),
         |sm AS (SELECT doc_id, sum(g) AS s FROM gr GROUP BY doc_id),
         |fp0 AS (SELECT g.doc_id,
         |    string_agg(CASE WHEN 64*g.g > s.s THEN '1' ELSE '0' END, '' ORDER BY g.p) AS fp
         |  FROM gr g JOIN sm s ON g.doc_id = s.doc_id GROUP BY g.doc_id),
         |blocks AS (SELECT doc_id, fp, unnest([0,1,2,3]) AS block_idx,
         |  unnest([substr(fp,1,16), substr(fp,17,16),
         |          substr(fp,33,16), substr(fp,49,16)]) AS block_key FROM fp0),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    $hammingSql AS hamming
         |  FROM blocks a JOIN blocks b ON a.block_idx = b.block_idx
         |    AND a.block_key = b.block_key AND ($pairCondSql)),
         |hp AS (SELECT * FROM cand WHERE hamming <= 3)
         |SELECT h.id_a, h.id_b, h.hamming, CAST(sum(abs(ga.g - gb.g)) AS BIGINT) AS l1
         |FROM hp h JOIN gr ga ON ga.doc_id = h.id_a
         |  JOIN gr gb ON gb.doc_id = h.id_b AND gb.p = ga.p
         |GROUP BY h.id_a, h.id_b, h.hamming
         |ORDER BY id_a, id_b""".stripMargin

  private lazy val q137OracleSql: String =
    imageNearDupOracleSql("a.doc_id < b.doc_id")

  /** q164: the q137 arithmetic restricted to PROBE images (doc_id%5 ∈ {1,2})
    * against the saved+appended CATALOG index (%5 ∈ {0,3,4}). */
  private lazy val q164OracleSql: String =
    imageNearDupOracleSql("a.doc_id % 5 IN (1, 2) AND b.doc_id % 5 IN (0, 3, 4)")

  /** The q152 n-gram repetition oracle, shared VERBATIM by q156 (the
    * graft_repetition TABLE function must reproduce the Scala chain
    * exactly). */
  /** n-gram repetition signal CTEs over `tr(doc_id, text)` ending in
    * `rsig(doc_id, top_gram_char_frac, dup_gram_char_frac)` — exact position
    * coverage, the oracle twin of [[graft.operators.RepetitionStats]]'s
    * gram-family signals. Shared by q152/q156 (over the planted fixture) and
    * q162 (over the quality-filtered real corpus — `tr` is just an alias). */
  private val repNgramSigCtes: String =
      s"""rtk AS MATERIALIZED (SELECT doc_id, $tokensSql AS t FROM tr),
         |rtp AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS p,
         |    length(t[CAST(i AS INT)]) AS lt
         |  FROM rtk, LATERAL unnest(generate_series(1, len(t))) AS g(i)),
         |rtot AS (SELECT doc_id, sum(lt) AS tot FROM rtp GROUP BY 1),
         |rg2 AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS i,
         |    array_to_string(t[CAST(i AS INT):CAST(i AS INT)+1], ' ') AS g
         |  FROM rtk, LATERAL unnest(generate_series(1, len(t) - 1)) AS s(i)),
         |rtop2 AS (SELECT doc_id, g FROM (SELECT doc_id, g,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g) AS rn
         |  FROM rg2 GROUP BY doc_id, g) z WHERE rn = 1),
         |rcv2 AS (SELECT doc_id, sum(lt) AS cov FROM (
         |  SELECT DISTINCT rtp.doc_id, rtp.p, rtp.lt
         |  FROM rtp JOIN (SELECT rg2.doc_id, rg2.i FROM rg2
         |      JOIN rtop2 ON rg2.doc_id = rtop2.doc_id AND rg2.g = rtop2.g) st
         |    ON st.doc_id = rtp.doc_id AND rtp.p BETWEEN st.i AND st.i + 1) z
         |  GROUP BY doc_id),
         |rg5 AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS i,
         |    array_to_string(t[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS g
         |  FROM rtk, LATERAL unnest(generate_series(1, len(t) - 4)) AS s(i)),
         |rd5 AS (SELECT doc_id, g FROM (SELECT doc_id, g, count(*) AS c
         |  FROM rg5 GROUP BY 1, 2) z WHERE c > 1),
         |rcv5 AS (SELECT doc_id, sum(lt) AS cov FROM (
         |  SELECT DISTINCT rtp.doc_id, rtp.p, rtp.lt
         |  FROM rtp JOIN (SELECT rg5.doc_id, rg5.i FROM rg5
         |      JOIN rd5 ON rg5.doc_id = rd5.doc_id AND rg5.g = rd5.g) st
         |    ON st.doc_id = rtp.doc_id AND rtp.p BETWEEN st.i AND st.i + 4) z
         |  GROUP BY doc_id),
         |rsig AS (SELECT rtot.doc_id,
         |  coalesce(CAST(rcv2.cov AS DOUBLE) / CAST(rtot.tot AS DOUBLE), 0.0)
         |    AS top_gram_char_frac,
         |  coalesce(CAST(rcv5.cov AS DOUBLE) / CAST(rtot.tot AS DOUBLE), 0.0)
         |    AS dup_gram_char_frac
         |  FROM rtot LEFT JOIN rcv2 ON rtot.doc_id = rcv2.doc_id
         |    LEFT JOIN rcv5 ON rtot.doc_id = rcv5.doc_id)""".stripMargin

  private lazy val q152OracleSql: String =
      s"""WITH $repCtes,
         |$repSegSigCtes,
         |$repNgramSigCtes
         |SELECT r.doc_id, r.top_gram_char_frac, r.dup_gram_char_frac,
         |  (l.dup_line_frac <= 0.30 AND l.dup_line_char_frac <= 0.20
         |   AND p.dup_para_frac <= 0.30 AND p.dup_para_char_frac <= 0.20
         |   AND r.top_gram_char_frac <= 0.20 AND r.dup_gram_char_frac <= 0.15) AS pass
         |FROM rsig r JOIN lsig l ON r.doc_id = l.doc_id
         |  JOIN psig p ON r.doc_id = p.doc_id
         |ORDER BY r.doc_id""".stripMargin

  /** q157's geometry (shared by the query and the unrolled oracle). */
  private val PerceptronDims = 16
  private val PerceptronIters = 3

  /** q158's geometry: the fastText-regime hash space the SPARSE path exists
    * for — the dense O(T·dims)-per-row representation could not run this. */
  private val SparsePerceptronDims = 1 << 16

  /** Shared oracle head: tokenized docs (`pt`, from `srcRel` which must
    * expose doc_id + text and any label columns) and the sparse hashed
    * feature relation `px` — one (doc, pos, count) row per distinct bucket,
    * the SAME sparse shape [[graft.operators.LinearTrainer
    * .sparseCountsFromSorted]] stages engine-side. */
  private def perceptronBaseCtes(dims: Int, srcRel: String,
                                 extraCols: String = ""): String =
    s"""pt AS (SELECT doc_id$extraCols, $tokensSql AS t FROM $srcRel),
       |px AS MATERIALIZED (SELECT doc_id,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % $dims AS pos,
       |    count(*) AS x
       |  FROM pt, LATERAL unnest(t) AS u(tok) GROUP BY 1, 2)""".stripMargin

  /** One unrolled batch-perceptron training chain, CTE names suffixed `sfx`
    * (so one-vs-all oracles unroll several chains over the shared pt/px):
    * labels from `ySql` (an expression over pt's columns), and per iteration
    * the margin / misclassified-update / weight-merge CTE triple. Iteration
    * 1 from w=0 has margin 0 ≤ 0 everywhere, so it updates on every doc on
    * both engines. Missing positions are zero on both sides — the dense
    * array's zeros contribute nothing to any sum. All integer arithmetic. */
  private def perceptronChainCtes(sfx: String, iters: Int, ySql: String): String = {
    val first =
      s"""pl$sfx AS (SELECT doc_id, $ySql AS y FROM pt),
         |w1$sfx AS (SELECT pos, sum(x * y) AS w
         |  FROM px JOIN pl$sfx USING (doc_id) GROUP BY pos)""".stripMargin
    val rest = (2 to iters).map { i =>
      s"""m$i$sfx AS (SELECT f.doc_id, sum(coalesce(w.w, 0) * f.x) * max(l.y) AS margin
         |  FROM px f JOIN pl$sfx l USING (doc_id)
         |  LEFT JOIN w${i - 1}$sfx w ON f.pos = w.pos GROUP BY f.doc_id),
         |u$i$sfx AS (SELECT f.pos, sum(f.x * l.y) AS g
         |  FROM px f JOIN pl$sfx l USING (doc_id)
         |  WHERE f.doc_id IN (SELECT doc_id FROM m$i$sfx WHERE margin <= 0)
         |  GROUP BY f.pos),
         |w$i$sfx AS (SELECT coalesce(a.pos, b.pos) AS pos,
         |    coalesce(a.w, 0) + coalesce(b.g, 0) AS w
         |  FROM w${i - 1}$sfx a FULL OUTER JOIN u$i$sfx b ON a.pos = b.pos)""".stripMargin
    }
    (first +: rest).mkString(",\n")
  }

  private val perceptronLenLabelSql = "CASE WHEN len(t) >= 55 THEN 1 ELSE -1 END"

  /** Unrolled DuckDB re-TRAINING of the q157 batch perceptron (dense output:
    * every position 0..dims−1 gets a row). */
  private def perceptronOracleSql(dims: Int, iters: Int): String =
    s"""WITH ${perceptronBaseCtes(dims, "documents")},
       |${perceptronChainCtes("", iters, perceptronLenLabelSql)}
       |SELECT CAST(d.pos AS BIGINT) AS pos, CAST(coalesce(w.w, 0) AS BIGINT) AS weight
       |FROM (SELECT unnest(generate_series(0, ${dims - 1})) AS pos) d
       |LEFT JOIN w$iters w ON d.pos = w.pos ORDER BY pos""".stripMargin

  /** q158: the SAME re-training at fastText-regime dims, emitting only the
    * ACTIVE (nonzero) weights — a dims-wide dense output would be absurd at
    * 2^16 and the sparse path's whole point is that nothing anywhere is
    * dims-sized except the final model vector. */
  private def sparsePerceptronOracleSql(dims: Int, iters: Int): String =
    s"""WITH ${perceptronBaseCtes(dims, "documents")},
       |${perceptronChainCtes("", iters, perceptronLenLabelSql)}
       |SELECT CAST(pos AS BIGINT) AS pos, CAST(w AS BIGINT) AS weight
       |FROM w$iters WHERE w <> 0 ORDER BY pos""".stripMargin

  /** q159: averaged-perceptron re-training — the summed per-iteration weight
    * vectors (Σ_{t=1..T} w_t, exact integers) beside the final iterate. */
  private def averagedPerceptronOracleSql(dims: Int, iters: Int): String = {
    val unionAll = (1 to iters)
      .map(i => s"SELECT pos, w FROM w$i").mkString(" UNION ALL ")
    s"""WITH ${perceptronBaseCtes(dims, "documents")},
       |${perceptronChainCtes("", iters, perceptronLenLabelSql)},
       |wavg AS (SELECT pos, sum(w) AS wa FROM ($unionAll) z GROUP BY pos)
       |SELECT CAST(d.pos AS BIGINT) AS pos,
       |  CAST(coalesce(w.w, 0) AS BIGINT) AS weight,
       |  CAST(coalesce(a.wa, 0) AS BIGINT) AS weight_avg
       |FROM (SELECT unnest(generate_series(0, ${dims - 1})) AS pos) d
       |LEFT JOIN w$iters w ON d.pos = w.pos
       |LEFT JOIN wavg a ON d.pos = a.pos ORDER BY pos""".stripMargin
  }

  /** q160's geometry (multi-class language-ID training). */
  private val MulticlassDims = 32
  private val MulticlassIters = 2
  private val MulticlassLangs = Seq("en", "de", "fr", "es")

  /** The q160/q167 shared corpus: the q88 language-suffix augmentation with
    * a per-doc class label, bucketed to the multiclass hash space. */
  private def multiclassStaged(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val lt = graft.operators.LinearTrainer
    val m = pmod(col("doc_id"), lit(4))
    t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(m === 1, repeat(lit(langSuffix("de")), 4))
            .when(m === 2, repeat(lit(langSuffix("fr")), 4))
            .when(m === 3, repeat(lit(langSuffix("es")), 4))
            .otherwise(lit(""))).as("text"),
        when(m === 0, lit("en")).when(m === 1, lit("de"))
          .when(m === 2, lit("fr")).otherwise(lit("es")).as("cls"))
      .withColumn("_t", TextFunctions.tokens(col("text")))
      .withColumn("_sb", lt.sortedTokenBuckets(col("_t"), MulticlassDims))
      .select(col("doc_id"),
        lt.sparseCountsFromSorted(col("_sb")).as("sfeat"), col("cls"))
  }

  /** q160: one-vs-all multi-class re-training on the q88 language-suffix
    * corpus — one unrolled chain per class over the SHARED pt/px, labels
    * +1 for the class and −1 otherwise, active weights per class. */
  private def multiclassOracleWithPrefix(dims: Int, iters: Int): String = {
    val clsSql = MulticlassLangs.zipWithIndex
      .map { case (l, i) => s"WHEN doc_id % 4 = $i THEN '$l'" }
      .mkString("CASE ", " ", " END")
    val aug =
      s"""src AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 4 = 1 THEN repeat('${langSuffix("de")}', 4)
         |       WHEN doc_id % 4 = 2 THEN repeat('${langSuffix("fr")}', 4)
         |       WHEN doc_id % 4 = 3 THEN repeat('${langSuffix("es")}', 4)
         |       ELSE '' END AS text,
         |  $clsSql AS cls FROM documents)""".stripMargin
    val chains = MulticlassLangs.map(l =>
      perceptronChainCtes(s"_$l", iters, s"CASE WHEN cls = '$l' THEN 1 ELSE -1 END"))
      .mkString(",\n")
    s"""WITH $aug,
       |${perceptronBaseCtes(dims, "src", extraCols = ", cls")},
       |$chains""".stripMargin
  }

  private def multiclassPerceptronOracleSql(dims: Int, iters: Int): String = {
    val finals = MulticlassLangs.map(l =>
      s"SELECT '$l' AS cls, CAST(pos AS BIGINT) AS pos, CAST(w AS BIGINT) AS weight " +
        s"FROM w$iters" + s"_$l WHERE w <> 0").mkString(" UNION ALL ")
    s"""${multiclassOracleWithPrefix(dims, iters)}
       |SELECT * FROM ($finals) z ORDER BY cls, pos""".stripMargin
  }

  /** q167: per class, Σ of the weight vector after each iteration over the
    * same four unrolled chains (q159's wavg applied per class). */
  private def multiclassAveragedOracleSql(dims: Int, iters: Int): String = {
    val finals = MulticlassLangs.map { l =>
      val unionAll = (1 to iters)
        .map(i => s"SELECT pos, w FROM w$i" + s"_$l").mkString(" UNION ALL ")
      s"SELECT '$l' AS cls, CAST(pos AS BIGINT) AS pos, " +
        s"CAST(sum(w) AS BIGINT) AS weight FROM ($unionAll) u$l " +
        s"GROUP BY pos HAVING sum(w) <> 0"
    }.mkString(" UNION ALL ")
    s"""${multiclassOracleWithPrefix(dims, iters)}
       |SELECT * FROM ($finals) z ORDER BY cls, pos""".stripMargin
  }

  /** The q153 audio-near-dup oracle, shared VERBATIM by q154 (the
    * graft_audio_neardup TABLE function must reproduce the Scala chain
    * exactly): [[audioSample]]'s closed form → exact per-frame Σ|s| →
    * cross-multiplied threshold bits → 16-bit-block banding → integer L1.
    * `pairCondSql` picks the candidate-pair population over banded sides a/b:
    * the self-join canonical order for q153, the probe-side × catalog-side
    * cross condition for q161 (near-dup against the persisted index — the
    * persistence round-trip must be INVISIBLE in the arithmetic). */
  private def audioNearDupOracleSql(pairCondSql: String): String =
      s"""WITH adm AS (SELECT doc_id, CASE WHEN doc_id % 5 = 1 THEN doc_id - 1
         |    WHEN doc_id % 5 = 2 THEN doc_id - 2 ELSE doc_id END AS b
         |  FROM documents),
         |asm AS (SELECT doc_id, t,
         |    s0 + (CASE WHEN doc_id % 5 = 1 AND t < 32 THEN 192 ELSE 0 END) AS s
         |  FROM (SELECT doc_id, t,
         |      ((1000003*(b+1) + 55*(t+1) + b*t*t) % 4096) - 2048 AS s0
         |    FROM adm, LATERAL unnest(generate_series(0, 2047)) AS g(t)) z),
         |aen AS MATERIALIZED (SELECT doc_id, (t*64)//2048 AS f, sum(abs(s)) AS e
         |  FROM asm GROUP BY 1, 2),
         |atot AS (SELECT doc_id, sum(e) AS tot FROM aen GROUP BY 1),
         |afp AS (SELECT a.doc_id,
         |    string_agg(CASE WHEN 64*a.e > t.tot THEN '1' ELSE '0' END, '' ORDER BY a.f) AS fp
         |  FROM aen a JOIN atot t ON a.doc_id = t.doc_id GROUP BY a.doc_id),
         |ablk AS (SELECT doc_id, fp, unnest([0,1,2,3]) AS block_idx,
         |  unnest([substr(fp,1,16), substr(fp,17,16),
         |          substr(fp,33,16), substr(fp,49,16)]) AS block_key FROM afp),
         |acand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    $hammingSql AS hamming
         |  FROM ablk a JOIN ablk b ON a.block_idx = b.block_idx
         |    AND a.block_key = b.block_key AND ($pairCondSql)),
         |ahp AS (SELECT * FROM acand WHERE hamming <= 3)
         |SELECT h.id_a, h.id_b, h.hamming, CAST(sum(abs(ea.e - eb.e)) AS BIGINT) AS l1
         |FROM ahp h JOIN aen ea ON ea.doc_id = h.id_a
         |  JOIN aen eb ON eb.doc_id = h.id_b AND eb.f = ea.f
         |GROUP BY h.id_a, h.id_b, h.hamming
         |ORDER BY id_a, id_b""".stripMargin

  private lazy val q153OracleSql: String =
    audioNearDupOracleSql("a.doc_id < b.doc_id")

  /** q161: the q153 arithmetic with candidates restricted to PROBE clips
    * (doc_id%5 ∈ {1,2} — the planted near-dup/re-encode population) against
    * CATALOG clips (doc_id%5 ∈ {0,3,4} — the saved+appended index). */
  private lazy val q161OracleSql: String =
    audioNearDupOracleSql("a.doc_id % 5 IN (1, 2) AND b.doc_id % 5 IN (0, 3, 4)")

  /** The q94 BM25 oracle, shared VERBATIM by q150 (the persisted-text-index
    * surface must rank bit-identically to the from-corpus pass — the parquet
    * round-trip must be invisible in the result or the hash breaks). */
  private lazy val q94OracleSql: String =
      s"""WITH t0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |st AS (SELECT count(*) AS n, sum(len(t)) AS sdl,
         |  ${Bm25Terms.zipWithIndex.map { case (t, i) =>
               s"sum(CASE WHEN list_contains(t, '$t') THEN 1 ELSE 0 END) AS df_$i"
             }.mkString(", ")}
         |  FROM t0)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         | (${Bm25Terms.zipWithIndex.map { case (t, i) => bm25TermSql(t, i) }
              .mkString(" + ")}) AS score
         |FROM t0, st ORDER BY score DESC, doc_id LIMIT 50""".stripMargin

  /** The q147 video-near-dup oracle: the [[vidGray]] closed form replayed
    * through per-frame threshold bits (string fps, the q137 convention),
    * frame-level 16-char banding to DISTINCT candidate clip pairs, and the
    * exact min-hamming directional-containment verify — m/n are integer
    * counts, overlap is one IEEE division per side + greatest. */
  /** `pairCondSql` picks the candidate clip-pair population (self-join
    * canonical order for q147/q148; probe×catalog for q163's vs-index
    * form). The candidate stage here bands WITHOUT a frame-hamming filter
    * while the engine's vs-index path filters candidates at frame level —
    * equal results: a surviving pair needs >= 1 frame within maxHamming
    * (overlap > 0 requires m >= 1), which pigeonhole banding + the hamming
    * filter both find, and a band-collision pair with NO such frame scores
    * overlap 0 on the verify either way. */
  private def videoNearDupOracleSql(pairCondSql: String): String =
      s"""WITH vm AS (SELECT doc_id, doc_id % 7 AS kind,
         |    CASE WHEN doc_id % 7 = 1 THEN doc_id - 1
         |         WHEN doc_id % 7 = 2 THEN doc_id - 2
         |         WHEN doc_id % 7 = 3 THEN doc_id - 3
         |         ELSE doc_id END AS b
         |  FROM documents),
         |vfr AS (SELECT doc_id, f,
         |    CASE WHEN kind = 3 AND f = 3 THEN doc_id ELSE b END AS sb,
         |    CASE WHEN kind = 3 AND f = 3 THEN 97 ELSE f END AS sf
         |  FROM vm, LATERAL unnest(generate_series(0, 5)) AS gf(f)
         |  WHERE kind <> 2 OR f BETWEEN 1 AND 4),
         |gr AS MATERIALIZED (SELECT doc_id, f, p,
         |    (1000003*(sb+1) + 7919*(sf+1) + 55*(p+1) + sb*p*p + sf*p) % 256 AS g
         |  FROM vfr, LATERAL unnest(generate_series(0, 63)) AS gp(p)),
         |sm AS (SELECT doc_id, f, sum(g) AS s FROM gr GROUP BY 1, 2),
         |fps AS (SELECT g.doc_id, g.f,
         |    string_agg(CASE WHEN 64*g.g > s.s THEN '1' ELSE '0' END, '' ORDER BY g.p) AS fp
         |  FROM gr g JOIN sm s ON s.doc_id = g.doc_id AND s.f = g.f
         |  GROUP BY g.doc_id, g.f),
         |vf AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM fps),
         |blocks AS (SELECT doc_id, unnest([0,1,2,3]) AS block_idx,
         |  unnest([substr(fp,1,16), substr(fp,17,16),
         |          substr(fp,33,16), substr(fp,49,16)]) AS block_key FROM vf),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM blocks a JOIN blocks b ON a.block_idx = b.block_idx
         |    AND a.block_key = b.block_key AND ($pairCondSql)),
         |pf AS MATERIALIZED (SELECT c.id_a, c.id_b, fa.fp AS fpa, fb.fp AS fpb,
         |    ${hammingSqlOn("fa.fp", "fb.fp")} AS h
         |  FROM cand c JOIN vf fa ON fa.doc_id = c.id_a
         |    JOIN vf fb ON fb.doc_id = c.id_b),
         |am AS (SELECT id_a, id_b, fpa, min(h) AS mh FROM pf GROUP BY 1, 2, 3),
         |aagg AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN mh <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m_a
         |  FROM am GROUP BY 1, 2),
         |bm AS (SELECT id_a, id_b, fpb, min(h) AS mh FROM pf GROUP BY 1, 2, 3),
         |bagg AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN mh <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS m_b
         |  FROM bm GROUP BY 1, 2),
         |res AS (SELECT a.id_a, a.id_b, a.m_a, a.n_a, b.m_b, b.n_b,
         |    greatest(CAST(a.m_a AS DOUBLE)/CAST(a.n_a AS DOUBLE),
         |             CAST(b.m_b AS DOUBLE)/CAST(b.n_b AS DOUBLE)) AS overlap
         |  FROM aagg a JOIN bagg b ON a.id_a = b.id_a AND a.id_b = b.id_b)
         |SELECT id_a, id_b, m_a, n_a, m_b, n_b, overlap FROM res
         |WHERE overlap >= 0.5
         |ORDER BY id_a, id_b""".stripMargin

  private lazy val q147OracleSql: String =
    videoNearDupOracleSql("a.doc_id < b.doc_id")

  /** q163: the q147 arithmetic restricted to PROBE clips (doc_id%7 ∈
    * {1,2,3}: re-encode/trim/edit) against the saved+appended CATALOG index
    * (%7 ∈ {0,4,5,6} — every planted pair's base). */
  private lazy val q163OracleSql: String =
    videoNearDupOracleSql(
      "a.doc_id % 7 IN (1, 2, 3) AND b.doc_id % 7 NOT IN (1, 2, 3)")

  /** The q142 bigram-OOV oracle, shared VERBATIM by q144 (the
    * graft_bigram_oov TABLE function must reproduce the Scala chain
    * exactly). */
  private lazy val q142OracleSql: String =
      s"""WITH t0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |bg AS MATERIALIZED (SELECT doc_id, t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT) + 1] AS w2
         |  FROM t0, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
         |  WHERE len(t) >= 2),
         |cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
         |per AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CASE WHEN c.c < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM bg b LEFT JOIN cnt c ON b.w1 = c.w1 AND b.w2 = c.w2
         |  GROUP BY b.doc_id)
         |SELECT d.doc_id, CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
         |  CASE WHEN coalesce(p.n_bigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.n_oov AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
         |  END AS oov_rate
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin

  /** The q136 BPE-encode oracle, shared VERBATIM by q140 (the
    * graft_bpe_encode TABLE function must reproduce the Scala chain
    * exactly): training replayed to t{rounds}, alphabet+merges vocabulary,
    * per-document pre-token sequences joined back to the final-round
    * symbols, vocab pricing. */
  /** CTE chain (no WITH) ending in `sq(doc_id, pos, s)` — the %5-sampled
    * per-document symbol sequences after the training replay — and
    * `voc(sym, id)` — the alphabet+merges vocabulary. Shared by the q136/
    * q140 encode oracles and the q141 packing oracle. */
  private def bpeEncodeCtes(r: Int): String = {
    val mergesUnion = (1 to r).map { i =>
      s"SELECT $i AS midx, lft || rgt AS merged FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""${bpeTrainCtes(r)},
       |alpha AS (SELECT DISTINCT substr(p, CAST(ai AS INT), 1) AS sym
       |  FROM f, LATERAL unnest(generate_series(1, length(p))) AS ga(ai)),
       |aid AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS id
       |  FROM alpha),
       |mu AS ($mergesUnion),
       |mid AS (SELECT merged AS sym,
       |  CAST((SELECT count(*) FROM alpha) + midx - 1 AS INT) AS id FROM mu),
       |voc AS (SELECT sym, CAST(min(id) AS INT) AS id
       |  FROM (SELECT * FROM aid UNION ALL SELECT * FROM mid) u GROUP BY sym),
       |wsym AS MATERIALIZED (SELECT word, i, s FROM t$r
       |  UNION ALL SELECT p AS word, 1 AS i, p AS s FROM f WHERE length(p) = 1),
       |dtl AS (SELECT doc_id, regexp_extract_all(text,
       |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+') AS tl
       |  FROM documents WHERE doc_id % 5 = 0),
       |dpt AS MATERIALIZED (SELECT doc_id, CAST(pi AS INT) AS pti,
       |    tl[CAST(pi AS INT)] AS word
       |  FROM dtl, LATERAL unnest(generate_series(1, len(tl))) AS gp(pi)),
       |sq AS (SELECT d.doc_id,
       |    CAST(row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY d.pti, w.i) AS BIGINT) AS pos, w.s
       |  FROM dpt d JOIN wsym w ON d.word = w.word)""".stripMargin
  }

  private lazy val q136OracleSql: String =
    s"""WITH ${bpeEncodeCtes(BpeTrainRounds)}
       |SELECT q.doc_id, q.pos, q.s AS token_sym, v.id AS token_id
       |FROM sq q JOIN voc v ON q.s = v.sym
       |ORDER BY doc_id, pos""".stripMargin

  /** q141's packing-replay oracle: the shared encode CTEs feed per-doc token
    * counts into the q72 recursive greedy-packing CTE, then packs explode to
    * positions with a −1 separator row before every non-first document. */
  private lazy val q141OracleSql: String =
    s"""WITH RECURSIVE ${bpeEncodeCtes(BpeTrainRounds)},
       |tok AS MATERIALIZED (SELECT q.doc_id, q.pos, v.id AS token_id
       |  FROM sq q JOIN voc v ON q.s = v.sym),
       |dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
       |  FROM tok GROUP BY doc_id),
       |rr AS MATERIALIZED (SELECT *,
       |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM dn),
       |st(shard, rn, doc_id, acc, pack) AS (
       |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) FROM rr WHERE rn = 1
       |  UNION ALL
       |  SELECT rr.shard, rr.rn, rr.doc_id,
       |    CASE WHEN st.acc + rr.n > 300 THEN rr.n ELSE st.acc + rr.n END,
       |    CASE WHEN st.acc + rr.n > 300 THEN st.pack + 1 ELSE st.pack END
       |  FROM st JOIN rr ON rr.shard = st.shard AND rr.rn = st.rn + 1),
       |pk AS MATERIALIZED (SELECT shard, pack, doc_id,
       |    row_number() OVER (PARTITION BY shard, pack ORDER BY doc_id) AS dpos
       |  FROM st),
       |nd AS (SELECT shard, pack, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM pk GROUP BY 1, 2),
       |allrows AS (
       |  SELECT p.shard, p.pack, p.doc_id, t.pos AS k, t.token_id
       |  FROM pk p JOIN tok t ON t.doc_id = p.doc_id
       |  UNION ALL
       |  SELECT shard, pack, doc_id, CAST(0 AS BIGINT) AS k,
       |    CAST(-1 AS INT) AS token_id
       |  FROM pk WHERE dpos > 1),
       |fin AS (SELECT shard, pack,
       |    CAST(row_number() OVER (PARTITION BY shard, pack
       |      ORDER BY doc_id, k) AS BIGINT) AS pos,
       |    token_id FROM allrows)
       |SELECT f.shard, f.pack, n.n_docs, f.pos, f.token_id
       |FROM fin f JOIN nd n ON n.shard = f.shard AND n.pack = f.pack
       |ORDER BY f.shard, f.pack, f.pos""".stripMargin

  /** The q126 batch-IVFADC oracle, shared VERBATIM by q139 (the persisted-
    * index TVF surface must reproduce the in-memory join exactly).
    * Per-(query, probed-cell) residual arrays materialized once (qrez ≈
    * n_queries·nprobe rows), then every distance chain reads two precomputed
    * arrays — the same decomposition that keeps the whole residual-oracle
    * family's expression trees (and DuckDB's memory-map footprint) an order
    * of magnitude down; see resListSql. */
  private lazy val q126OracleSql: String = {
    val qCaseSql = s"CASE r.sub " +
      (0 until PqM).map(s => s"WHEN $s THEN (${pqResidSubDistSql("qr", "sr", s)})").mkString(" ") +
      " END"
    s"""$pqResidualCtes,
       |qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
       |pr AS MATERIALIZED (SELECT query_id, ccid AS cell FROM (
       |    SELECT q.query_id, c.ccid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q", "c")} DESC, c.ccid DESC) AS rn
       |    FROM qs q CROSS JOIN co c) p WHERE rn <= 2),
       |qrez AS MATERIALIZED (SELECT p.query_id, p.cell, ${resListSql("q", "ce")} AS res
       |  FROM pr p
       |  JOIN qs q ON q.query_id = p.query_id
       |  JOIN co ce ON ce.ccid = p.cell),
       |qd AS MATERIALIZED (SELECT qr.query_id, r.vec_id, r.sub, $qCaseSql AS qdist
       |  FROM r
       |  JOIN qrez qr ON qr.cell = r.cell
       |  JOIN sres sr ON sr.cid = r.cid),
       |p2 AS MATERIALIZED (SELECT query_id, vec_id,
       |    ${(0 until PqM).map(s =>
             s"MAX(CASE WHEN sub = $s THEN qdist END) AS p$s").mkString(", ")}
       |  FROM qd GROUP BY query_id, vec_id),
       |sc AS MATERIALIZED (SELECT query_id, vec_id,
       |    ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS adc_dist FROM p2)
       |SELECT query_id, vec_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, vec_id) AS rn
       |  FROM sc) t WHERE rn <= 5
       |ORDER BY query_id, adc_dist, vec_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q40_text_tokens" ->
      s"SELECT doc_id, CAST(array_length($tokensSql) AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id",
    "q41_text_quality" ->
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2,
         | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
         | $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q42_text_langid" ->
      s"""WITH p AS MATERIALIZED (SELECT doc_id, lang,
         | CASE WHEN CAST(array_length($tokensSql) AS DOUBLE) > 0
         |   AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |       / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05
         | THEN 'en' ELSE 'unknown' END AS pred_lang FROM documents)
         |SELECT doc_id, lang, pred_lang,
         | CASE WHEN pred_lang = lang THEN 'Agree' ELSE 'Conflict' END AS agreement
         |FROM p ORDER BY doc_id""".stripMargin,
    "q43_text_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id",
    "q71_hash_split" ->
      """WITH a AS (SELECT doc_id,
        |  ('0x' || substr(md5(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))), 1, 8))::BIGINT % 100 AS b
        |  FROM documents)
        |SELECT doc_id,
        | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM a ORDER BY doc_id""".stripMargin,
    "q72_sequence_packing" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id,
        |  CAST(array_length($tokensSql) AS BIGINT) AS n,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard
        |  FROM documents),
        |r AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM d),
        |st(shard, rn, doc_id, acc, pack) AS (
        |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT) FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.shard, r.rn, r.doc_id,
        |    CASE WHEN st.acc + r.n > 300 THEN r.n ELSE st.acc + r.n END,
        |    CASE WHEN st.acc + r.n > 300 THEN st.pack + 1 ELSE st.pack END
        |  FROM st JOIN r ON r.shard = st.shard AND r.rn = st.rn + 1)
        |SELECT doc_id, shard, pack FROM st ORDER BY doc_id""".stripMargin,
    "q67_profile_orders" ->
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS col_name, COUNT(o_custkey) AS n_non_null,
        |    COUNT(DISTINCT o_custkey) AS n_distinct,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
        |    CAST(MAX(o_custkey) AS VARCHAR) AS max_str FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', COUNT(o_orderkey), COUNT(DISTINCT o_orderkey),
        |    CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
        |) ORDER BY col_name""".stripMargin,
    "q64_text_bpe_tokens" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text,
         |   '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS BIGINT) AS n_bpe,
         | CAST(array_length($tokensSql) AS BIGINT) AS n_ws
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q65_sim_ivf_fullprobe" ->
      s"""SELECT e.vec_id,
         | (${dotSql("e", "q")}) / (sqrt(${dotSql("e", "e")}) * sqrt(${dotSql("q", "q")})) AS cosine
         |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY cosine DESC, e.vec_id LIMIT 20""".stripMargin,
    "q86_curated_decontaminated" ->
      s"""WITH RECURSIVE filt AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ($qualitySql) >= 0.5
         |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
         |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
         |${minhashPairsCtes("filt")},
         |$componentsCtes,
         |cur AS (SELECT f.doc_id, f.text FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
         |        WHERE comp.id IS NULL OR comp.component = f.doc_id),
         |evsh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
         |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM evsh),
         |csh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM cur)),
         |hit AS (SELECT DISTINCT c.doc_id
         |        FROM (SELECT doc_id, unnest(sh) AS gram FROM csh) c JOIN ev USING (gram))
         |SELECT doc_id FROM cur
         |WHERE doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id""".stripMargin,
    "q84_dedup_containment" ->
      s"""WITH corpus AS (SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    text || ' standard footer boilerplate appended here', source
         |  FROM documents WHERE doc_id % 83 = 0),
         |sh0 AS (SELECT doc_id, source, $shinglesSql AS sh
         |  FROM (SELECT doc_id, source, $tokensSql AS t FROM corpus)),
         |w AS (SELECT doc_id, source, unnest(list_distinct(sh)) AS gram FROM sh0),
         |sz AS (SELECT doc_id, count(*) AS s FROM w GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM w a JOIN w b ON a.source = b.source AND a.gram = b.gram
         |        AND a.doc_id < b.doc_id
         |      GROUP BY 1,2)
         |SELECT id_a, id_b, inter, sa.s AS size_a, sb.s AS size_b,
         | CAST(inter AS DOUBLE)/CAST(least(sa.s, sb.s) AS DOUBLE) AS containment
         |FROM i JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/CAST(least(sa.s, sb.s) AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "q85_sqrt_cap_sample" ->
      """WITH r AS MATERIALIZED (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS gn
        |  FROM documents)
        |SELECT doc_id, source FROM r
        |WHERE rn <= ceil(sqrt(CAST(gn AS DOUBLE))) ORDER BY doc_id""".stripMargin,
    "q79_decontamination" ->
      s"""WITH sh0 AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents)),
         |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM sh0 WHERE doc_id % 101 = 0),
         |cg AS (SELECT doc_id, unnest(list_distinct(sh)) AS gram FROM sh0
         |       WHERE doc_id % 101 <> 0)
         |SELECT doc_id, count(*) AS n_hits
         |FROM cg JOIN ev USING (gram) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q80_pii_redact" ->
      s"""WITH aug0 AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' alt o' || CAST(doc_id AS VARCHAR) || '@x.org' ELSE '' END ||
         |  ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |  ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)
         |  AS aug FROM documents),
         |r1 AS (SELECT doc_id, aug,
         |  regexp_replace(aug, '${TextFunctions.EmailPattern}', '<EMAIL>', 'g') AS ne FROM aug0),
         |r2 AS (SELECT doc_id, aug, ne,
         |  regexp_replace(ne, '${TextFunctions.PhonePattern}', '<PHONE>', 'g') AS np FROM r1)
         |SELECT doc_id,
         | len(regexp_extract_all(aug, '${TextFunctions.EmailPattern}')) AS n_emails,
         | len(regexp_extract_all(ne, '${TextFunctions.PhonePattern}')) AS n_phones,
         | len(regexp_extract_all(np, '${TextFunctions.Ipv4Pattern}')) AS n_ips,
         | regexp_replace(np, '${TextFunctions.Ipv4Pattern}', '<IP>', 'g') AS redacted
         |FROM r2 ORDER BY doc_id""".stripMargin,
    "q81_domain_blocklist" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN 'cdn.' ELSE '' END ||
        |  source || CAST(doc_id % 7 AS VARCHAR) || '-site' ||
        |  CASE WHEN doc_id % 3 = 0 THEN '.com' WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
        |  '/doc/' || CAST(doc_id AS VARCHAR) AS url FROM documents),
        |h AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
        |    '^www\.', ''), ':[0-9]+$', '') AS host FROM u),
        |hd AS (SELECT doc_id, host, regexp_extract(host, '[^.]+\.[^.]+$') AS domain FROM h),
        |blocked AS (SELECT host FROM hd GROUP BY host
        |            ORDER BY count(*) DESC, host LIMIT 2)
        |SELECT doc_id, host, domain FROM hd
        |WHERE host NOT IN (SELECT host FROM blocked) ORDER BY doc_id""".stripMargin,
    "q82_chunk_overlap" ->
      s"""WITH d AS MATERIALIZED (SELECT doc_id, $tokensSql AS t FROM documents),
         |n0 AS (SELECT doc_id, t, len(t) AS n FROM d),
         |c AS (SELECT doc_id, t, n,
         |  CASE WHEN n <= 32 THEN 1 ELSE ((n - 32 + 23) // 24) + 1 END AS nchunks FROM n0),
         |x AS (SELECT doc_id, t, n, unnest(generate_series(0, nchunks - 1)) AS ci FROM c)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         | CAST(least(32, n - ci * 24) AS BIGINT) AS n_chunk_tokens,
         | array_to_string(t[(ci * 24 + 1):(ci * 24 + 32)], ' ') AS chunk
         |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q83_unigram_freq" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |v AS (SELECT term, count(*) AS freq FROM tk GROUP BY 1)
         |SELECT doc_id, count(*) AS n_tokens, CAST(sum(freq) AS BIGINT) AS sum_freq,
         | CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_freq
         |FROM tk JOIN v USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q73_text_repetition" ->
      s"""WITH t0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |b AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |  THEN [t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS gram FROM t0),
         |cnt AS (SELECT doc_id, gram, count(*) AS c FROM b GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_big FROM cnt GROUP BY 1)
         |SELECT t0.doc_id,
         | CAST(len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE) AS distinct_word_frac,
         | CAST(top_c AS DOUBLE)/CAST(n_big AS DOUBLE) AS top_bigram_frac
         |FROM t0 JOIN top ON t0.doc_id = top.doc_id ORDER BY t0.doc_id""".stripMargin,
    "q74_length_trim" ->
      """WITH c AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
        |w AS (SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |n AS (SELECT count(*) AS n FROM documents),
        |b AS (SELECT min(CASE WHEN cum >= ceil(0.05 * n) THEN n_chars END) AS lo_v,
        |             min(CASE WHEN cum >= ceil(0.95 * n) THEN n_chars END) AS hi_v
        |      FROM w, n)
        |SELECT doc_id, n_chars FROM documents, b
        |WHERE n_chars >= lo_v AND n_chars <= hi_v ORDER BY doc_id""".stripMargin,
    "q75_stratified_sample" ->
      """WITH r AS MATERIALIZED (SELECT doc_id, source, row_number() OVER (
        |  PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "q44_dedup_exact" ->
      "SELECT md5(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_dups FROM documents GROUP BY 1 ORDER BY digest",
    "q45_dedup_jaccard" ->
      s"""WITH w AS (SELECT doc_id, source, unnest(list_distinct($tokensSql)) AS gram FROM documents),
         |sz AS (SELECT doc_id, count(*) AS s FROM w GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM w a JOIN w b ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
         |      GROUP BY 1,2)
         |SELECT id_a, id_b, inter, sa.s AS size_a, sb.s AS size_b,
         | CAST(inter AS DOUBLE)/CAST(sa.s + sb.s - inter AS DOUBLE) AS jaccard
         |FROM i JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/CAST(sa.s + sb.s - inter AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    // q118 = the same pair computation as q45 (the TVF routes through the
    // same Scala builder with identical parameters)
    "q118_sql_table_fn" ->
      s"""WITH w AS (SELECT doc_id, source, unnest(list_distinct($tokensSql)) AS gram FROM documents),
         |sz AS (SELECT doc_id, count(*) AS s FROM w GROUP BY 1),
         |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |      FROM w a JOIN w b ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
         |      GROUP BY 1,2)
         |SELECT id_a, id_b, inter, sa.s AS size_a, sb.s AS size_b,
         | CAST(inter AS DOUBLE)/CAST(sa.s + sb.s - inter AS DOUBLE) AS jaccard
         |FROM i JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE)/CAST(sa.s + sb.s - inter AS DOUBLE) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "q46_dedup_minhash" ->
      s"""WITH ${minhashPairsCtes("documents")}
         |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "q68_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |$componentsCtes
         |SELECT id, component FROM comp ORDER BY id""".stripMargin,
    "q69_curation" ->
      s"""WITH RECURSIVE filt AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ($qualitySql) >= 0.5
         |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
         |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
         |${minhashPairsCtes("filt")},
         |$componentsCtes
         |SELECT f.doc_id FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = f.doc_id
         |ORDER BY doc_id""".stripMargin,
    "q78_stratified_fraction" ->
      """WITH r AS MATERIALIZED (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS gn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= ceil(0.3 * gn) ORDER BY doc_id""".stripMargin,
    "q77_tfidf_topterms" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         |sc AS MATERIALIZED (SELECT doc_id, term, tf,
         |  CAST(tf AS DOUBLE) * ((CAST(n AS DOUBLE) + 1.0) / (CAST(dfc AS DOUBLE) + 1.0)) AS score
         |  FROM tf JOIN dfq USING (term), n),
         |r AS MATERIALIZED (SELECT *, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
         |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf, score
         |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q76_incremental_dedup" ->
      s"""WITH RECURSIVE ${minhashBandsCtes("documents")},
         |bx AS (SELECT b.doc_id, b.band_idx, b.band_key, length(d.source) = 4 AS is_ex
         |       FROM bands b JOIN documents d ON b.doc_id = d.doc_id),
         |dropped AS (SELECT DISTINCT i.doc_id FROM bx i JOIN bx e2
         |            ON i.band_idx = e2.band_idx AND i.band_key = e2.band_key
         |            AND NOT i.is_ex AND e2.is_ex),
         |fresh AS (SELECT doc_id, source FROM documents
         |          WHERE length(source) = 5 AND doc_id NOT IN (SELECT doc_id FROM dropped)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM bx a JOIN bx b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |            AND a.doc_id < b.doc_id
         |          WHERE a.doc_id IN (SELECT doc_id FROM fresh)
         |            AND b.doc_id IN (SELECT doc_id FROM fresh)),
         |$componentsCtes
         |SELECT f.doc_id, f.source FROM fresh f LEFT JOIN comp ON f.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = f.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    "q47_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, md5(unnest($tokensSql)) AS d FROM documents),
         |wrd AS (SELECT doc_id, ${(0 until SimHashBits / 32).map(j =>
             s"('0x' || substr(d, ${8 * j + 1}, 8))::BIGINT AS w$j").mkString(", ")} FROM tok),
         |votes AS (SELECT doc_id, ${(0 until SimHashBits / 4).map(simhashLaneSql).mkString(", ")},
         |  count(*) AS n FROM wrd GROUP BY doc_id),
         |fp0 AS (SELECT doc_id,
         |  ${(0 until SimHashBits).map(simhashBitSql).mkString(" || ")} AS fp
         |  FROM votes),
         |blocks AS (SELECT doc_id, fp,
         |  unnest([0,1,2,3]) AS block_idx,
         |  unnest([${(0 until 4).map(b => s"substr(fp,${b * (SimHashBits / 4) + 1},${SimHashBits / 4})").mkString(", ")}]) AS block_key
         |  FROM fp0)
         |SELECT DISTINCT id_a, id_b, hamming FROM
         | (SELECT a.doc_id AS id_a, b.doc_id AS id_b, $hammingSql AS hamming
         |  FROM blocks a JOIN blocks b
         |    ON a.block_idx = b.block_idx AND a.block_key = b.block_key AND a.doc_id < b.doc_id)
         |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    "q48_sim_bruteforce" ->
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         | (${dotSql("e", "q")}) / (sqrt(${dotSql("e", "e")}) * sqrt(${dotSql("q", "q")})) AS cosine
         |FROM embeddings e CROSS JOIN q
         |ORDER BY cosine DESC, e.vec_id LIMIT 20""".stripMargin,
    "q49_sim_partitioned" ->
      s"""WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         | (${dotSql("e", "q")}) / (sqrt(${dotSql("e", "e")}) * sqrt(${dotSql("q", "q")})) AS cosine
         |FROM embeddings e JOIN q ON e.label = q.label
         |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "q50_embedding_neardup" ->
      s"""SELECT id_a, id_b, cosine FROM
         | (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |   (${dotSql("a", "b")}) / (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")})) AS cosine
         |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "q51_multimodal_bytes" ->
      """SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | substr(md5(text), 1, 8) AS sha_prefix
        |FROM documents ORDER BY media_id""".stripMargin,
    "q52_embedding_neardup_lsh" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embeddings")} AS bucket
         |  FROM embeddings)
         |SELECT id_a, id_b, cosine FROM
         | (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |   (${dotSql("a", "b")}) / (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")})) AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "q89_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT source, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
        |  FROM documents),
        |r AS MATERIALIZED (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
        |             count(*) OVER (PARTITION BY source) AS nd FROM h)
        |SELECT source,
        | CAST(least(nd, 16) AS BIGINT) AS n_minima,
        | CAST(nd AS BIGINT) AS n_distinct_hashes,
        | max(CASE WHEN rn = 16 THEN hv END) AS kth_min,
        | CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
        |      ELSE 64424509440.0 / CAST(max(CASE WHEN rn = 16 THEN hv END) AS DOUBLE)
        | END AS estimate
        |FROM r GROUP BY source, nd ORDER BY source""".stripMargin,
    "q90_inverted_index" ->
      s"""WITH tk AS (SELECT DISTINCT doc_id, term FROM
         |  (SELECT doc_id, unnest($tokensSql) AS term FROM documents))
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         | array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 32), ',') AS postings_head
         |FROM tk GROUP BY term ORDER BY term""".stripMargin,
    "q91_linear_classifier" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |w AS (SELECT doc_id,
         |  (('0x' || substr(md5(term), 1, 8))::BIGINT % 1001) - 500 AS wt FROM tk),
         |agg AS (SELECT doc_id, count(*) AS n, sum(wt) AS raw FROM w GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(raw AS BIGINT) AS raw_score,
         | CAST(raw AS DOUBLE) / (CAST(n AS DOUBLE) * 500.0) AS norm_score,
         | CASE WHEN raw >= 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q88_langid_multi" ->
      s"""WITH aug AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 4 = 1 THEN repeat('${langSuffix("de")}', 4)
         |       WHEN doc_id % 4 = 2 THEN repeat('${langSuffix("fr")}', 4)
         |       WHEN doc_id % 4 = 3 THEN repeat('${langSuffix("es")}', 4)
         |       ELSE '' END AS text FROM documents),
         |tk AS (SELECT doc_id, $tokensSql AS t FROM aug),
         |sc AS MATERIALIZED (SELECT doc_id,
         |  CAST(len(list_filter(t, x -> list_contains([${langListSql("en")}], x))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(t, x -> list_contains([${langListSql("de")}], x))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(t, x -> list_contains([${langListSql("fr")}], x))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(t, x -> list_contains([${langListSql("es")}], x))) AS BIGINT) AS s_es
         |  FROM tk)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         | CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
         |      WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
         |      WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q87_passage_dedup" ->
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 37 = 0 THEN text ||
         |    ' repeated promotional sentence fragment appears verbatim in many documents exactly'
         |  ELSE text END AS text FROM documents),
         |t0 AS (SELECT doc_id, $tokensSql AS t FROM aug),
         |g AS (SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS gk
         |      FROM t0, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
         |      WHERE len(t) >= 8),
         |dup AS (SELECT gk FROM g GROUP BY gk HAVING count(*) > 1),
         |cov AS (SELECT DISTINCT doc_id, p
         |        FROM (SELECT doc_id, i FROM g JOIN dup USING (gk)) gi,
         |        LATERAL unnest(generate_series(i, i + 7)) AS v(p)),
         |pos AS (SELECT doc_id, p, t[p] AS tok
         |        FROM t0, LATERAL unnest(generate_series(1, len(t))) AS u(p)),
         |keep AS (SELECT pos.doc_id, pos.p, pos.tok FROM pos
         |         LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
         |         WHERE cov.p IS NULL),
         |cl AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned
         |       FROM keep GROUP BY doc_id),
         |nc AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
         |SELECT t0.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         | CAST(coalesce(nc.n_removed, 0) AS BIGINT) AS n_removed,
         | coalesce(cl.cleaned, '') AS cleaned_text
         |FROM t0 LEFT JOIN nc USING (doc_id) LEFT JOIN cl USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q119_sql_group_topk" ->
      s"""WITH q AS (SELECT source, doc_id, ($qualitySql) AS quality FROM documents),
         |r AS MATERIALIZED (SELECT source, doc_id, quality,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS rn FROM q)
         |SELECT source, doc_id, quality FROM r WHERE rn <= 3
         |ORDER BY source, doc_id""".stripMargin,
    "q112_group_topk_plan" ->
      s"""WITH q AS (SELECT source, doc_id, ($qualitySql) AS quality FROM documents),
         |r AS MATERIALIZED (SELECT source, doc_id, quality,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS rn FROM q)
         |SELECT source, doc_id, quality FROM r WHERE rn <= 3
         |ORDER BY source, doc_id""".stripMargin,
    "q110_cms_counts" ->
      s"""WITH tok AS (SELECT unnest($tokensSql) AS t FROM documents),
         |f AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
         |probes(p) AS (VALUES ${langProfile("en").map(w => s"('$w')").mkString(", ")}),
         |hits AS (SELECT pr.p, dd.d, coalesce(sum(f.c), 0) AS cell
         |  FROM probes pr CROSS JOIN (VALUES (0), (1), (2), (3)) AS dd(d) LEFT JOIN f
         |  ON ('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' || f.t), 1, 8))::BIGINT % 1024
         |   = ('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' || pr.p), 1, 8))::BIGINT % 1024
         |  GROUP BY 1, 2),
         |est AS (SELECT p, min(cell) AS estimate FROM hits GROUP BY 1)
         |SELECT pr.p AS token, CAST(coalesce(est.estimate, 0) AS BIGINT) AS estimate,
         | CAST(coalesce(f.c, 0) AS BIGINT) AS n_exact
         |FROM probes pr LEFT JOIN est ON pr.p = est.p LEFT JOIN f ON pr.p = f.t
         |ORDER BY token""".stripMargin,
    "q111_exact_k_sample" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s2'), doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "q109_eval_contamination" ->
      s"""WITH evsh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
         |ev AS (SELECT DISTINCT doc_id, unnest(sh) AS gram FROM evsh),
         |csh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 <> 0)),
         |cg AS (SELECT DISTINCT unnest(sh) AS gram FROM csh),
         |hits AS (SELECT e.doc_id, count(*) AS n_hit
         |  FROM ev e JOIN cg ON e.gram = cg.gram GROUP BY 1),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1)
         |SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
         | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         | CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE) AS hit_frac
         |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q108_weighted_upsample" ->
      """WITH w AS (SELECT doc_id,
        |  1.0 + CAST(doc_id % 3 AS DOUBLE) * 0.75 AS wt,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':up1'), 1, 8))::BIGINT
        |    AS DOUBLE) / 4294967296.0 AS u
        | FROM documents),
        |n AS (SELECT doc_id, CAST(floor(wt) +
        |  (CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END) AS BIGINT) AS copies
        | FROM w)
        |SELECT doc_id, CAST(i AS BIGINT) AS copy_idx
        |FROM n, LATERAL unnest(generate_series(1, copies)) AS g(i)
        |WHERE copies > 0 ORDER BY doc_id, copy_idx""".stripMargin,
    "q106_quality_topm" ->
      s"""WITH q AS (SELECT source, doc_id, ($qualitySql) AS quality FROM documents),
         |r AS MATERIALIZED (SELECT source, doc_id, quality,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS rn FROM q)
         |SELECT source, doc_id, quality FROM r WHERE rn <= 10
         |ORDER BY source, doc_id""".stripMargin,
    "q107_soft_dedup" ->
      s"""WITH RECURSIVE ${minhashPairsCtes("documents")},
         |$componentsCtes,
         |wt AS (SELECT component, count(*) AS c FROM comp GROUP BY 1),
         |surv AS (SELECT d.doc_id, comp.component FROM documents d
         |  LEFT JOIN comp ON d.doc_id = comp.id
         |  WHERE comp.id IS NULL OR comp.component = d.doc_id)
         |SELECT s.doc_id, CAST(coalesce(wt.c, 1) AS BIGINT) AS weight
         |FROM surv s LEFT JOIN wt ON s.component = wt.component
         |ORDER BY s.doc_id""".stripMargin,
    "q105_corpus_report" ->
      s"""WITH d AS MATERIALIZED (SELECT source,
         |  CAST(array_length($tokensSql) AS BIGINT) AS nt,
         |  CAST(len(regexp_extract_all(text,
         |    '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS BIGINT) AS nb,
         |  CASE WHEN CAST(array_length($tokensSql) AS DOUBLE) > 0
         |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05
         |  THEN 1 ELSE 0 END AS en,
         |  CAST(floor(($qualitySql) * 1000000.0) AS BIGINT) AS qm
         | FROM documents)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(nt) AS BIGINT) AS n_tokens,
         | CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         | CAST(sum(en) AS BIGINT) AS n_en,
         | min(nt) AS min_tokens, max(nt) AS max_tokens,
         | CAST(sum(qm) AS BIGINT) AS quality_micro_sum,
         | CAST(sum(qm) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_quality_micro
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q104_span_corruption" ->
      s"""WITH t0 AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |m0 AS (SELECT doc_id, t,
         |  [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
         |     1, 8))::BIGINT % 100 < 15
         |   FOR i IN generate_series(1, len(t))] AS m FROM t0)
         |SELECT doc_id,
         | CAST(len(t) AS BIGINT) AS n_tokens,
         | CAST(len(list_filter(m, x -> x)) AS BIGINT) AS n_masked,
         | CAST(len([1 FOR i IN generate_series(1, len(t))
         |           IF m[i] AND (i = 1 OR NOT m[i-1])]) AS BIGINT) AS n_spans,
         | array_to_string(
         |   [CASE WHEN NOT m[i] THEN t[i] ELSE '<mask>' END
         |    FOR i IN generate_series(1, len(t))
         |    IF (NOT m[i]) OR (i = 1 OR NOT m[i-1])], ' ') AS corrupted
         |FROM m0 ORDER BY doc_id""".stripMargin,
    "q102_knn_join" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embeddings")} AS bucket
         |  FROM embeddings),
         |sc AS MATERIALIZED (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  (${dotSql("q", "b")}) /
         |    (sqrt(${dotSql("q", "q")}) * sqrt(${dotSql("b", "b")})) AS cosine
         | FROM bk q JOIN bk b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
         | WHERE q.vec_id % 25 = 0),
         |r AS MATERIALIZED (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "q101_rejection_sample" ->
      s"""SELECT doc_id, accept_u, accept_p, (accept_u < accept_p) AS keep FROM (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 8))::BIGINT
         |      AS DOUBLE) / 4294967296.0 AS accept_u,
         |    ($qualitySql) AS accept_p
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q100_bpe_pairs" ->
      s"""WITH pt AS (SELECT unnest(regexp_extract_all(text,
         |  '''(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS p
         | FROM documents),
         |f AS (SELECT p, count(*) AS freq FROM pt GROUP BY 1),
         |pr AS MATERIALIZED (SELECT substr(p, CAST(i AS INT), 2) AS pair, freq
         |  FROM f, LATERAL unnest(generate_series(1, length(p) - 1)) AS g(i)
         |  WHERE length(p) >= 2)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pr GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 40""".stripMargin,
    "q113_bpe_train" -> bpeTrainOracleSql(BpeTrainRounds),
    "q136_bpe_encode" -> q136OracleSql,
    "q146_bpe_byte_encode" -> q146OracleSql,
    "q147_video_neardup" -> q147OracleSql,
    "q148_sql_video_neardup" -> q147OracleSql,
    "q149_curation_lm_gate" ->
      s"""WITH RECURSIVE filt0 AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ($qualitySql) >= 0.5
         |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
         |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
         |lmt AS (SELECT doc_id, $tokensSql AS t FROM documents),
         |lmbg AS MATERIALIZED (SELECT doc_id, t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT) + 1] AS w2
         |  FROM lmt, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
         |  WHERE len(t) >= 2),
         |lmc AS (SELECT w1, w2, count(*) AS c FROM lmbg GROUP BY 1, 2),
         |ft AS (SELECT doc_id, $tokensSql AS t FROM filt0),
         |fbg AS (SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
         |  FROM ft, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
         |  WHERE len(t) >= 2),
         |per AS (SELECT b.doc_id, count(*) AS nb,
         |    sum(CASE WHEN c.c IS NULL OR c.c < 30 THEN 1 ELSE 0 END) AS no
         |  FROM fbg b LEFT JOIN lmc c ON b.w1 = c.w1 AND b.w2 = c.w2
         |  GROUP BY b.doc_id),
         |filt AS (SELECT f.doc_id, f.text
         |  FROM filt0 f LEFT JOIN per p ON f.doc_id = p.doc_id
         |  WHERE coalesce(p.nb, 0) = 0
         |     OR CAST(p.no AS DOUBLE) / CAST(p.nb AS DOUBLE) <= 0.5),
         |${minhashPairsCtes("filt")},
         |$componentsCtes,
         |cur AS (SELECT f.doc_id, f.text FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
         |        WHERE comp.id IS NULL OR comp.component = f.doc_id),
         |evsh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
         |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM evsh),
         |csh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM cur)),
         |hit AS (SELECT DISTINCT c.doc_id
         |        FROM (SELECT doc_id, unnest(sh) AS gram FROM csh) c JOIN ev USING (gram))
         |SELECT doc_id FROM cur
         |WHERE doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id""".stripMargin,
    "q151_repetition_lines" ->
      s"""WITH $repCtes,
         |$repSegSigCtes
         |SELECT l.doc_id, l.dup_line_frac, l.dup_line_char_frac,
         |  p.dup_para_frac, p.dup_para_char_frac
         |FROM lsig l JOIN psig p USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q152_repetition_ngrams" -> q152OracleSql,
    "q156_sql_repetition" -> q152OracleSql,
    // q140 is the SAME train→vocab→encode chain through the graft_bpe_encode
    // TABLE function — shares the oracle verbatim (the SQL surface must be
    // invisible in the result).
    "q140_sql_bpe_encode" -> q136OracleSql,
    "q141_pack_token_ids" -> q141OracleSql,
    "q142_bigram_oov" -> q142OracleSql,
    "q144_sql_bigram_oov" -> q142OracleSql,
    "q145_diversity_sample" ->
      s"""WITH co AS MATERIALIZED (SELECT
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ccid,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT $PqCoarseK) zc),
         |asg AS MATERIALIZED (SELECT vec_id, ccid AS cell FROM (
         |    SELECT e.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e", "c")} DESC, c.ccid DESC) AS rn
         |    FROM embeddings e CROSS JOIN co c) a WHERE rn = 1),
         |rk AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
         |  FROM asg)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM rk
         |WHERE r <= 20 ORDER BY vec_id""".stripMargin,
    "q137_image_neardup" -> q137OracleSql,
    "q143_sql_image_neardup" -> q137OracleSql,
    "q153_audio_neardup" -> q153OracleSql,
    "q154_sql_audio_neardup" -> q153OracleSql,
    "q157_perceptron_train" -> perceptronOracleSql(PerceptronDims, PerceptronIters),
    "q158_perceptron_sparse" ->
      sparsePerceptronOracleSql(SparsePerceptronDims, PerceptronIters),
    "q159_perceptron_averaged" ->
      averagedPerceptronOracleSql(PerceptronDims, PerceptronIters),
    "q160_perceptron_multiclass" ->
      multiclassPerceptronOracleSql(MulticlassDims, MulticlassIters),
    "q167_perceptron_multiclass_avg" ->
      multiclassAveragedOracleSql(MulticlassDims, MulticlassIters),
    "q170_unigram_train" -> unigramTrainOracleSql,
    "q171_unigram_encode" -> unigramEncodeOracleSql,
    "q172_sql_unigram_encode" -> unigramEncodeOracleSql,
    "q173_unigram_encode_ids" -> unigramEncodeIdsOracleSql,
    "q174_unigram_train_pruned" -> unigramPrunedTrainOracleSql,
    "q176_unigram_byte_encode" -> unigramByteEncodeOracleSql,
    "q177_curation_unigram_gate" -> curationUnigramGateOracleSql,
    "q178_kn_trigram" -> knTrigramOracleSql,
    "q179_curation_kn_gate" -> curationKnGateOracleSql,
    "q161_audio_neardup_index" -> q161OracleSql,
    "q163_video_neardup_index" -> q163OracleSql,
    "q164_image_neardup_index" -> q164OracleSql,
    "q165_sql_audio_neardup_index" -> q161OracleSql,
    "q168_sql_image_neardup_index" -> q164OracleSql,
    "q169_sql_video_neardup_index" -> q163OracleSql,
    "q166_sql_bm25_index" -> q94OracleSql,
    // q162: the q149-family recursive chain with the repetition thresholds
    // (q152's signal construction over the quality-filtered corpus — `tr` is
    // an alias) and the q145 Voronoi cap over the decontamination survivors.
    "q162_curation_full_chain" ->
      s"""WITH RECURSIVE filt0 AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ($qualitySql) >= 0.5
         |    AND CAST(array_length($tokensSql) AS DOUBLE) > 0
         |    AND CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS DOUBLE)
         |        / CAST(array_length($tokensSql) AS DOUBLE) >= 0.05),
         |tr AS (SELECT doc_id, text FROM filt0),
         |$repSegSigCtes,
         |$repNgramSigCtes,
         |filt AS (SELECT f.doc_id, f.text FROM filt0 f
         |  JOIN rsig r ON f.doc_id = r.doc_id
         |  JOIN lsig l ON f.doc_id = l.doc_id
         |  JOIN psig p ON f.doc_id = p.doc_id
         |  WHERE l.dup_line_frac <= 0.30 AND l.dup_line_char_frac <= 0.20
         |    AND p.dup_para_frac <= 0.30 AND p.dup_para_char_frac <= 0.20
         |    AND r.top_gram_char_frac <= 0.10 AND r.dup_gram_char_frac <= 0.15),
         |${minhashPairsCtes("filt")},
         |$componentsCtes,
         |cur AS (SELECT f.doc_id, f.text FROM filt f LEFT JOIN comp ON f.doc_id = comp.id
         |        WHERE comp.id IS NULL OR comp.component = f.doc_id),
         |evsh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM documents WHERE doc_id % 101 = 0)),
         |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM evsh),
         |csh AS (SELECT doc_id, $shinglesSql AS sh
         |  FROM (SELECT doc_id, $tokensSql AS t FROM cur)),
         |hit AS (SELECT DISTINCT c.doc_id
         |        FROM (SELECT doc_id, unnest(sh) AS gram FROM csh) c JOIN ev USING (gram)),
         |dec AS (SELECT doc_id FROM cur
         |        WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
         |co AS MATERIALIZED (SELECT
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS ccid,
         |    embedding
         |  FROM (SELECT vec_id, embedding FROM embeddings
         |        ORDER BY vec_id LIMIT $PqCoarseK) zc),
         |embs AS (SELECT e.vec_id, e.embedding
         |  FROM embeddings e JOIN dec d ON e.vec_id = d.doc_id),
         |asg AS MATERIALIZED (SELECT vec_id, ccid AS cell FROM (
         |    SELECT e.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e", "c")} DESC, c.ccid DESC) AS rn
         |    FROM embs e CROSS JOIN co c) a WHERE rn = 1),
         |rk AS (SELECT vec_id,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
         |  FROM asg)
         |SELECT vec_id AS doc_id,
         |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard
         |FROM rk WHERE r <= 20 ORDER BY doc_id""".stripMargin,
    "q155_token_budget_mix" ->
      s"""WITH md AS (SELECT doc_id,
         |    (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'web' WHEN 1 THEN 'code'
         |      WHEN 2 THEN 'wiki' ELSE 'books' END) AS domain,
         |    CAST(array_length($tokensSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |bud AS (SELECT * FROM (VALUES ('web', 2500), ('code', 1500), ('wiki', 800))
         |  b(domain, budget)),
         |rr AS (SELECT md.doc_id, md.domain, md.n_tokens, b.budget,
         |    sum(md.n_tokens) OVER (PARTITION BY md.domain
         |      ORDER BY md5(CAST(md.doc_id AS VARCHAR) || ':mix'), md.doc_id) AS cum
         |  FROM md JOIN bud b ON md.domain = b.domain)
         |SELECT doc_id, domain, n_tokens FROM rr WHERE cum <= budget
         |ORDER BY doc_id""".stripMargin,
    "q138_html_extract" ->
      ("""WITH h AS (SELECT doc_id,
        |  '<html><head><title>T' || CAST(doc_id AS VARCHAR) || '</title>'
        |  || '<style a="b">.c{color:red}</style>'
        |  || '<script>if(1<2){x=1;}</script></head><body>'
        |  || '<!-- hidden comment with <tags> inside -->'
        |  || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || ' heading stands alone.</h1>'
        |  || '<p>' || substr(text, 1, 80) || '.</p>'
        |  || (CASE WHEN doc_id % 3 = 0 THEN '<div>home | about | contact</div>' ELSE '' END)
        |  || (CASE WHEN doc_id % 4 = 0 THEN '<p>Please enable javascript to continue.</p>' ELSE '' END)
        |  || '<p>Tom &amp; Jerry say &quot;hi&quot; to &lt;everyone&gt; &#39;now&#39;&nbsp;okay.</p>'
        |  || '<p>It&#8217;s a &#8220;quoted&#8221; em&#8212;dash &#169; &#x2026; leading&#0160;zeros &#038;lt; stays &#1234; put.</p>'
        |  || '<ul><li>one two three four.</li><li>tiny</li></ul>'
        |  || '</body></html>' AS html FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html, '(?s)<!--.*?-->', '', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<script[^>]*>.*?</script\s*>', '', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(x, '(?is)<style[^>]*>.*?</style\s*>', '', 'g') AS x FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(x,
        |  '(?i)<br\s*/?>|</p\s*>|</div\s*>|</li\s*>|</h[1-6]\s*>|</tr\s*>|</title\s*>',
        |  chr(10), 'g') AS x FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', '', 'g') AS x FROM s4),
        |e AS (SELECT doc_id, """.stripMargin + htmlEntityDecodeSql +
      """ AS x FROM s5),
        |lsx AS (SELECT doc_id, string_split(x, chr(10)) AS ls FROM e),
        |ln AS MATERIALIZED (SELECT doc_id, i,
        |    trim(regexp_replace(ls[i], '\s+', ' ', 'g')) AS l
        |  FROM lsx, LATERAL unnest(generate_series(1, len(ls))) AS g(i)),
        |kept AS (SELECT doc_id, i, l FROM ln
        |  WHERE len(string_split(l, ' ')) >= 3
        |    AND regexp_matches(l, '[.!?]$')
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(lower(l), 'lorem ipsum')
        |    AND NOT contains(lower(l), '{')),
        |agg AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS text,
        |    CAST(count(*) AS BIGINT) AS n_lines FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text,
        |  coalesce(a.n_lines, 0) AS n_lines
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin),
    "q115_capped_buckets" ->
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 < 8 THEN 'big'
        |       ELSE 'b' || CAST(doc_id % 50 AS VARCHAR) END AS bucket
        | FROM documents),
        |n AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 100)
        |SELECT doc_id, bucket FROM b WHERE bucket IN (SELECT bucket FROM n)
        |ORDER BY doc_id""".stripMargin,
    "q99_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':3') AS h
        |  FROM documents),
        |s AS (SELECT doc_id, h,
        |  CAST(('0x' || substr(h, 1, 8))::BIGINT % 8 AS BIGINT) AS shard FROM k)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,
    "q98_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 11 = 0 THEN 'HTTP://WWW.EXAMPLE' ELSE 'http://example' END)
        |  || CAST(doc_id % 5 AS VARCHAR) || '.com'
        |  || (CASE WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END)
        |  || '/page/' || CAST(doc_id % 20 AS VARCHAR)
        |  || (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&gclid=abc' ELSE '' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END) AS url
        | FROM documents),
        |n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS s FROM u),
        |n2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(s,
        |  '([?&])(?:utm_[A-Za-z0-9]+|gclid|fbclid)=[^&]*', '\1', 'g'),
        |  '([?&])&+', '\1', 'g'), '[?&]$', '', 'g') AS s
        | FROM n1),
        |p AS MATERIALIZED (SELECT doc_id, s,
        |  lower(regexp_extract(s, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(
        |    lower(regexp_extract(s, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
        |    '^www\.', '', 'g'), ':(80|443)$', '', 'g') AS host,
        |  regexp_replace(regexp_extract(s,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '/$', '', 'g') AS rest
        | FROM n2),
        |c AS (SELECT doc_id, CASE WHEN scheme = '' THEN s
        |  ELSE scheme || '://' || host || rest END AS canonical_url FROM p)
        |SELECT doc_id, canonical_url,
        | (doc_id = min(doc_id) OVER (PARTITION BY canonical_url)) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    "q97_bloom_semijoin" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q96_exact_quantiles" ->
      s"""WITH v AS (SELECT source, CAST(array_length($tokensSql) AS BIGINT) AS val
         |  FROM documents),
         |h AS (SELECT source, val, count(*) AS c FROM v GROUP BY 1, 2),
         |cm AS (SELECT source, val,
         |  sum(c) OVER (PARTITION BY source ORDER BY val) AS cum,
         |  sum(c) OVER (PARTITION BY source) AS n FROM h)
         |SELECT source, CAST(max(n) AS BIGINT) AS n,
         | min(CASE WHEN cum >= ceil(0.5 * n) THEN val END) AS p50,
         | min(CASE WHEN cum >= ceil(0.9 * n) THEN val END) AS p90,
         | min(CASE WHEN cum >= ceil(0.99 * n) THEN val END) AS p99
         |FROM cm GROUP BY source ORDER BY source""".stripMargin,
    "q95_semantic_dedup" ->
      s"""WITH bk AS (SELECT vec_id, embedding, ${bucketSql("embeddings")} AS bucket
         |  FROM embeddings),
         |dup AS (SELECT DISTINCT b.vec_id FROM bk a JOIN bk b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE (${dotSql("a", "b")}) /
         |    (sqrt(${dotSql("a", "a")}) * sqrt(${dotSql("b", "b")})) >= 0.3)
         |SELECT k.vec_id, k.bucket AS cluster, (d.vec_id IS NULL) AS keep
         |FROM bk k LEFT JOIN dup d ON k.vec_id = d.vec_id
         |ORDER BY k.vec_id""".stripMargin,
    "q94_bm25_topk" -> q94OracleSql,
    "q150_bm25_from_index" -> q94OracleSql,
    "q92_line_dedup" ->
      s"""WITH $linedCtes,
         |cnt AS (SELECT line, count(*) AS n FROM
         |  (SELECT doc_id, unnest(list_distinct(ls)) AS line FROM lines) GROUP BY 1),
         |bad AS (SELECT line FROM cnt WHERE n > 4),
         |ex AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM
         |  (SELECT doc_id, unnest([{'pos': i, 'line': ls[i]}
         |     FOR i IN generate_series(1, len(ls))]) AS s FROM lines)),
         |keep AS (SELECT e.doc_id, e.pos, e.line FROM ex e
         |  LEFT JOIN bad b ON e.line = b.line WHERE b.line IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |  string_agg(line, chr(10) ORDER BY pos) AS ct FROM keep GROUP BY 1)
         |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
         | CAST(len(l.ls) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         | coalesce(a.ct, '') AS clean_text
         |FROM lines l LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q93_line_dedup_intradoc" ->
      s"""WITH $linedCtes
         |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         | CAST(len(list_filter(ls, (x, i) -> list_position(ls, x) = i)) AS BIGINT) AS n_kept,
         | array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i), chr(10))
         |   AS clean_text
         |FROM lines ORDER BY doc_id""".stripMargin,
    // The sketch is a candidate filter + exact recount, so the oracle is the
    // plain exact heavy-hitter query (phi=0.0013 > 1/k guarantees equality).
    "q55_heavy_bigrams" ->
      s"""WITH t0 AS (SELECT $tokensSql AS t FROM documents),
         |big AS (SELECT unnest(CASE WHEN len(t) >= 2
         |  THEN [t[i] || ' ' || t[i+1] FOR i IN generate_series(1, len(t)-1)]
         |  ELSE [array_to_string(t, ' ')] END) AS gram FROM t0)
         |SELECT gram, count(*) AS cnt FROM big GROUP BY gram
         |HAVING count(*) >= ceil(0.0013 * (SELECT count(*) FROM big))
         |ORDER BY gram""".stripMargin,
    "q117_sql_surface" ->
      s"""SELECT doc_id,
         | CAST(array_length($tokensSql) AS BIGINT) AS n_tokens,
         | $qualitySql AS quality,
         | md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         | ('0x' || substr(md5(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))), 1, 8))::BIGINT % 100 AS bucket
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q120_pq_encode" ->
      s"""$pqAssignCtes
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code
         |FROM r ORDER BY vec_id, sub""".stripMargin,
    "q125_sql_pq_encode" ->
      s"""$pqAssignCtes
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code
         |FROM r ORDER BY vec_id, sub""".stripMargin,
    "q121_pq_adc_topk" ->
      s"""$pqAssignCtes,
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |qd AS MATERIALIZED (SELECT r.vec_id, r.sub,
         |    ${pqSubDistCaseSql("q", "c2", "r.sub")} AS qdist
         |  FROM r JOIN cb c2 ON r.cid = c2.cid CROSS JOIN q),
         |p AS MATERIALIZED (SELECT vec_id,
         |    ${(0 until PqM).map(s =>
               s"MAX(CASE WHEN sub = $s THEN qdist END) AS p$s").mkString(", ")}
         |  FROM qd GROUP BY vec_id)
         |SELECT vec_id, ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS adc_dist
         |FROM p ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin,
    "q127_sql_adc_topk" ->
      s"""$pqAssignCtes,
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |qd AS MATERIALIZED (SELECT r.vec_id, r.sub,
         |    ${pqSubDistCaseSql("q", "c2", "r.sub")} AS qdist
         |  FROM r JOIN cb c2 ON r.cid = c2.cid CROSS JOIN q),
         |p AS MATERIALIZED (SELECT vec_id,
         |    ${(0 until PqM).map(s =>
               s"MAX(CASE WHEN sub = $s THEN qdist END) AS p$s").mkString(", ")}
         |  FROM qd GROUP BY vec_id)
         |SELECT vec_id, ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS adc_dist
         |FROM p ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin,
    "q123_pq_residual_encode" ->
      s"""$pqResidualCtes
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(sub AS BIGINT) AS sub, cid AS code
         |FROM r ORDER BY vec_id, sub""".stripMargin,
    "q124_pq_residual_adc_topk" -> {
      // query residual vs EACH cell materialized once (qrez), then the
      // distance chain reads two precomputed arrays — see resListSql
      val qCaseSql = s"CASE r.sub " +
        (0 until PqM).map(s => s"WHEN $s THEN (${pqResidSubDistSql("qr", "sr", s)})").mkString(" ") +
        " END"
      s"""$pqResidualCtes,
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |qrez AS MATERIALIZED (SELECT c.ccid AS cell, ${resListSql("q", "c")} AS res
         |  FROM q CROSS JOIN co c),
         |qd AS MATERIALIZED (SELECT r.vec_id, r.sub, $qCaseSql AS qdist
         |  FROM r
         |  JOIN qrez qr ON qr.cell = r.cell
         |  JOIN sres sr ON sr.cid = r.cid),
         |p AS MATERIALIZED (SELECT vec_id,
         |    ${(0 until PqM).map(s =>
               s"MAX(CASE WHEN sub = $s THEN qdist END) AS p$s").mkString(", ")}
         |  FROM qd GROUP BY vec_id)
         |SELECT vec_id, ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS adc_dist
         |FROM p ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin
    },
    "q126_ivfpq_batch_join" -> q126OracleSql,
    // q139 is the SAME search surfaced through the persisted-index TVF — by
    // construction it must reproduce q126's result exactly, so it shares the
    // oracle verbatim.
    "q139_sql_ivfpq_search" -> q126OracleSql,
    // q175 is the SAME search over the save→append→torn-gen→vacuum lifecycle
    // — the commit protocol must be invisible, so it shares q126's oracle.
    "q175_pq_append_vacuum" -> q126OracleSql,
    "q129_knn_graph" -> {
      // q126's chain with nodes-as-queries and EXACT self-exclusion: ranking
      // all non-self candidates equals rank-(k+1)-drop-self-retake-k
      val qCaseSql = s"CASE r.sub " +
        (0 until PqM).map(s => s"WHEN $s THEN (${pqResidSubDistSql("qr", "sr", s)})").mkString(" ") +
        " END"
      s"""$pqResidualCtes,
         |qs AS MATERIALIZED (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         |pr AS MATERIALIZED (SELECT query_id, ccid AS cell FROM (
         |    SELECT q.query_id, c.ccid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSql("q", "c")} DESC, c.ccid DESC) AS rn
         |    FROM qs q CROSS JOIN co c) p WHERE rn <= 2),
         |qrez AS MATERIALIZED (SELECT p.query_id, p.cell, ${resListSql("q", "ce")} AS res
         |  FROM pr p
         |  JOIN qs q ON q.query_id = p.query_id
         |  JOIN co ce ON ce.ccid = p.cell),
         |qd AS MATERIALIZED (SELECT qr.query_id, r.vec_id, r.sub, $qCaseSql AS qdist
         |  FROM r
         |  JOIN qrez qr ON qr.cell = r.cell
         |  JOIN sres sr ON sr.cid = r.cid),
         |p2 AS MATERIALIZED (SELECT query_id, vec_id,
         |    ${(0 until PqM).map(s =>
               s"MAX(CASE WHEN sub = $s THEN qdist END) AS p$s").mkString(", ")}
         |  FROM qd GROUP BY query_id, vec_id),
         |sc AS MATERIALIZED (SELECT query_id, vec_id,
         |    ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS adc_dist FROM p2)
         |SELECT query_id, vec_id, adc_dist FROM (
         |  SELECT query_id, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist, vec_id) AS rn
         |  FROM sc WHERE vec_id <> query_id) t WHERE rn <= 5
         |ORDER BY query_id, adc_dist, vec_id""".stripMargin
    },
    "q130_knn_graph_sdc" -> sdcKnnGraphOracle,
    "q134_sq8_encode" ->
      s"""$sq8BoundsCtes,
         |codes AS MATERIALIZED (SELECT e.vec_id, $sq8CodeListSql AS cl
         |  FROM embeddings e CROSS JOIN bl)
         |SELECT vec_id, CAST(j - 1 AS BIGINT) AS d, CAST(cl[j] AS BIGINT) AS code
         |FROM codes, (SELECT unnest(generate_series(1, 64)) AS j) s
         |ORDER BY vec_id, d""".stripMargin,
    "q135_sq8_topk" ->
      s"""$sq8BoundsCtes,
         |codes AS MATERIALIZED (SELECT e.vec_id, $sq8CodeListSql AS cl
         |  FROM embeddings e CROSS JOIN bl),
         |dec AS MATERIALIZED (SELECT c.vec_id,
         |    [bl.mnl[j] + (CAST(c.cl[j] AS DOUBLE) * (bl.mxl[j] - bl.mnl[j])) / 255.0
         |      FOR j IN generate_series(1, 64)] AS dv
         |  FROM codes c CROSS JOIN bl),
         |qv AS (SELECT [CAST(embedding[j] AS DOUBLE) FOR j IN generate_series(1, 64)] AS qe
         |  FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, (${(1 to 64).map(j => s"dv[$j]*dv[$j]").mkString(" + ")})
         |  - 2.0*(${(1 to 64).map(j => s"dv[$j]*qe[$j]").mkString(" + ")})
         |  + (${(1 to 64).map(j => s"qe[$j]*qe[$j]").mkString(" + ")}) AS sq_dist
         |FROM dec CROSS JOIN qv
         |ORDER BY sq_dist, vec_id LIMIT 20""".stripMargin,
    "q133_rrf_fusion" ->
      s"""WITH la AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rn
         |  FROM documents ORDER BY length(text) DESC, doc_id LIMIT 40),
         |lb AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY array_length($tokensSql), doc_id) AS rn
         |  FROM documents ORDER BY array_length($tokensSql), doc_id LIMIT 40)
         |SELECT doc_id, rrf_score FROM (
         |  SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id,
         |    COALESCE(1.0/(60+CAST(la.rn AS DOUBLE)), 0.0)
         |      + COALESCE(1.0/(60+CAST(lb.rn AS DOUBLE)), 0.0) AS rrf_score
         |  FROM la FULL JOIN lb ON la.doc_id = lb.doc_id) f
         |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
    "q132_semantic_dedup_pq" -> {
      // the q130 SDC machinery over the %5 SUBSET (its own seed codebook),
      // FULL graph (every subset row queries), k=5 edges symmetrized, exact
      // cosine verify, greedy lower-id drop at >= 0.3
      s"""${pqAssignCtesOver("e0",
             "e0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),\n")},
         |qd AS MATERIALIZED (SELECT rq.vec_id AS query_id, rx.vec_id, rq.sub,
         |    ${pqSubDistCaseSql("c1", "c2", "rq.sub")} AS sdist
         |  FROM r rq
         |  JOIN r rx ON rx.sub = rq.sub
         |  JOIN cb c1 ON c1.cid = rq.cid
         |  JOIN cb c2 ON c2.cid = rx.cid),
         |p AS MATERIALIZED (SELECT query_id, vec_id,
         |    ${(0 until PqM).map(s =>
               s"MAX(CASE WHEN sub = $s THEN sdist END) AS p$s").mkString(", ")}
         |  FROM qd GROUP BY query_id, vec_id),
         |sc AS MATERIALIZED (SELECT query_id, vec_id,
         |    ${(0 until PqM).map(s => s"p$s").mkString(" + ")} AS sdc_dist FROM p),
         |edges AS MATERIALIZED (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sdc_dist, vec_id) AS rn
         |  FROM sc WHERE vec_id <> query_id) t WHERE rn <= 5),
         |pairs AS (SELECT DISTINCT LEAST(query_id, vec_id) AS a,
         |    GREATEST(query_id, vec_id) AS b FROM edges),
         |dropped AS (SELECT DISTINCT p2.b FROM pairs p2
         |  JOIN e0 ea ON ea.vec_id = p2.a
         |  JOIN e0 eb ON eb.vec_id = p2.b
         |  WHERE (${cosSql("ea", "eb")}) >= 0.3)
         |SELECT e.vec_id, (d.b IS NULL) AS keep
         |FROM e0 e LEFT JOIN dropped d ON d.b = e.vec_id
         |ORDER BY e.vec_id""".stripMargin
    },
    // q131 computes the FULL graph through the TVF and filters to the q130
    // node subset — per-node top-k is independent of other nodes, so the
    // rows (and the oracle) are identical
    "q131_sql_knn_graph" -> sdcKnnGraphOracle,
    "q128_opq_rotated_encode" -> {
      val rot = graft.operators.Rotation.rotationMatrix(64)
      // Double.toString round-trips exactly, so the literal matrix parsed by
      // DuckDB is bit-identical to the MatVec reference object
      val rLit = rot.map(row => "[" + row.map(_.toString).mkString(",") + "]")
        .mkString("[", ",", "]")
      val rotChain = (1 to 64)
        .map(t => s"rm[j][$t]*CAST(e.embedding[$t] AS DOUBLE)").mkString(" + ")
      val caseSql = s"CASE s.sub " + (0 until PqM).map { sb =>
        val terms = (1 to PqDsub).map { dd =>
          val j = sb * PqDsub + dd
          s"((r0.rv[$j]-c.rv[$j])*(r0.rv[$j]-c.rv[$j]))"
        }.mkString(" + ")
        s"WHEN $sb THEN ($terms)"
      }.mkString(" ") + " END"
      s"""WITH rmat AS MATERIALIZED (SELECT $rLit AS rm),
         |rot AS MATERIALIZED (SELECT e.vec_id,
         |    [$rotChain FOR j IN generate_series(1, 64)] AS rv
         |  FROM embeddings e CROSS JOIN rmat),
         |cb AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, rv
         |  FROM (SELECT vec_id, rv FROM rot ORDER BY vec_id LIMIT $PqKsub) z),
         |d AS MATERIALIZED (SELECT r0.vec_id, s.sub, c.cid, $caseSql AS dist
         |  FROM rot r0 CROSS JOIN cb c
         |  CROSS JOIN (SELECT unnest([${(0 until PqM).mkString(",")}]) AS sub) s),
         |r AS (SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
         |    FROM d) rr WHERE rn = 1)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, cid AS code
         |FROM r ORDER BY vec_id, sub""".stripMargin
    },
    "q122_zorder_value" -> {
      // bit b of column i → interleaved position b·n + i (n = 2 dims)
      def zTerms(c: String, i: Int): String = (0 until 10).map(b =>
        s"((($c >> $b) & 1) << ${b * 2 + i})").mkString(" + ")
      s"""WITH xy AS (SELECT doc_id,
         |    least(greatest(CAST(length(text) AS BIGINT), 0), 1023) AS x,
         |    least(greatest(CAST(array_length($tokensSql) AS BIGINT), 0), 1023) AS y
         |  FROM documents)
         |SELECT doc_id, x, y, ${zTerms("x", 0)} + ${zTerms("y", 1)} AS zval
         |FROM xy ORDER BY doc_id""".stripMargin
    }
  )
}
