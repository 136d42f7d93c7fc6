package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval (Robertson–Spärck Jones Okapi weighting) over a
  * document corpus — the query-side consumer of the inverted-index prep (q90)
  * and the standard relevance score for retrieval-augmented training-data
  * selection.
  *
  * Formula per (doc, term): idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
  * summed over query terms in fixed order. The idf is the RATIONAL core of the
  * Robertson form, (N − df + 0.5)/(df + 0.5), without the enclosing log: log is
  * monotone, so top-k per term is unchanged, and the rational form is exact
  * IEEE division — bit-identical across engines (same trick as
  * [[TfIdf]]'s rational idf; production rankers that want the damped scale put
  * the log back and lose only oracle-exactness, not correctness).
  *
  * Scale shape: two corpus passes, both scan-shaped. Pass 1 reduces map-side to
  * (N, Σdl, df per query term) — a handful of longs; at 100 TB with a standing
  * query workload these come precomputed from the inverted index's df column
  * instead. Pass 2 computes every per-doc term frequency with higher-order
  * functions during the scan (no explode, no shuffle) and feeds
  * TakeOrderedAndProject — the global top-k materializes k rows per partition,
  * never a global sort. Defaults k1=1.5, b=0.75 are in the standard Okapi range
  * and exactly representable in binary, so the arithmetic chain is
  * reproducible down to the last bit.
  */
object Retrieval {

  /** Per-document BM25 scores for `queryTerms`: (id, n_tokens, score), one row
    * per document (docs matching no term score 0.0). */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, s"duplicate query terms: $queryTerms")
    val staged = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).cast("long").as("_dl"))

    // Pass 1: corpus stats — one aggregate job, map-side combined to 2+|q| longs.
    val statCols = count(lit(1)).as("n") +: sum(col("_dl")).as("sdl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("_toks"), t), 1L).otherwise(0L)).as(s"df_$i")
      }
    val stats = staged.agg(statCols.head, statCols.tail: _*).collect()(0)
    val n = stats.getAs[Long]("n")
    require(n > 0, "bm25Scores: empty corpus (avgdl undefined — every score would be NaN)")
    val avgdl = stats.getAs[Long]("sdl").toDouble / n.toDouble

    // Pass 2: scan-side scoring; fixed-order term sum keeps doubles exact.
    val dl = col("_dl").cast("double")
    val termScores = queryTerms.zipWithIndex.map { case (t, i) =>
      val df = stats.getAs[Long](s"df_$i")
      val idf = (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
      val tf = size(filter(col("_toks"), x => x === t)).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(avgdl))))
    }
    staged.select(col(idCol), col("_dl").as("n_tokens"),
      termScores.reduceLeft(_ + _).as("score"))
  }

  /** Top-k BM25 retrieval, deterministically tie-broken by ascending id. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int,
               k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    bm25Scores(docs, idCol, textCol, queryTerms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** Inverted-index build (retrieval prep, the producer side of [[bm25Scores]]'
    * document frequencies): one row per distinct term — (term, df,
    * postings_head). `df` is the EXACT document frequency; `postings_head` is
    * the first `headPostings` doc ids of the id-sorted postings list,
    * comma-joined.
    *
    * The head cap is the scale contract: a stopword-class term's full postings
    * list is corpus-sized, so materializing it whole in one row would bottom
    * out in a single straggler task (and a 2 GB array limit) at 100 TB. The
    * verified surface is (exact df, bounded head); full lists shard by term —
    * the same relation keyed (term, doc_id) without the collect_list.
    *
    * Plan shape: distinct terms in-scan (array_distinct before the explode,
    * so a doc contributes each term once), one hash aggregate by term;
    * collect_list is bounded post-sort by `slice`. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    headPostings: Int = 32): DataFrame = {
    require(headPostings > 0, s"headPostings must be positive: $headPostings")
    docs
      .select(col(idCol), explode(array_distinct(
        TextFunctions.tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(
          slice(array_sort(collect_list(col(idCol))), 1, headPostings),
          x => x.cast("string"))).as("postings_head"))
  }

  // ── persisted text index (the savePqIndex layout discipline) ──────────────

  /** A loaded [[saveTextIndex]] index: corpus stats driver-side (two longs),
    * the term→df table and the full sharded postings lazy. */
  final case class TextIndex(nDocs: Long, sumDl: Long, nBuckets: Int,
                             terms: DataFrame, postings: DataFrame,
                             doclens: DataFrame) {
    def avgdl: Double = sumDl.toDouble / nDocs.toDouble
  }

  /** Driver-side twin of [[TextFunctions.hashBucket]] for a literal term —
    * first 32 md5 bits of the string, mod `buckets` (the same arithmetic the
    * column expression and every oracle use). */
  private[operators] def bucketOfLiteral(s: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  /** Persist the retrieval index for `docs` — the statistics [[bm25Scores]]
    * recomputes per run, written once at ingest time (the savePqIndex
    * discipline: an index is a DATASET, not a driver object):
    *
    *   - `postings`: the FULL sharded postings relation (term, doc_id, tf),
    *     written `partitionBy(term_bucket)` ([[TextFunctions.hashBucket]] of
    *     the term, `nBuckets` dirs) so a query-term lookup prunes at FILE
    *     level — one row per (term, doc) pair, never a corpus-sized list in
    *     one row (the [[invertedIndex]] head-cap rationale, solved by layout
    *     instead of truncation);
    *   - `doclens`: (doc_id, dl) — the per-doc length BM25's normalizer
    *     needs;
    *   - `terms`: (term, df) exact document frequencies (vocab-sized);
    *   - `meta`: one row (n_docs, sum_dl, n_buckets, committed gens).
    *
    * Exact integer statistics throughout, so a reloaded index ranks
    * BIT-IDENTICALLY to the from-corpus pass (spec-pinned).
    *
    * Commit protocol ([[GenCommit.save]], shared with [[appendToTextIndex]]):
    * postings/doclens land under `gen=N` partitions, the derived tables in
    * `terms_gN` / `meta_gN` dirs, and `meta_gN` is the single commit point.
    * The tokenized input is staged before the path is cleared, so a bad
    * call, a batch failing at run time or a crash at ANY point leaves the
    * previously committed index exactly as it was. */
  def saveTextIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    GenCommit.save(tokenized(docs, idCol, textCol), path) { staged =>
      val (n, sdl) = writeTextGen(staged, path, 0, nBuckets, None)
      Seq((n, sdl, nBuckets)).toDF("n_docs", "sum_dl", "n_buckets")
    }
  }

  /** The staged text-index input: (doc_id, _toks, dl). `select` analyzes
    * eagerly, so a typo'd column throws before any index is touched. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"), size(col("_toks")).cast("long").as("dl"))

  /** Write generation `gen` from a staged batch: doclens, bucketed
    * postings, and `terms_gN` — the generation's per-term doc counts (one
    * postings row per (term, doc) ⇒ the exact array_contains df) added to
    * the committed `prevTerms` table, a vocab-sized merge that never rescans
    * older postings. Returns the batch's (doc count, token count). */
  private def writeTextGen(staged: DataFrame, path: String, gen: Int,
                           nBuckets: Int, prevTerms: Option[DataFrame]): (Long, Long) = {
    import staged.sparkSession.implicits._
    GenCommit.writeGen(staged.select(col("doc_id"), col("dl")), path, "doclens", gen)
    GenCommit.writeGen(staged
      .select(col("doc_id"), explode(col("_toks")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket", TextFunctions.hashBucket(col("term"), nBuckets)),
      path, "postings", gen, "term_bucket")
    val df = GenCommit.readGens(staged.sparkSession, path, "postings", Seq(gen))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    GenCommit.writeTable(prevTerms.fold(df)(prev => df.unionByName(prev)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))), s"$path/terms_g$gen")
    staged.agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .as[(Long, Long)].collect().head
  }

  /** Append `newDocs` to a PERSISTED [[saveTextIndex]] index WITHOUT
    * re-tokenizing the already-indexed corpus — the [[ProductQuantization
    * .appendToPqIndex]] discipline for the text side: new postings/doclens
    * parquet files land beside the old ones (file-level term_bucket pruning
    * keeps working across both generations), while the two vocabulary-sized
    * tables rebuild incrementally — `terms` as old-df ⊕ new-per-term doc
    * counts (a vocab-sized union + aggregate; NEVER a full postings
    * rescan) and `meta` by adding the new corpus stats.
    *
    * Loud contracts: the index must exist (no committed meta fails loudly),
    * the bucket count comes from META — not a caller parameter — so the new
    * postings shard exactly like the old, and `newDocs` ids must be disjoint
    * from the COMMITTED ids (an overlapping append would double-count df/dl
    * for every downstream reader).
    *
    * Crash safety ([[GenCommit.append]]): the append is a new GENERATION
    * staged as ONE evaluation of `newDocs` (a non-deterministic batch cannot
    * commit mutually inconsistent shards) and committed by its `meta_gN`
    * write, so a crash anywhere mid-append leaves the old index consistent
    * AND readable and a retry takes the next generation number. The failed
    * attempt's orphaned files are never read; [[vacuumTextIndex]] reclaims
    * them. */
  def appendToTextIndex(newDocs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val op = "appendToTextIndex"
    GenCommit.append(tokenized(newDocs, idCol, textCol), path,
        Seq("doclens", "postings"), op) { (staged, meta, gen) =>
      GenCommit.requireDisjointIds(staged,
        GenCommit.readGens(spark, path, "doclens", meta.gens), "doc_id", op, path)
      val nBuckets = meta.row.getAs[Int]("n_buckets")
      val (n, sdl) = writeTextGen(staged, path, gen, nBuckets,
        Some(spark.read.parquet(s"$path/terms_g${meta.gen}")))
      Seq((meta.row.getAs[Long]("n_docs") + n, meta.row.getAs[Long]("sum_dl") + sdl,
          nBuckets)).toDF("n_docs", "sum_dl", "n_buckets")
    }
  }

  /** Reclaim the dead bytes crashed appends leave behind ([[GenCommit
    * .vacuum]]): orphaned postings/doclens `gen=N` partitions never listed
    * by any committed meta, plus superseded `terms_gN`/`meta_gN` dirs below
    * the current generation. Nothing reachable from the committed meta is
    * touched; scores are bit-identical before and after (spec-pinned).
    * Refuses (throws) while an append's writer lease is fresh — an
    * in-flight generation looks like an orphan until its meta commits; a
    * stale lease (dead writer) ages out after the TTL. Returns the number
    * of directories removed. */
  def vacuumTextIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int =
    GenCommit.vacuum(spark, path, Seq("doclens", "postings"), Seq("terms_g"),
      "vacuumTextIndex")

  /** Load a [[saveTextIndex]] index: the highest COMMITTED meta collects
    * driver-side; terms, postings and doclens stay lazy, filtered to the
    * committed generations ([[GenCommit.readGens]]: uncommitted files from a
    * crashed append are pruned at file level and never read). */
  def loadTextIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): TextIndex = {
    val meta = GenCommit.requireMeta(spark, path, "loadTextIndex")
    val nDocs = meta.row.getAs[Long]("n_docs")
    require(nDocs > 0, s"loadTextIndex: empty corpus index at $path")
    TextIndex(nDocs, meta.row.getAs[Long]("sum_dl"), meta.row.getAs[Int]("n_buckets"),
      spark.read.parquet(s"$path/terms_g${meta.gen}"),
      GenCommit.readGens(spark, path, "postings", meta.gens),
      GenCommit.readGens(spark, path, "doclens", meta.gens))
  }

  /** Per-document BM25 scores from a PERSISTED index — [[bm25Scores]]
    * without its two corpus passes: corpus stats come from the meta/terms
    * tables (the standing-workload shape the [[bm25Scores]] scaladoc
    * promises), per-term tf rows come from the postings relation with BOTH
    * the term predicate and its term_bucket literal (file-level pruning),
    * and the score chain is the IDENTICAL fixed-order IEEE expression — a
    * reloaded index scores bit-identically (spec-pinned; q150 runs q94's
    * oracle THROUGH the persistence round-trip). One row per indexed doc,
    * non-matching docs score 0.0, exactly as the from-corpus pass. */
  def bm25ScoresFromIndex(index: TextIndex, queryTerms: Seq[String],
                          k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, s"duplicate query terms: $queryTerms")
    val dfs: Map[String, Long] = index.terms
      .filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("df").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = index.nDocs
    val avgdl = index.avgdl
    val withTfs = queryTerms.zipWithIndex.foldLeft(
      index.doclens.select(col("doc_id"), col("dl"))) { case (acc, (t, i)) =>
      acc.join(
        // int literal: the partition column reads back as INT, and a same-
        // type comparison keeps partition pruning cast-free
        index.postings
          .filter(col("term_bucket") === lit(bucketOfLiteral(t, index.nBuckets).toInt)
            && col("term") === t)
          .select(col("doc_id"), col("tf").as(s"_tf$i")),
        Seq("doc_id"), "left")
    }
    val dl = col("dl").cast("double")
    val termScores = queryTerms.zipWithIndex.map { case (t, i) =>
      val df = dfs.getOrElse(t, 0L)
      val idf = (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
      val tf = coalesce(col(s"_tf$i"), lit(0L)).cast("double")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * (dl / lit(avgdl))))
    }
    withTfs.select(col("doc_id"), col("dl").as("n_tokens"),
      termScores.reduceLeft(_ + _).as("score"))
  }

  /** Top-k BM25 from a persisted index — [[bm25TopK]]'s reload twin. */
  def bm25TopKFromIndex(index: TextIndex, queryTerms: Seq[String], topK: Int,
                        k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    bm25ScoresFromIndex(index, queryTerms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Reciprocal rank fusion (Cormack, Clarke & Büttner 2009): fuse N ranked
    * candidate lists into one by score = Σ_lists 1/(k0 + rank_list), rank
    * 1-based, items absent from a list contributing 0 — THE standard hybrid
    * retrieval combiner (BM25 list × embedding-ANN list), robust to the
    * lists' incomparable raw scores because only ranks survive.
    *
    * Each list arrives as (frame, ordering): the frame carries `idCol`
    * (and `queryCol` in batch mode), the ordering ranks it (ties broken by
    * ascending id — every ranking here is deterministic or it isn't a
    * ranking). Contributions join FULL-outer and add in LIST order
    * (left-assoc, fixed arity — the oracle-replayable IEEE shape; a groupBy
    * sum would add in shuffle order). Inputs are top-k candidate LISTS, and
    * the bound is STRUCTURAL, not just contractual: each list is pre-trimmed
    * to its top `maxListSize` rows under its own ordering before ranking —
    * unbatched via TakeOrderedAndProject (k rows per partition, never a
    * global sort), batch mode via GroupTopK per query — so the rank windows
    * (single-partition in unbatched mode) see at most `maxListSize` rows per
    * query no matter what the caller feeds in. Items beyond the trim
    * contribute 0, which IS the RRF definition (ranks past the candidate
    * list don't exist). Batch mode (`queryCol` set) partitions the windows
    * by query and takes the fused top-k through GroupTopK. Output:
    * ([queryCol,] idCol, rrf_score) — topK rows per query, descending score,
    * ties to the lower id. */
  def rrfFuse(lists: Seq[(DataFrame, Seq[(String, Boolean)])], idCol: String,
              topK: Int, k0: Int = 60,
              queryCol: Option[String] = None,
              maxListSize: Int = 10000): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(topK > 0 && k0 >= 0, s"bad topK=$topK/k0=$k0")
    require(maxListSize >= topK,
      s"maxListSize=$maxListSize must cover topK=$topK")
    val keyCols = queryCol.toSeq :+ idCol
    val contribs = lists.zipWithIndex.map { case ((df, ord), i) =>
      require(ord.nonEmpty, s"list $i needs an ordering")
      val fullOrd = ord :+ (idCol -> true)
      val sort = fullOrd.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }
      // structural bound on the rank windows: only the top maxListSize of
      // each list (per query in batch mode) can contribute
      val trimmed = queryCol match {
        case Some(q) => graft.plans.GroupTopK.topK(df, Seq(q), fullOrd, maxListSize)
        case None    => df.orderBy(sort: _*).limit(maxListSize)
      }
      val w = queryCol.fold(Window.orderBy(sort: _*))(q =>
        Window.partitionBy(col(q)).orderBy(sort: _*))
      trimmed.select(keyCols.map(col) :+
        (lit(1.0) / (lit(k0) + row_number().over(w)).cast("double"))
          .as(s"_rrf$i"): _*)
    }
    val joined = contribs.reduce((a, b) => a.join(b, keyCols, "full"))
    val fused = joined.select(keyCols.map(col) :+
      lists.indices.map(i => coalesce(col(s"_rrf$i"), lit(0.0)))
        .reduce(_ + _).as("rrf_score"): _*)
    queryCol match {
      case Some(q) => graft.plans.GroupTopK.topK(fused,
        Seq(q), Seq("rrf_score" -> false, idCol -> true), topK)
      case None => fused.orderBy(col("rrf_score").desc, col(idCol)).limit(topK)
    }
  }
}
