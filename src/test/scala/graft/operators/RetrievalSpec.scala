package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // 4 docs, equal length (so dl-normalization is constant and ordering is
  // driven by tf/idf alone where asserted).
  private def corpus: DataFrame = Seq(
    (1L, "spark spark spark query"), // tf(spark)=3
    (2L, "spark query other words"), // tf(spark)=1
    (3L, "query other words here"),  // tf(spark)=0
    (4L, "rare other words here")    // contains the rare term
  ).toDF("doc_id", "text")

  test("more occurrences of a query term rank higher; absent terms score 0") {
    val out = Retrieval.bm25Scores(corpus, "doc_id", "text", Seq("spark"))
      .orderBy("doc_id").collect()
    val scores = out.map(_.getDouble(2))
    assert(scores(0) > scores(1))       // tf 3 > tf 1
    assert(scores(1) > 0.0)
    assert(scores(2) === 0.0 && scores(3) === 0.0)
  }

  test("rarer terms get higher idf weight at equal tf") {
    // "rare" df=1 vs "query" df=3, both tf=1 in their docs, equal dl.
    val out = Retrieval.bm25Scores(corpus, "doc_id", "text", Seq("rare", "query"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(3L)) // doc4 matches only rare; doc3 only query
  }

  test("longer documents are penalized at equal tf") {
    val docs = Seq(
      (1L, "spark a b c"),
      (2L, "spark a b c d e f g h i j k l m n o p")).toDF("doc_id", "text")
    val out = Retrieval.bm25Scores(docs, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(2L))
  }

  test("bm25 score matches the closed-form Okapi formula") {
    // corpus: N=4, avgdl=4; term "spark": df=2; doc1 tf=3 dl=4.
    val score = Retrieval.bm25Scores(corpus, "doc_id", "text", Seq("spark"))
      .filter($"doc_id" === 1L).collect()(0).getDouble(2)
    val idf = (4.0 - 2.0 + 0.5) / (2.0 + 0.5)
    val expected = idf * (3.0 * 2.5) / (3.0 + 1.5 * (0.25 + 0.75 * (4.0 / 4.0)))
    assert(score === expected)
  }

  test("topK is deterministic with doc_id tie-break and caps rows") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("query"), topK = 2)
      .collect()
    assert(out.length === 2)
    // docs 1,2,3 all have tf(query)=1 and equal dl — tie broken by doc_id.
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("scoring plan takes top-k without a global sort") {
    val plan = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("spark"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("invertedIndex: exact df, doc counted once per term, bounded sorted postings head") {
    val docs = Seq(
      (3L, "alpha beta alpha alpha"), // 'alpha' ×3 in one doc → df contribution 1
      (1L, "alpha gamma"),
      (2L, "beta beta")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(idx("alpha") === ((2L, "1,3")))  // df=2 despite 4 occurrences; head id-sorted
    assert(idx("beta") === ((2L, "2,3")))
    assert(idx("gamma") === ((1L, "1")))
    // head cap: many docs share a term → postings_head is bounded, df stays exact
    val big = (1L to 50L).map(i => (i, "common")).toDF("doc_id", "text")
    val capped = Retrieval.invertedIndex(big, "doc_id", "text", headPostings = 5)
      .collect()(0)
    assert(capped.getLong(1) === 50L)
    assert(capped.getString(2) === "1,2,3,4,5") // numeric doc-id sort, first 5
    intercept[IllegalArgumentException](
      Retrieval.invertedIndex(docs, "doc_id", "text", headPostings = 0))
  }

  test("rrfFuse: hand-computed fusion, absent items contribute zero, list order is the IEEE addition order") {
    // list A ranks 1,2,3; list B ranks 3,2,4 — docs in both lists (2 and 3)
    // must beat docs in one (1 and 4); 1/(k0+r) is convex, so ranks {1,3}
    // edge out {2,2}
    val a = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("id", "sa")
    val b = Seq((3L, 0.1), (2L, 0.5), (4L, 0.9)).toDF("id", "sb")
    val out = Retrieval.rrfFuse(
        Seq((a, Seq("sa" -> false)), (b, Seq("sb" -> true))),
        "id", topK = 4, k0 = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r(n: Int) = 1.0 / (60 + n)
    assert(out(1L) == r(1) + 0.0)
    assert(out(2L) == r(2) + r(2))
    assert(out(3L) == r(3) + r(1))
    assert(out(4L) == 0.0 + r(3))
    assert(out(3L) > out(2L) && out(2L) > out(1L) && out(1L) > out(4L))
  }

  test("rrfFuse: hybrid BM25 x embedding-ANN composition, batch mode per query through GroupTopK") {
    val pq = graft.operators.ProductQuantization
    // text relevance says 1 > 2; vector similarity says 2 > 1; doc 3 is
    // nowhere -> fusion must put {1, 2} (tied consensus, lower id first)
    // ahead of everything else
    val docs = Seq(
      (1L, "spark spark spark query"),
      (2L, "spark query other words"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Seq(0.8, 0.6, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))).toDF("doc_id", "v")
    val textList = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("spark"), 2)
    val annList = SimilaritySearch.bruteForceTopK(vecs, "v", "doc_id",
      Seq(1.0, 0.0, 0.0), 2)
    val fused = Retrieval.rrfFuse(
        Seq((textList, Seq("score" -> false)), (annList, Seq("cosine" -> false))),
        "doc_id", topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fused.map(_._1).take(2).toSet == Set(1L, 2L))
    assert(fused.head._1 == 1L, "equal consensus must tie-break to the lower id")
    assert(!fused.map(_._1).contains(3L) || fused.map(_._1).indexOf(3L) == 2)
    // batch mode: two queries, per-query windows + per-query top-k
    val qa = Seq((10L, 1L, 0.9), (10L, 2L, 0.8), (20L, 2L, 0.9), (20L, 3L, 0.8))
      .toDF("qid", "id", "s")
    val qb = Seq((10L, 2L, 0.9), (10L, 1L, 0.8), (20L, 3L, 0.9), (20L, 2L, 0.8))
      .toDF("qid", "id", "s")
    val batch = Retrieval.rrfFuse(Seq((qa, Seq("s" -> false)), (qb, Seq("s" -> false))),
        "id", topK = 1, k0 = 60, queryCol = Some("qid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rr(n: Int) = 1.0 / (60 + n)
    // per query both items score r(1)+r(2) — ties to the LOWER id
    assert(batch == Map(10L -> 1L, 20L -> 2L))
  }

  test("rrfFuse: the list bound is structural — ranks past maxListSize contribute zero") {
    // item 99 sits at rank 6 in list A (past the trim) and rank 1 in list B:
    // its fused score must be r(1) alone, as if list A never mentioned it
    val a = (1L to 5L).map(i => (i, 100.0 - i)).toDF("id", "sa")
      .union(Seq((99L, 1.0)).toDF("id", "sa"))
    val b = Seq((99L, 9.0), (1L, 8.0)).toDF("id", "sb")
    val out = Retrieval.rrfFuse(
        Seq((a, Seq("sa" -> false)), (b, Seq("sb" -> false))),
        "id", topK = 5, k0 = 60, maxListSize = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r(n: Int) = 1.0 / (60 + n)
    assert(out(99L) == r(1))                  // list-A rank 6 trimmed away
    assert(out(1L) == r(1) + r(2))
    // batch mode trims per query, not globally
    val qa = Seq((10L, 1L, 0.9), (10L, 2L, 0.8), (20L, 3L, 0.9), (20L, 4L, 0.8))
      .toDF("qid", "id", "s")
    val batch = Retrieval.rrfFuse(Seq((qa, Seq("s" -> false))),
        "id", topK = 1, queryCol = Some("qid"), maxListSize = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == Map(10L -> 1L, 20L -> 3L))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(
      Seq((b, Seq("sb" -> false))), "id", topK = 5, maxListSize = 4))
  }

  test("persisted text index: reloaded BM25 ranks BIT-identically to the from-corpus pass") {
    val path = tempDir().resolve("textindex").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val idx = Retrieval.loadTextIndex(spark, path)
    assert(idx.nDocs === 4L && idx.sumDl === 16L && idx.nBuckets === 8)
    val terms = Seq("spark", "rare", "query")
    val direct = Retrieval.bm25Scores(corpus, "doc_id", "text", terms)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val loaded = Retrieval.bm25ScoresFromIndex(idx, terms)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(loaded === direct, "every score must round-trip bit-exactly")
    val topDirect = Retrieval.bm25TopK(corpus, "doc_id", "text", terms, topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val topLoaded = Retrieval.bm25TopKFromIndex(idx, terms, topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(topLoaded === topDirect)
    // a query term absent from the corpus: df=0 idf falls back, scores stay 0
    val ghost = Retrieval.bm25ScoresFromIndex(idx, Seq("zzzghost"))
      .collect().map(_.getDouble(2))
    assert(ghost.forall(_ === 0.0))
  }

  test("appendToTextIndex: appended index ranks BIT-identically to a full rebuild") {
    val path = tempDir().resolve("textindex_app").toString
    val extra = Seq(
      (5L, "spark words appear here"),
      (6L, "fresh vocabulary entirely novel")).toDF("doc_id", "text")
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    Retrieval.appendToTextIndex(extra, "doc_id", "text", path)
    val appended = Retrieval.loadTextIndex(spark, path)
    assert(appended.nDocs === 6L && appended.sumDl === 24L && appended.nBuckets === 8)
    val full = tempDir().resolve("textindex_full").toString
    Retrieval.saveTextIndex(corpus.unionByName(extra), "doc_id", "text", full, nBuckets = 8)
    val rebuilt = Retrieval.loadTextIndex(spark, full)
    val terms = Seq("spark", "rare", "novel", "words")
    def scores(ix: Retrieval.TextIndex) =
      Retrieval.bm25ScoresFromIndex(ix, terms).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(scores(appended) === scores(rebuilt),
      "append must be invisible vs full rebuild — exact integer stats")
    // terms table merged exactly: old term df grew, new-vocab term present
    val df = appended.terms.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("spark") === 3L && df("novel") === 1L)
  }

  test("appendToTextIndex: a non-deterministic batch commits ONE consistent evaluation") {
    import org.apache.spark.sql.functions._
    val path = tempDir().resolve("textindex_nondet").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    // rand() is UNSEEDED on purpose: every re-evaluation of this plan picks
    // a different subset, so doclens/postings/terms/meta written from
    // separate evaluations would be mutually inconsistent — the staged
    // localCheckpoint must pin one evaluation for the whole generation
    val extra = spark.range(100, 160).toDF("doc_id")
      .filter(rand() < 0.5)
      .withColumn("text", concat(lit("tok"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(" shared words")))
    Retrieval.appendToTextIndex(extra, "doc_id", "text", path)
    val idx = Retrieval.loadTextIndex(spark, path)
    val nNew = idx.doclens.count() - 4
    assert(idx.nDocs === 4 + nNew, "meta n_docs must match the committed doclens")
    val sdl = idx.doclens.agg(sum(col("dl"))).as[Long].collect().head
    assert(idx.sumDl === sdl, "meta sum_dl must match the committed doclens")
    // postings agree with doclens doc-for-doc (Σtf per doc == dl)
    val mismatch = idx.postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("ptf"))
      .join(idx.doclens, Seq("doc_id"), "full_outer")
      .filter(coalesce(col("ptf"), lit(-1L)) =!= coalesce(col("dl"), lit(-2L)))
      .count()
    assert(mismatch === 0L, "postings and doclens must come from one evaluation")
    // every appended doc contains "shared": its df must equal the doc count
    val df = idx.terms.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("shared") === nNew, "terms df must match the committed postings")
  }

  test("torn append is invisible: readers see the old index; a retry commits cleanly") {
    import org.apache.spark.sql.functions.lit
    val path = tempDir().resolve("textindex_torn").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val before = Retrieval.bm25ScoresFromIndex(
        Retrieval.loadTextIndex(spark, path), Seq("spark"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // simulate a crash mid-append: postings/doclens rows of generation 1
    // landed but the meta_g1 commit never did
    val extra = Seq((5L, "spark spark torn append")).toDF("doc_id", "text")
    extra.select($"doc_id", lit(4L).as("dl"), lit(1).as("gen"))
      .write.mode("append").partitionBy("gen").parquet(s"$path/doclens")
    Seq(("spark", 5L, 2L, 1)).toDF("term", "doc_id", "tf", "gen")
      .withColumn("term_bucket",
        graft.functions.TextFunctions.hashBucket($"term", 8))
      .write.mode("append").partitionBy("gen", "term_bucket")
      .parquet(s"$path/postings")
    // the torn generation must be invisible to readers
    val torn = Retrieval.loadTextIndex(spark, path)
    assert(torn.nDocs === 4L, "uncommitted generation leaked into meta")
    val after = Retrieval.bm25ScoresFromIndex(torn, Seq("spark"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(after === before, "uncommitted postings/doclens leaked into scoring")
    // the retry must succeed (no clash against orphans) on a FRESH generation
    // and rank identically to a full rebuild
    Retrieval.appendToTextIndex(extra, "doc_id", "text", path)
    val retried = Retrieval.loadTextIndex(spark, path)
    assert(retried.nDocs === 5L)
    val full = tempDir().resolve("textindex_torn_full").toString
    Retrieval.saveTextIndex(corpus.unionByName(extra), "doc_id", "text", full, nBuckets = 8)
    def scores(ix: Retrieval.TextIndex) =
      Retrieval.bm25ScoresFromIndex(ix, Seq("spark", "torn")).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(scores(retried) === scores(Retrieval.loadTextIndex(spark, full)),
      "retried append must be invisible vs full rebuild despite the orphans")
  }

  test("vacuumTextIndex reclaims orphans and superseded generations; scores bit-identical") {
    import org.apache.spark.sql.functions.lit
    val path = tempDir().resolve("textindex_vac").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    Retrieval.appendToTextIndex(
      Seq((5L, "spark appended here")).toDF("doc_id", "text"), "doc_id", "text", path)
    // a torn append's orphan: gen=7 data, no meta_g7
    Seq((66L, 3L)).toDF("doc_id", "dl").withColumn("gen", lit(7))
      .write.mode("append").partitionBy("gen").parquet(s"$path/doclens")
    val before = Retrieval.bm25ScoresFromIndex(
        Retrieval.loadTextIndex(spark, path), Seq("spark"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val removed = Retrieval.vacuumTextIndex(spark, path)
    // the orphan gen=7 dir, the superseded terms_g0/meta_g0 — at least 3
    assert(removed >= 3, s"expected orphan+superseded dirs removed, got $removed")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/doclens/gen=7")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/meta_g0")))
    val after = Retrieval.bm25ScoresFromIndex(
        Retrieval.loadTextIndex(spark, path), Seq("spark"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(after === before, "vacuum must not change any score")
    // the index keeps working: another append commits cleanly
    Retrieval.appendToTextIndex(
      Seq((6L, "post vacuum doc")).toDF("doc_id", "text"), "doc_id", "text", path)
    assert(Retrieval.loadTextIndex(spark, path).nDocs === 6L)
  }

  test("a bad saveTextIndex call must not destroy the existing committed index") {
    val path = tempDir().resolve("textindex_guard").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    intercept[org.apache.spark.sql.AnalysisException] {
      Retrieval.saveTextIndex(corpus, "doc_idd_typo", "text", path, nBuckets = 8)
    }
    // the analysis error fired BEFORE the path was cleared
    assert(Retrieval.loadTextIndex(spark, path).nDocs === 4L)
  }

  test("a re-save whose input fails at run time leaves the committed index intact") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val path = tempDir().resolve("textindex_resave").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val terms = Seq("spark", "rare", "query")
    def scores() = Retrieval.bm25ScoresFromIndex(Retrieval.loadTextIndex(spark, path), terms)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = scores()
    // the one bad row raises in a task (checkpointed rows: the optimizer
    // cannot fold the expression over a local relation at plan time)
    val failing = corpus.localCheckpoint().withColumn("text",
      when($"doc_id" === 3L, raise_error(lit("corrupt doc"))).otherwise($"text"))
    intercept[Exception](
      Retrieval.saveTextIndex(failing, "doc_id", "text", path, nBuckets = 8))
    val idx = Retrieval.loadTextIndex(spark, path)
    assert(idx.nDocs === 4L && idx.sumDl === 16L && idx.doclens.count() === 4L)
    assert(scores() === before, "the old index must still search as before")
  }

  test("text-index vacuum and a second appender refuse while the writer lease is held") {
    val path = tempDir().resolve("textindex_lease").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val tok = GenCommit.acquireLease(spark, path)
    val extra = Seq((7L, "late arriving words")).toDF("doc_id", "text")
    assert(intercept[IllegalStateException](
      Retrieval.vacuumTextIndex(spark, path)).getMessage.contains("lease"))
    assert(intercept[IllegalStateException](
      Retrieval.appendToTextIndex(extra, "doc_id", "text", path))
      .getMessage.contains("lease"))
    GenCommit.releaseLease(spark, path, tok)
    Retrieval.appendToTextIndex(extra, "doc_id", "text", path)
    assert(Retrieval.loadTextIndex(spark, path).nDocs === 5L)
    Retrieval.vacuumTextIndex(spark, path)
  }

  test("appendToTextIndex contracts: missing index, overlapping ids are loud") {
    val path = tempDir().resolve("textindex_bad").toString
    intercept[IllegalArgumentException] {
      Retrieval.appendToTextIndex(corpus, "doc_id", "text", path)
    }
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val clash = intercept[IllegalArgumentException] {
      Retrieval.appendToTextIndex(corpus.limit(1), "doc_id", "text", path)
    }
    assert(clash.getMessage.contains("already indexed"))
    // the failed append must not have changed meta
    assert(Retrieval.loadTextIndex(spark, path).nDocs === 4L)
  }

  test("persisted text index: bucket literal matches hashBucket; empty index is loud") {
    import graft.functions.TextFunctions
    val path = tempDir().resolve("textindex2").toString
    Retrieval.saveTextIndex(corpus, "doc_id", "text", path, nBuckets = 8)
    val idx = Retrieval.loadTextIndex(spark, path)
    // the driver-side literal bucket must agree with the column expression,
    // or the pruned postings read silently misses every row
    val viaCol = Seq("spark", "rare", "query", "words").toDF("t")
      .select($"t", TextFunctions.hashBucket($"t", 8).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaCol.foreach { case (t, b) =>
      assert(Retrieval.bucketOfLiteral(t, 8) === b, s"bucket mismatch for '$t'")
    }
    // postings rows for a term live ONLY under its bucket
    val sparkRows = idx.postings.filter($"term" === "spark")
      .select($"term_bucket".cast("long")).distinct().collect().map(_.getLong(0)).toSeq
    assert(sparkRows === Seq(Retrieval.bucketOfLiteral("spark", 8)))
    intercept[IllegalArgumentException] {
      Retrieval.loadTextIndex(spark, tempDir().resolve("nowhere").toString)
    }
  }
}
