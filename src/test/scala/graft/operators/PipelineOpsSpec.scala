package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ── text functions ──────────────────────────────────────────────────────────

  test("tokens / shingles / fingerprint semantics") {
    val df = Seq(("  The  quick brown fox  ", 1L)).toDF("text", "id")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.wordShingles(col("text"), 3).as("sh3"),
      TextFunctions.charShingles(col("text"), 4).as("c4"),
      TextFunctions.fingerprintMd5(col("text")).as("fp")).head()
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getSeq[String](r.fieldIndex("sh3")).toSeq == Seq("the quick brown", "quick brown fox"))
    assert(r.getSeq[String](r.fieldIndex("c4")).take(2).toSeq == Seq("the ", "he q"))
    // whitespace-normalization invariance
    val fp2 = Seq("the quick  brown   fox").toDF("text")
      .select(TextFunctions.fingerprintMd5(col("text"))).head().getString(0)
    assert(r.getAs[String]("fp") == fp2)
  }

  test("wordShingles shorter than n collapses to one joined shingle") {
    val r = Seq("one two").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 3)).head().getSeq[String](0)
    assert(r == Seq("one two"))
  }

  test("rollingTokenHash is order-sensitive; langId flags stopword-dense text") {
    val h = Seq("a b c", "c b a").toDF("text")
      .select(TextFunctions.rollingTokenHash(col("text"))).collect().map(_.getLong(0))
    assert(h(0) != h(1))
    val langs = Seq("the cat sat on the mat and it was good",
      "zzz qqq www rrr ttt yyy uuu iii ooo ppp")
      .toDF("text").select(TextFunctions.langIdEn(col("text"))).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "unknown"))
  }

  test("langIdMulti picks the dominant stopword profile; ties break in profile order") {
    val out = Seq(
      "the cat and the dog was in for that with",       // en
      "der hund und die katze ist nicht mit ein auf",   // de
      "le chat et les chiens est je ne pas dans une",   // fr
      "el gato y los perros es no que para con por",    // es
      "zzz qqq www")                                    // no hits -> first profile
      .toDF("text")
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .select(TextFunctions.langIdMulti(col("toks"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "fr", "es", "en"))
  }

  test("hashedFeatureScore is an order-independent LONG sum of per-token weights") {
    val Seq(a, b) = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
      .select(TextFunctions.hashedFeatureScore(TextFunctions.tokens(col("text"))))
      .collect().map(_.getLong(0)).toSeq
    assert(a == b) // permutation-invariant
    // weight bounds: |w| <= 500 per token, 3 tokens
    assert(math.abs(a) <= 1500)
    // repeated token doubles its contribution
    val Seq(one, two) = Seq("solo", "solo solo").toDF("text")
      .select(TextFunctions.hashedFeatureScore(TextFunctions.tokens(col("text"))))
      .collect().map(_.getLong(0)).toSeq
    assert(two == 2 * one)
  }

  test("maxRunLength / repetition signals: sorted-run fold equals true max frequency") {
    val r = Seq("a b a b a b c").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .select(col("toks"), TextFunctions.wordShinglesOf(col("toks"), 2).as("bg"))
      .select(
        TextFunctions.maxRunLength(array_sort(col("toks"))).as("mr"),
        TextFunctions.distinctTokenFraction(col("toks")).as("dtf"),
        TextFunctions.topGramFraction(col("bg")).as("tbf")).head()
    assert(r.getAs[Long]("mr") == 3L)                  // "a" occurs 3 times
    assert(r.getAs[Double]("dtf") == 3.0 / 7.0)        // {a,b,c} of 7 tokens
    assert(r.getAs[Double]("tbf") == 3.0 / 6.0)        // "a b" and "b a" tie at 3 of 6
    // degenerate: single-token doc → one unigram "shingle", fraction 1.0
    val one = Seq("solo").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("toks"))
      .select(TextFunctions.topGramFraction(
        TextFunctions.wordShinglesOf(col("toks"), 2)).as("tbf")).head()
    assert(one.getAs[Double]("tbf") == 1.0)
    // empty array → 0 (no runs), not null/crash
    val empty = Seq(Seq.empty[String]).toDF("arr")
      .select(TextFunctions.maxRunLength(col("arr"))).head().getLong(0)
    assert(empty == 0L)
  }

  test("TfIdf.topTerms: rare terms outrank frequent ones, lexical tiebreak, k bound") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    val out = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    // doc1: apple 2·(4/2)=4.0 > banana 1·(4/3); doc3: cherry 3·(4/3)=4.0 > date 1·(4/2)=2.0
    assert(out.filter(_._1 == 1L).map(_._3).toSeq == Seq("apple", "banana"))
    assert(out.filter(_._1 == 3L).map(t => (t._3, t._4)).toSeq
      == Seq(("cherry", 4.0), ("date", 2.0)))
    // doc2 has two terms with EQUAL score (both tf 1, df 2) → lexical order
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("banana", "cherry"))
    assert(out.forall(_._2 <= 2L))
  }

  // ── sampling ────────────────────────────────────────────────────────────────

  test("trimByValueQuantile: value-based cut points, ties survive together") {
    // 20 rows of value 1..20 → lo cut at ceil(0.05*20)=1st row (v=1),
    // hi cut at ceil(0.95*20)=19th row (v=19): keep 1..19
    val df = (1 to 20).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val kept = Sampling.trimByValueQuantile(df, "v")
      .select("v").as[Long].collect().sorted
    assert(kept.toSeq == (1L to 19L))
    // tie block straddling the cut: all 5 copies of the boundary value kept
    val ties = (Seq.fill(5)(10L) ++ (1L to 15L)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val keptTies = Sampling.trimByValueQuantile(ties, "v", lo = 0.0, hi = 0.5)
      .select("v").as[Long].collect()
    // hi cut = ceil(0.5*20)=10th row by value order → lands inside the 10-tie
    // block; value-based semantics keep every 10
    assert(keptTies.count(_ == 10L) == 6)              // 5 dups + the 10 from 1..15
    assert(keptTies.forall(_ <= 10L))
  }

  test("stratifiedFraction: ceil(frac·group) per group, rare groups never erased") {
    val df = ((1 to 40).map(i => (i.toLong, "big")) ++ Seq((100L, "tiny")))
      .toDF("id", "grp")
    val out = Sampling.stratifiedFraction(df, "grp", "id", frac = 0.25)
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(out == Map("big" -> 10L, "tiny" -> 1L))  // ceil(0.25·40)=10, ceil(0.25·1)=1
    // frac=1.0 keeps everything; subset of the kept-at-0.25 ids is stable
    assert(Sampling.stratifiedFraction(df, "grp", "id", 1.0).count() == 41L)
    val k25 = Sampling.stratifiedFraction(df, "grp", "id", 0.25)
      .select("id").as[Long].collect().toSet
    val k50 = Sampling.stratifiedFraction(df, "grp", "id", 0.5)
      .select("id").as[Long].collect().toSet
    assert(k25.subsetOf(k50), "md5 order makes smaller fractions nest inside larger ones")
  }

  test("stratifiedLimit: caps each group at m, deterministic across runs") {
    val df = (1 to 60).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp")
    val out = Sampling.stratifiedLimit(df, "grp", "id", m = 7)
    val sizes = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(sizes == Map("g0" -> 7L, "g1" -> 7L, "g2" -> 7L))
    val ids1 = out.select("id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.stratifiedLimit(df, "grp", "id", m = 7)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // m >= group size keeps everything
    assert(Sampling.stratifiedLimit(df, "grp", "id", m = 100).count() == 60L)
  }

  test("diversitySample: per-cell cap holds under density skew, rare regions survive whole") {
    // two centroids on orthogonal axes; 50 vectors crowd centroid 0's region,
    // 3 sit in centroid 1's — density flattening must cap the crowd at
    // perCell while keeping ALL of the rare region
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = (1L to 50L).map(i => (i, Seq(1.0, 0.01 * i))) ++
      (101L to 103L).map(i => (i, Seq(0.02, 1.0)))
    val df = rows.toDF("vec_id", "v")
    val out = Sampling.diversitySample(df, "v", "vec_id", cents, perCell = 5)
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    val byCell = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCell(0).size == 5, "hot region capped at perCell")
    assert(byCell(1) == Set(101L, 102L, 103L), "rare region survives whole")
    // deterministic across runs
    val again = Sampling.diversitySample(df, "v", "vec_id", cents, perCell = 5)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(again == out.map(_._1).sorted.toSeq)
    // reserved output column is loud
    intercept[IllegalArgumentException](Sampling.diversitySample(
      df.withColumn("cell", lit(1)), "v", "vec_id", cents, 5))
  }

  // ── dedup ───────────────────────────────────────────────────────────────────

  test("exact dedup groups by digest, keeps min id as canonical") {
    val docs = Seq((1L, "same text"), (5L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = DedupSuite.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash LSH finds near-identical docs, not unrelated ones") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),
      (2L, base + " nu"),                                   // near-dup of 1
      (3L, "totally different words here nothing shared at all in this document"))
      .toDF("doc_id", "text")
    val pairs = DedupSuite.minHashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalDedup drops corpus matches, self-dedups the rest, keeps fresh docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val existing = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                          // dup of corpus doc 1 → dropped
      (20L, "fresh words entirely new content never indexed before today ok fine"),
      (21L, "fresh words entirely new content never indexed before today ok fine"),
      (30L, "unrelated survivor document with its own distinct vocabulary here"))
      .toDF("doc_id", "text")
    val out = DedupSuite.incrementalDedup(existing, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 10 collides with the index; 20/21 are within-batch dups → canonical 20
    assert(out == Seq(20L, 30L))
    // empty corpus: pure within-batch dedup
    val emptyEx = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out2 = DedupSuite.incrementalDedup(emptyEx, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(10L, 20L, 30L))
  }

  test("simhash pairs: identical docs at hamming 0, unrelated docs excluded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base),
      (3L, "completely unrelated vocabulary nothing in common whatsoever okay"))
      .toDF("doc_id", "text")
    val pairs = DedupSuite.simHashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L) ||
      pairs.filter(p => p._1._1 == 3L || p._1._2 == 3L).forall(_._2 <= 3L))
  }

  test("first-band emission: identical docs collide in every band yet yield one row per pair") {
    // Identical texts share ALL bands/blocks, so without first-match suppression
    // (or a distinct()) each pair would surface once per band.
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, txt), (2L, txt), (3L, txt)).toDF("doc_id", "text")
    val mh = DedupSuite.minHashLshPairs(docs, "doc_id", "text").collect()
    assert(mh.length == 3) // (1,2) (1,3) (2,3), exactly once each
    val sh = DedupSuite.simHashPairs(docs, "doc_id", "text").collect()
    assert(sh.length == 3 && sh.forall(_.getLong(2) == 0L))
  }

  test("ngram jaccard: exact inter/union arithmetic within blocks") {
    val docs = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c e", "s1"),  // inter 3, union 5 → 0.6
      (3L, "a b c d", "s2"))                          // other block — never compared
      .toDF("doc_id", "text", "source")
    val pairs = DedupSuite.ngramJaccardPairs(docs, "doc_id", "text", "source",
      n = 1, threshold = 0.5).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert((p.getLong(0), p.getLong(1)) == (1L, 2L))
    assert(p.getAs[Long]("inter") == 3L && p.getAs[Double]("jaccard") == 0.6)
  }

  // ── similarity ──────────────────────────────────────────────────────────────

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val top = SimilaritySearch.bruteForceTopK(vecs, "embedding", "vec_id",
      Seq(1.0, 0.0), 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(1) == 1.0)
  }

  test("embeddingNearDupPairs compares only within blocks") {
    val vecs = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0.01f), 0), (3L, Array(1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val pairs = SimilaritySearch.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      "label", 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 3 is in another block despite identical vector
  }

  test("signLshBucket is deterministic and separates opposite vectors") {
    val vecs = Seq((1L, Array(1f, 1f)), (2L, Array(-1f, -1f))).toDF("vec_id", "embedding")
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val b = vecs.select(col("vec_id"),
      SimilaritySearch.signLshBucket(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(1L) == "11" && b(2L) == "00")
  }

  test("embeddingNearDupPairsLsh: same-bucket pairs scored, cross-bucket pairs never compared") {
    val vecs = Seq(
      (1L, Array(1f, 0.1f)), (2L, Array(1f, 0.11f)),   // same direction → same bucket
      (3L, Array(-1f, -0.1f)))                         // opposite → other bucket
      .toDF("vec_id", "embedding")
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val pairs = SimilaritySearch.embeddingNearDupPairsLsh(vecs, "embedding", "vec_id",
      planes, threshold = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,3) has cosine ≈ -1 (excluded by threshold AND bucket); (1,2) survives.
    assert(pairs == Set((1L, 2L)))
  }

  test("deterministicPlanes: same seed → identical planes") {
    assert(SimilaritySearch.deterministicPlanes(3, 8) ==
      SimilaritySearch.deterministicPlanes(3, 8))
  }

  test("vector functions: exact doubles on known values") {
    val df = Seq((Array(3f, 4f), Array(4f, 3f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"),
      VectorFunctions.normSq(col("a")).as("n"),
      VectorFunctions.l2Sq(col("a"), col("b")).as("l")).head()
    assert(r.getDouble(0) == 24.0 && r.getDouble(1) == 25.0 && r.getDouble(2) == 2.0)
  }

  test("BPE pre-tokenizer: contractions, space-prefixed runs, digit and punct runs") {
    val df = Seq((1L, "I've 2 cats!"), (2L, "don't stop"), (3L, "")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextFunctions.bpeTokens(col("text")).as("t"),
      TextFunctions.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getLong(2)))).toMap
    assert(out(1L)._1 == Seq("I", "'ve", " 2", " cats", "!"))
    assert(out(1L)._2 == 5L)
    assert(out(2L)._1 == Seq("don", "'t", " stop"))
    assert(out(3L)._2 == 0L)
  }

  test("hash split: deterministic, duplicate texts share a split, thresholds validated") {
    val docs = Seq((1L, "same doc"), (2L, "same doc"), (3L, "  SAME   DOC "), (4L, "other"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      TextFunctions.splitAssign(TextFunctions.fingerprintMd5(col("text")), 100, 80, 90).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // identical (and whitespace/case-variant) content always lands together
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(Set("train", "val", "test").contains(out(4L)))
    // rerun is bit-identical (no seed, no order dependence)
    val again = docs.select(col("doc_id"),
      TextFunctions.splitAssign(TextFunctions.fingerprintMd5(col("text")), 100, 80, 90).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
    intercept[IllegalArgumentException](TextFunctions.splitAssign(col("text"), 100, 90, 80))
  }

  test("IVF: trained centroids separate clusters; nprobe=1 prunes, nprobe=k equals brute force") {
    // two well-separated clusters around (1,0) and (0,1)
    val rows = (0 until 10).map(i => (i.toLong, Array(1f, 0.01f * i))) ++
      (10 until 20).map(i => (i.toLong, Array(0.01f * (i - 10), 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val centroids = SimilaritySearch.kmeansCentroids(df, "embedding", "vec_id", k = 2, iters = 3)
    assert(centroids.size == 2)
    // the two learned centroids point into different clusters
    assert((centroids(0)(0) > centroids(0)(1)) != (centroids(1)(0) > centroids(1)(1)))
    val q = Seq(1.0, 0.05)
    val probed1 = SimilaritySearch.ivfTopK(df, "embedding", "vec_id", centroids, q,
      nprobe = 1, k = 5).collect().map(_.getLong(0)).toSeq
    assert(probed1.forall(_ < 10L)) // pruned to the (1,0)-cluster list only
    val full = SimilaritySearch.ivfTopK(df, "embedding", "vec_id", centroids, q,
      nprobe = 2, k = 5).collect().map(_.getLong(0)).toSeq
    val brute = SimilaritySearch.bruteForceTopK(df, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute) // probing every list loses nothing
  }

  test("IVF recall: 1.0 at nprobe=k, non-decreasing in nprobe") {
    // four separated direction clusters in 4-d; query near cluster 0
    val rows = (0 until 40).map { i =>
      val c = i % 4
      val v = Array.fill(4)(0.02f * (i / 4))
      v(c) = 1f
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val k = 4
    val centroids = SimilaritySearch.kmeansCentroids(df, "embedding", "vec_id", k, iters = 3)
    val topK = 12 // spans clusters, so low nprobe must lose recall
    val q = Seq(1.0, 0.3, 0.1, 0.05)
    val exact = SimilaritySearch.bruteForceTopK(df, "embedding", "vec_id", q, topK)
      .collect().map(_.getLong(0)).toSet
    val assigned = SimilaritySearch.assignCells(df, "embedding", centroids)
    val recalls = (1 to k).map { nprobe =>
      val got = SimilaritySearch.ivfTopK(df, "embedding", "vec_id", centroids, q, nprobe, topK)
        .collect().map(_.getLong(0)).toSeq
      // pre-assigned search (the production index shape) ≡ on-the-fly ivfTopK
      val gotAssigned = SimilaritySearch.ivfTopKAssigned(assigned, "embedding",
        "vec_id", "ivf_cell", centroids, q, nprobe, topK)
        .collect().map(_.getLong(0)).toSeq
      assert(gotAssigned == got, s"nprobe=$nprobe assigned path diverged")
      got.toSet.intersect(exact).size.toDouble / topK
    }
    assert(recalls.last == 1.0) // the q65 identity
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b }) // nested probe sets
    assert(recalls.head < 1.0)  // the trade is real: one list cannot hold all of top-12

    // an exact cosine tie between two cells goes to the higher index on every
    // probe path: (1,1) is equidistant from (1,0) and (0,1); row 3 sits on
    // the tie and is assigned to the higher cell, so nprobe=1 must probe cell 1
    val pq = ProductQuantization
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val tq = Seq(1.0, 1.0)
    val tdf = Seq((1L, Seq(1.0, 0.1)), (2L, Seq(0.1, 1.0)), (3L, Seq(1.0, 1.0)))
      .toDF("id", "v")
    val tied = SimilaritySearch.assignCells(tdf, "v", cents, "cell")
    def ids(out: org.apache.spark.sql.DataFrame) = out.select($"id").as[Long].collect().toSet
    assert(ids(SimilaritySearch.ivfTopK(tdf, "v", "id", cents, tq, 1, 10)) == Set(2L, 3L))
    assert(ids(SimilaritySearch.ivfTopKAssigned(tied, "v", "id", "cell", cents, tq, 1, 10))
      == Set(2L, 3L))
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0, 0.0)))
    val plain = pq.encode(tied, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m = 1, ksub = 1).as("packed"), $"cell")
    assert(ids(pq.ivfPqTopK(plain, "packed", "id", "cell", cents, cb, tq, 1, 10)) == Set(2L, 3L))
    val residual = pq.encodeResidual(tied, "v", "cell", cents, cb)
      .select($"id", pq.packCodes($"pq_codes", m = 1, ksub = 1).as("packed"), $"cell")
    assert(ids(pq.ivfPqResidualTopK(residual, "packed", "id", "cell", cents, cb, tq, 1, 10))
      == Set(2L, 3L))
    // knnGraphSdc's cell adjacency: with (1,1) as cell 0's centroid, its one
    // probe beyond its own cell ties between cells 1 and 2 and takes cell 2
    val cents3 = Seq(Seq(1.0, 1.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df3 = Seq((1L, Seq(1.0, 0.05)), (2L, Seq(0.05, 1.0)), (3L, Seq(1.0, 1.0)),
      (4L, Seq(1.1, 1.0))).toDF("id", "v")
    val enc3 = pq.encode(SimilaritySearch.assignCells(df3, "v", cents3, "cell"), "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m = 1, ksub = 1).as("packed"), $"cell")
    val graph = pq.knnGraphSdc(enc3.filter($"id" === 3L), enc3, "id", "packed", "cell",
      cents3, cb, nprobe = 2, k = 10)
    assert(ids(graph) == Set(2L, 4L))
  }

  test("connected components: chains, stars, disjoint clusters resolve to min-id labels") {
    import graft.operators.DedupSuite
    // chain 1-2-3-4 (propagation must cross hops), star 10-{11,12}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find regime (default threshold)
    val comp = DedupSuite.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == expected)
    // distributed label-propagation regime (threshold forced to 0)
    val dist = DedupSuite.connectedComponents(pairs, maxDriverEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("canonicalByCluster keeps cluster minima plus untouched singletons") {
    import graft.operators.DedupSuite
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "a''"), (7L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DedupSuite.canonicalByCluster(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 7L)) // one canonical per cluster + the singleton
  }

  test("CurationPipeline: quality and language gates filter, near-dups collapse to canonicals") {
    import graft.operators.CurationPipeline
    val good = "the cat sat on the mat and then the dog sat on the mat too it was quite a day for sitting"
    val docs = Seq(
      (1L, good),                        // survives
      (2L, good + " !"),                 // near-dup of 1 → collapsed into it
      (3L, "!!!???...;;;:::!!!"),         // fails the quality gate (pure punctuation)
      (4L, "zzz qqq www rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff ggg hhh jjj kkk lll")) // no stopwords → not en
    val kept = CurationPipeline.curate(docs.toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L))
    val rep = CurationPipeline.report(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("input" -> 4L, "quality_gate" -> 3L,
      "language_filter" -> 2L, "near_dup_canonical" -> 1L))
  }

  test("curate lmFilter hook: the CCNet OOV gate drops novel-transition docs before dedup") {
    import graft.operators.CurationPipeline
    val trusted = "the cat sat on the mat and the dog sat on the mat for it was the day"
    val docs = Seq(
      (1L, trusted),                                                   // in-domain
      (2L, "the mat sat for it and on the dog the cat was day on the"),// scrambled: novel transitions
      (3L, "the")).toDF("doc_id", "text")                              // 1 token: no bigrams → passes
    val lm = NgramLm.bigramCounts(Seq((9L, trusted)).toDF("doc_id", "text"), "text")
    val kept = CurationPipeline.curate(docs, minQuality = 0.0,
        lmFilter = Some(CurationPipeline.LmFilter(lm, minCount = 1L, maxOovRate = 0.3)))
      .collect().map(_.getLong(0)).sorted.toSeq
    // doc 2 fails the language gate? no — same stopwords; it fails the LM
    // gate (most of its transitions are unseen in the trusted table)
    assert(kept === Seq(1L, 3L))
    // without the hook, doc 2 survives — the gate, not another stage, drops it
    val noGate = CurationPipeline.curate(docs, minQuality = 0.0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(noGate === Seq(1L, 2L, 3L))
  }

  test("LM gate configs reject a negative threshold; zero is allowed") {
    import graft.operators.CurationPipeline.{KnFilter, LmFilter}
    val counts = Seq((1L, "the cat")).toDF("doc_id", "text")
    val lm = intercept[IllegalArgumentException](LmFilter(counts, maxOovRate = -0.1))
    assert(lm.getMessage.contains("maxOovRate"))
    val kn = intercept[IllegalArgumentException](KnFilter(counts, maxAvgBits = -1.0))
    assert(kn.getMessage.contains("maxAvgBits"))
    assert(LmFilter(counts, maxOovRate = 0.0).maxOovRate == 0.0)
    assert(KnFilter(counts, maxAvgBits = 0.0).maxAvgBits == 0.0)
  }

  test("curateForTraining diversity hook: per-cell cap flattens embedding density") {
    import graft.operators.CurationPipeline
    // 12 docs that all pass the gates yet share NO 3-shingle (per-doc word
    // vocabulary) — the dedup stage must keep all of them, so the diversity
    // cap is the only stage that drops anything
    val docs = (1L to 12L).map { i =>
      val own = ('a' to 'l').map(c => s"w$i$c").mkString(" ")
      (i, s"the $own is fine")
    }.toDF("doc_id", "text")
    // two tight embedding clusters: ids 1-9 near (1,0), ids 10-12 near (0,1)
    val emb = (1L to 12L).map { i =>
      val v = if (i <= 9L) Seq(1.0, 0.001 * i) else Seq(0.001 * i, 1.0)
      (i, v)
    }.toDF("doc_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = tempDir().resolve("curdiv").toString
    val chunks = CurationPipeline.curateForTraining(
      docs, docs.filter($"doc_id" > 100L), out, minQuality = 0.0,
      chunkSize = 64, stride = 48, numShards = 2,
      diversity = Some(CurationPipeline.DiversitySpec(emb, "embedding",
        centroids, perCell = 3)))
    val keptIds = chunks.select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keptIds.size === 6, s"3 per cell × 2 cells, got $keptIds")
    assert(keptIds.count(_ <= 9L) === 3, "dense cluster capped at perCell")
    assert(keptIds.count(_ >= 10L) === 3, "sparse cluster keeps its 3")
  }

  test("sequence packing: greedy budget bins per shard, oversized doc gets its own pack") {
    import graft.operators.SequencePacking
    // single shard → fully deterministic order by id
    val docs = Seq((1L, 100L), (2L, 150L), (3L, 60L), (4L, 500L), (5L, 10L))
      .toDF("doc_id", "n_tokens")
    val out = SequencePacking.packSequences(docs, "doc_id", "n_tokens",
      budget = 300L, nShards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // 100+150 = 250 fits; +60 → 310 > 300 → new pack; 60+500 overflows → 500 alone;
    // 500+10 overflows → 10 starts pack 3
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("packTokenIds: real ids concatenate in id order with separators, budget on content tokens") {
    import graft.operators.SequencePacking
    val docs = Seq(
      (1L, Seq(10, 11, 12)),      // 3 tokens
      (2L, Seq(20, 21)),          // +2 = 5 <= 6 → same pack
      (3L, Seq(30, 31, 32, 33)),  // 5+4 > 6 → pack 1
      (4L, Seq(40, 41, 42, 43, 44, 45, 46, 47))) // oversized → pack 2 alone
      .toDF("doc_id", "token_ids")
    val out = SequencePacking.packTokenIds(docs, "doc_id", "token_ids",
      budget = 6L, nShards = 1, sepId = -1)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getSeq[Int](3)))).toMap
    assert(out(0L) === ((2L, Seq(10, 11, 12, -1, 20, 21))), "sep between docs, id order")
    assert(out(1L) === ((1L, Seq(30, 31, 32, 33))))
    assert(out(2L) === ((1L, Seq(40, 41, 42, 43, 44, 45, 46, 47))), "oversized packs alone")
    // content tokens (excluding separators) never exceed budget unless alone
    out.values.foreach { case (nDocs, ids) =>
      val content = ids.count(_ != -1)
      assert(content <= 6 || nDocs == 1L, s"pack over budget: $ids")
      assert(ids.count(_ == -1) == nDocs - 1, "exactly n_docs-1 separators")
    }
  }

  test("packTokenIds: zero-token docs are excluded, separator invariant survives") {
    import graft.operators.SequencePacking
    // empty docs FIRST, BETWEEN, and LAST in id order — each would break the
    // n_docs−1-separators accounting if it reached the fold (the empty-
    // accumulator test can't tell 'no doc yet' from 'first doc was empty')
    val docs = Seq(
      (1L, Seq.empty[Int]),
      (2L, Seq(20, 21)),
      (3L, Seq.empty[Int]),
      (4L, Seq(40, 41)),
      (5L, Seq.empty[Int]))
      .toDF("doc_id", "token_ids")
    val out = SequencePacking.packTokenIds(docs, "doc_id", "token_ids",
      budget = 6L, nShards = 1, sepId = -1)
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getSeq[Int](3)))).toMap
    assert(out === Map(0L -> ((2L, Seq(20, 21, -1, 40, 41)))),
      "empty docs contribute nothing: no leading/dangling separators")
  }

  test("Profiler: per-column null/distinct/min/max in one pass; unknown columns rejected") {
    val df = Seq((1L, "a", null), (2L, "b", "x"), (2L, null, "y"))
      .toDF("k", "s", "t")
    val prof = graft.operators.Profiler.profile(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(prof("k") == ((3L, 2L, "1", "2")))
    assert(prof("s") == ((2L, 2L, "a", "b"))) // null excluded from count + distinct
    assert(prof("t") == ((2L, 2L, "x", "y")))
    intercept[IllegalArgumentException](graft.operators.Profiler.profile(df, Seq("nope")))
  }

  test("Profiler.corpusReport: one row per source, exact integer sums, micro-quantized mean") {
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "srcA", "the cat sat on the mat for a while and that was it really"),
      (2L, "srcA", "zz xx"),
      (3L, "srcB", "the quick brown fox is in the pen and the dog was out there")
    ).toDF("doc_id", "source", "text")
    val rep = graft.operators.Profiler.corpusReport(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rep.keySet === Set("srcA", "srcB"))
    val a = rep("srcA")
    assert(a.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("n_tokens") === 16L) // 14 + 2
    assert(a.getAs[Long]("min_tokens") === 2L && a.getAs[Long]("max_tokens") === 14L)
    // micro-sum is the exact LONG sum of per-doc floor(q*1e6)
    val micro = docs.filter($"source" === "srcA")
      .select(floor(TextFunctions.qualityScore($"text") * 1000000.0).cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(a.getAs[Long]("quality_micro_sum") === micro)
    assert(a.getAs[Double]("mean_quality_micro") === micro.toDouble / 2.0)
    // single AGGREGATE exchange in the plan: the report's only keyed shuffle
    // is the source-keyed aggregate. A RoundRobin exchange may precede it —
    // that is [[Spread.widen]]'s small-input scan repair (identity at scale,
    // where the scan already has enough splits), not part of the report's
    // aggregation shape.
    val plan = graft.operators.Profiler.corpusReport(docs, "source", "text")
      .queryExecution.executedPlan.toString
    val keyedExchanges = plan.split("Exchange").length - 1 -
      (plan.split("Exchange RoundRobinPartitioning").length - 1)
    assert(keyedExchanges <= 1, s"one keyed shuffle expected:\n$plan")
  }

  test("uniformExactK: exact k, deterministic, regeneration-stable, seed-sensitive") {
    import graft.operators.Sampling
    val df = (1L to 500L).toDF("id")
    val s1 = Sampling.uniformExactK(df, "id", k = 50, seed = "a")
      .collect().map(_.getLong(0)).toSet
    assert(s1.size === 50)
    // rerun identical; a REGENERATED (differently partitioned) corpus too
    val s1again = Sampling.uniformExactK(df.repartition(13), "id", k = 50, seed = "a")
      .collect().map(_.getLong(0)).toSet
    assert(s1again === s1)
    // different seed re-deals the sample
    val s2 = Sampling.uniformExactK(df, "id", k = 50, seed = "b")
      .collect().map(_.getLong(0)).toSet
    assert(s2 !== s1)
    // k >= n keeps everything; TakeOrderedAndProject, no global sort materialization
    assert(Sampling.uniformExactK(df, "id", 600).count() === 500L)
    val plan = Sampling.uniformExactK(df, "id", 50).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("qualityScore: hand-computed component blend, bounded in [0,1]") {
    import graft.functions.TextFunctions
    // 60 chars, alpha-only + spaces, no punctuation:
    // lengthOk=1.0, punctOk=1.0, alphaFrac=alpha/chars
    val text = "abcdefghij " * 5 + "abcdefghi" // 5*11 + 9 = 64 chars, 59 alpha
    val df = Seq((1L, text)).toDF("id", "text")
    val q = df.select(TextFunctions.qualityScore($"text")).collect()(0).getDouble(0)
    assert(q === 0.2 + 0.3 + 0.5 * (59.0 / 64.0))
    // saturated punctuation (>=10% punct chars) zeroes the punct component
    val punctHeavy = "a.b.c.d.e.f.g.h.i.j." * 5 // 100 chars, 50 punct
    val qp = Seq((1L, punctHeavy)).toDF("id", "text")
      .select(TextFunctions.qualityScore($"text")).collect()(0).getDouble(0)
    assert(qp === 0.2 * 1.0 + 0.0 + 0.5 * 0.5)
    // short text halves the length component; empty text scores only lengthOk branch
    val qe = Seq((1L, "")).toDF("id", "text")
      .select(TextFunctions.qualityScore($"text")).collect()(0).getDouble(0)
    assert(qe === 0.5 * 0.2)
    // random corpus stays in [0,1]
    val rnd = new scala.util.Random(7)
    val corpus = (1 to 100).map(i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(200)).mkString(" "))).toDF("id", "text")
    val bounds = corpus.select(min(TextFunctions.qualityScore($"text")),
      max(TextFunctions.qualityScore($"text"))).collect()(0)
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }

  // ── multimodal ──────────────────────────────────────────────────────────────

  test("multimodal plumbing: binary payloads through per-partition extraction") {
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.asMediaFrame(
      docs.withColumn("payload", col("text").cast("binary")), "doc_id", "payload", "image")
    assert(media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Multimodal.mediaMetaSchema.fieldNames.toSeq)
    val out = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(out(1L).n_bytes == 3L)
    assert(out(1L).sha_prefix == "90015098") // md5("abc") prefix
    assert(math.abs(out(1L).mean_byte - (97 + 98 + 99) / 3.0) < 1e-12)
    assert(out(2L).n_bytes == 0L && out(2L).mean_byte == 0.0)
    assert(out(1L).feature.length == 8)
  }

  test("real PNG kernel: encode → distributed javax.imageio decode recovers dims + channel means") {
    // two-tone 4x6: top half red-ish (0x804020), bottom half blue-ish (0x102030)
    val png = Multimodal.encodePng(4, 6, 0x804020, 0x102030)
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val media = Multimodal.asMediaFrame(
      Seq((7L, png)).toDF("doc_id", "payload"), "doc_id", "payload", "image")
    val f = Multimodal.decodeImages(media).collect().head
    assert(f.media_id == 7L && f.width == 4 && f.height == 6)
    assert(f.mean_r == (0x80 + 0x10) / 2.0) // lossless PNG → exact channel means
    assert(f.mean_g == (0x40 + 0x20) / 2.0)
    assert(f.mean_b == (0x20 + 0x30) / 2.0)
  }

  test("real PNG resize: re-encoded output decodes at the target dims; solid color survives exactly") {
    val png = Multimodal.encodePng(10, 8, 0x336699, 0x336699) // solid → any interpolation is exact
    val media = Multimodal.asMediaFrame(
      Seq((1L, png)).toDF("doc_id", "payload"), "doc_id", "payload", "image")
    val resized = Multimodal.resizeImages(media, 5, 4).collect().head
    assert(resized.width == 5 && resized.height == 4)
    val back = Multimodal.decodePng(1L, resized.payload)
    assert(back.width == 5 && back.height == 4)
    assert(back.mean_r == 0x33.toDouble && back.mean_g == 0x66.toDouble && back.mean_b == 0x99.toDouble)
  }

  test("real WAV kernel: encode → distributed javax.sound decode recovers rate, frames, mean") {
    val samples = Array.tabulate(512)(i => (((i % 256) - 128) * 3).toShort)
    val wav = Multimodal.encodeWav(samples, 8000)
    assert(new String(wav.take(4)) == "RIFF") // real container, not raw PCM
    val media = Multimodal.asMediaFrame(
      Seq((3L, wav)).toDF("doc_id", "payload"), "doc_id", "payload", "audio")
    val f = Multimodal.decodeAudio(media).collect().head
    assert(f.media_id == 3L && f.sample_rate == 8000 && f.n_frames == 512L)
    assert(f.mean_amp == -0.5 * 3) // Σ(i-128) over a full period = -128 → mean -0.5 per unit gain
  }

  test("real GIF demux: sequence-written frames sampled and decoded with exact colors") {
    val frames = Seq(0xFF0000, 0x00FF00, 0x0000FF, 0x102030, 0x405060)
    val gif = Multimodal.encodeGif(frames, 4, 3)
    assert(new String(gif.take(3)) == "GIF") // real container
    val media = Multimodal.asMediaFrame(
      Seq((5L, gif)).toDF("doc_id", "payload"), "doc_id", "payload", "video")
    val sampled = Multimodal.sampleGifFrames(media, every = 2)
      .collect().sortBy(_.frame_idx)
    assert(sampled.map(_.frame_idx).toSeq == Seq(0, 2, 4)) // every 2nd of 5 frames
    assert(sampled.forall(f => f.width == 4 && f.height == 3))
    // solid colors survive the GIF palette losslessly
    assert(sampled.map(f => (f.mean_r, f.mean_g, f.mean_b)).toSeq == Seq(
      (255.0, 0.0, 0.0), (0.0, 0.0, 255.0), (0x40.toDouble, 0x50.toDouble, 0x60.toDouble)))
  }

  // ── image perceptual hashing ────────────────────────────────────────────────

  private def grayMedia(rows: (Long, Array[Int])*) = {
    val df = rows.map { case (id, g) =>
      (id, Multimodal.encodePngGray(8, 8, g)) }.toDF("media_id", "payload")
    Multimodal.asMediaFrame(df, "media_id", "payload", "image")
  }

  test("aHash: hand-computed bits, brightness-shift and recompress invariance") {
    // 32 dark (g=20) then 32 bright (g=200): mean 110 → bright half sets bits
    val twoTone = Array.tabulate(64)(p => if (p < 32) 20 else 200)
    val shifted = twoTone.map(_ + 30) // uniform shift, no wrap
    val fps = Multimodal.imageAHashes(grayMedia(
        1L -> twoTone, 2L -> shifted, 3L -> twoTone)) // 3 = byte-identical re-encode
      .collect().map(h => h.media_id -> h).toMap
    assert(fps(1L).fp === 0x00000000FFFFFFFFL) // MSB-first: first 32 pixels 0
    assert(fps(2L).fp === fps(1L).fp, "aHash must ignore global brightness")
    assert(fps(3L).fp === fps(1L).fp, "recompression must not change the hash")
    assert(fps(1L).gray.toSeq === twoTone.toSeq) // luma == gray on r=g=b PNGs
  }

  test("dHash: horizontal gradient signs, invariant to brightness AND contrast") {
    // 9×8 ramp rows: strictly decreasing left→right → every bit set
    val ramp = Array.tabulate(72)(p => 200 - 20 * (p % 9))
    val contrast = ramp.map(g => 10 + g / 2) // affine: gradients keep their sign
    val df = Seq(
      (1L, encodeGray(9, 8, ramp)),
      (2L, encodeGray(9, 8, contrast))).toDF("media_id", "payload")
    val out = Multimodal.imageDHashes(
        Multimodal.asMediaFrame(df, "media_id", "payload", "image"))
      .collect().map(h => h.media_id -> h.fp).toMap
    assert(out(1L) === -1L) // all 64 gradient bits set
    assert(out(2L) === out(1L), "dHash must ignore affine luma changes")
  }

  private def encodeGray(w: Int, h: Int, grays: Array[Int]): Array[Byte] =
    Multimodal.encodePngGray(w, h, grays)

  test("imageNearDupPairs: planted variants surface banded, exact L1 separates them") {
    val base = Array.tabulate(64)(p => (37 + 55 * p + p * p) % 256)
    val twin = base.clone() // recompress case: pixel-identical
    val variant = base.clone(); variant(0) = if (base(0) < 128) base(0) + 48 else base(0) - 48
    val unrelated = Array.tabulate(64)(p => (91 * p * p + 13 * p + 5) % 256)
    val pairs = Multimodal.imageNearDupPairs(grayMedia(
        1L -> base, 2L -> twin, 3L -> variant, 4L -> unrelated), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs((1L, 2L)) === ((0L, 0L)), "exact twin: hamming 0, L1 0")
    assert(pairs.contains((1L, 3L)), "one-pixel variant must surface")
    assert(pairs((1L, 3L))._2 === 48L, "L1 is the exact pixel delta")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated image must not pair")
  }

  test("imageNearDupPairs hashKind=dhash catches a brightness-curve edit aHash misses") {
    // strictly-decreasing rows; the convex curve g²/255 keeps every gradient
    // sign (dHash bits identical) but moves the mean crossing — the 184
    // column flips from above-mean to below-mean, 8 aHash bits, past banding
    val row = Array(248, 232, 216, 200, 184, 168, 152, 32)
    val base = Array.tabulate(64)(p => row(p % 8))
    val curved = base.map(g => g * g / 255)
    val media = grayMedia(1L -> base, 2L -> curved)
    val a = Multimodal.imageNearDupPairs(media, maxHamming = 3,
      hashKind = "ahash").collect()
    assert(a.isEmpty, "aHash must miss the curve edit (mean crossing moved)")
    val d = Multimodal.imageNearDupPairs(media, maxHamming = 3,
      hashKind = "dhash").collect()
    assert(d.length == 1 && d.head.getLong(0) == 1L && d.head.getLong(1) == 2L)
    assert(d.head.getLong(2) == 0L,
      "gradient signs are invariant under a monotone curve")
    intercept[IllegalArgumentException](
      Multimodal.imageNearDupPairs(media, 3, "phash"))
  }

  // ── audio energy hashing ────────────────────────────────────────────────────

  private def wavMedia(rows: (Long, Array[Short])*) = {
    val df = rows.map { case (id, s) =>
      (id, Multimodal.encodeWav(s, 8000)) }.toDF("media_id", "payload")
    Multimodal.asMediaFrame(df, "media_id", "payload", "audio")
  }

  test("audioEnergyHashes: hand-computed frame energies, threshold bits, |s| on negatives") {
    // 128 samples / 64 frames = 2 per frame; quiet half ±10, loud half -100
    // (negative: energy uses |s|). e_f = 20 or 200; tot = 7040; only the
    // loud half's 64·200 > 7040 → lower 32 bits set, MSB-first.
    val s = Array.tabulate(128)(i =>
      (if (i < 64) { if (i % 2 == 0) 10 else -10 } else -100).toShort)
    val h = Multimodal.audioEnergyHashes(wavMedia(1L -> s)).collect().head
    assert(h.fp === 0x00000000FFFFFFFFL)
    assert(h.energies.take(32).forall(_ == 20L) && h.energies.drop(32).forall(_ == 200L))
  }

  test("audioNearDupPairs: re-encode exact, amplitude nudge surfaces with exact L1") {
    val base = Array.tabulate(2048)(t => (((t * 37 + 11) % 1000) + 100).toShort)
    val twin = base.clone() // container re-encode: sample-identical
    val nudged = base.clone()
    (0 until 32).foreach(t => nudged(t) = (nudged(t) + 192).toShort)
    val unrelated = Array.tabulate(2048)(t => (((t * t * 91 + 13 * t + 5) % 2000) - 1000).toShort)
    val pairs = Multimodal.audioNearDupPairs(
        wavMedia(1L -> base, 2L -> twin, 3L -> nudged, 4L -> unrelated), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs((1L, 2L)) === ((0L, 0L)), "re-encode: hamming 0, L1 0")
    // frame 0's energy moves by exactly 32·192 (all samples positive)
    assert(pairs((1L, 3L))._2 === 32L * 192L, "L1 is the exact energy delta")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated clip must not pair")
  }

  test("RIFF fast path is parse-equivalent to the javax.sound decoder") {
    val s = Array.tabulate(2048)(t => (((t * 131 + 7) % 4000) - 2000).toShort)
    val wav = Multimodal.encodeWav(s, 8000)
    val viaRiff = Multimodal.audioEnergyHashes(wavMedia(9L -> s)).collect().head
    val viaJavax = Multimodal.javaxFrameEnergies(9L, wav, 64)
    assert(viaRiff.energies.toSeq === viaJavax.toSeq,
      "chunk walk and SPI decode must agree sample-for-sample")
  }

  test("corrupt RIFF chunk sizes fail loudly: negative u32 and near-Int.MaxValue overlong chunks") {
    def riff(chunkSize: Long): Array[Byte] = {
      val b = new Array[Byte](100)
      def put(o: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(b, o)
      def putU32(o: Int, v: Long): Unit =
        (0 until 4).foreach(i => b(o + i) = ((v >> (8 * i)) & 0xff).toByte)
      put(0, "RIFF"); putU32(4, 92); put(8, "WAVE")
      put(12, "JUNK"); putU32(16, chunkSize)
      b
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // u32 >= 2^31: the int cast would go negative (a non-advancing offset)
    val neg = intercept[Exception](Multimodal.audioEnergyHashes(
      Multimodal.asMediaFrame(Seq((7L, riff(0x80000000L))).toDF("media_id", "payload"),
        "media_id", "payload", "audio")).collect())
    assert(msgs(neg).exists(m => m.contains("media_id=7") && m.contains("corrupt chunk")))
    // sz just under 2^31: off + 8 + sz would wrap the int step negative —
    // must end the walk and report the missing fmt/data, tagged, not throw
    // a bare StringIndexOutOfBounds
    val big = intercept[Exception](Multimodal.audioEnergyHashes(
      Multimodal.asMediaFrame(Seq((8L, riff(0x7FFFFFF0L))).toDF("media_id", "payload"),
        "media_id", "payload", "audio")).collect())
    assert(msgs(big).exists(m => m.contains("media_id=8")), s"untagged: ${msgs(big)}")
    // a DATA chunk (after a valid fmt) declaring a near-Int.MaxValue size:
    // the post-walk bound `dataOff + dataLen <= bytes.length` must use long
    // arithmetic — an int sum wraps negative, passes vacuously, and the
    // sample loop then dies on a bare (negative-index) array access
    def riffBigData(): Array[Byte] = {
      val b = new Array[Byte](100)
      def put(o: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(b, o)
      def putU32(o: Int, v: Long): Unit =
        (0 until 4).foreach(i => b(o + i) = ((v >> (8 * i)) & 0xff).toByte)
      def putU16(o: Int, v: Int): Unit = {
        b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      }
      put(0, "RIFF"); putU32(4, 92); put(8, "WAVE")
      put(12, "fmt "); putU32(16, 16)
      putU16(20, 1); putU16(22, 1) // PCM, mono
      putU32(24, 8000); putU32(28, 16000); putU16(32, 2); putU16(34, 16)
      put(36, "data"); putU32(40, 0x7FFFFFF0L)
      b
    }
    val bigData = intercept[Exception](Multimodal.audioEnergyHashes(
      Multimodal.asMediaFrame(Seq((9L, riffBigData())).toDF("media_id", "payload"),
        "media_id", "payload", "audio")).collect())
    assert(msgs(bigData).exists(m => m.contains("media_id=9")
      && m.contains("missing or truncated")), s"untagged: ${msgs(bigData)}")
  }

  test("audioEnergyHashes contracts are loud: too few samples, bad frame count") {
    intercept[IllegalArgumentException](
      Multimodal.audioEnergyHashes(wavMedia(1L -> Array.fill(32)(1.toShort)), frames = 65))
    val thrown = intercept[Exception](
      Multimodal.audioEnergyHashes(wavMedia(1L -> Array.fill(32)(1.toShort))).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(thrown).exists(_.contains("32 samples < 64 frames")))
  }

  test("encodeGifGray is lossless: per-frame hashes match the same grays PNG-encoded") {
    // indexed gray palette → the GIF round-trip must preserve pixels exactly,
    // so the frame hash equals the hash of the identical PNG image
    val grays = Array.tabulate(64)(p => (37 + 91 * p + p * p) % 256)
    val gif = Multimodal.encodeGifGray(Seq(grays), 8, 8)
    assert(new String(gif.take(3)) == "GIF")
    val gifMedia = Multimodal.asMediaFrame(
      Seq((1L, gif)).toDF("media_id", "payload"), "media_id", "payload", "video")
    val viaGif = Multimodal.gifFrameAHashes(gifMedia).collect().head
    val viaPng = Multimodal.imageAHashes(grayMedia(1L -> grays)).collect().head
    assert(viaGif.frame_idx === 0 && viaGif.fp === viaPng.fp,
      "GIF frame and PNG image of the same grays must hash identically")
  }

  test("videoNearDupPairs: re-encode, trim, and one-frame edit surface; unrelated clips do not") {
    def frame(seed: Int, f: Int): Array[Int] =
      Array.tabulate(64)(p => (1000003 * (seed + 1) + 7919 * (f + 1) + 55 * p + f * p) % 256)
    val base = (0 until 6).map(frame(1, _))
    val clips = Seq(
      1L -> base,                                   // original
      2L -> base,                                   // byte-identical re-encode
      3L -> (1 to 4).map(f => frame(1, f)),         // trim: frames 1..4
      4L -> (0 until 6).map(f => if (f == 3) frame(9, 50) else frame(1, f)), // 1-frame edit
      5L -> (0 until 6).map(frame(7, _)))           // unrelated
    val media = Multimodal.asMediaFrame(
      clips.map { case (id, fs) => (id, Multimodal.encodeGifGray(fs, 8, 8)) }
        .toDF("media_id", "payload"), "media_id", "payload", "video")
    val out = Multimodal.videoNearDupPairs(media, every = 1, maxHamming = 3,
        minOverlap = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out((1L, 2L)) === ((6L, 6L, 6L, 6L, 1.0)), "re-encode: full overlap")
    assert(out((1L, 3L)) === ((4L, 6L, 4L, 4L, 1.0)),
      "trim: contained fully in the original, 4/6 the other way")
    assert(out((1L, 4L)) === ((5L, 6L, 5L, 6L, 5.0 / 6.0)), "one-frame edit: 5/6")
    assert(out.contains((2L, 3L)) && out.contains((2L, 4L)) && out.contains((3L, 4L)),
      "variants of one base pair among themselves")
    assert(!out.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      "unrelated clip must not pair")
  }

  test("hammingBandedPairs: pigeonhole finds every pair <= maxHamming, drops collided heavies") {
    val fps = Seq(
      (1L, 0x0000000000000000L),
      (2L, 0x0000000000000003L),  // hamming 2 from id 1
      (3L, 0x000000000000000FL),  // hamming 4 from id 1: band 3 differs, 0-2 collide
      (4L, 0x1111111111111111L)). // far from everything
      toDF("id", "fp")
    val out = DedupSuite.hammingBandedPairs(fps, "id", "fp", bits = 64, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) === 2L)
    assert(out((2L, 3L)) === 2L)
    assert(!out.contains((1L, 3L)), "hamming 4 must be verified away despite banding")
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("multimodal frame sampling emits every k-th fixed-size chunk") {
    val docs = Seq((1L, "0123456789")).toDF("doc_id", "text")
    val media = Multimodal.asMediaFrame(
      docs.withColumn("payload", col("text").cast("binary")), "doc_id", "payload", "video")
    val frames = Multimodal.sampleFrames(media, frameBytes = 2, every = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(frames.map(f => new String(f.frame)).toSeq == Seq("01", "45", "89"))
  }

  // ── decontamination ─────────────────────────────────────────────────────────

  test("decontamination: distinct shingle overlap counted, clean docs untouched") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares shingles with eval doc
      (2L, "one two three four five"),        // no overlap
      (3L, "alpha beta gamma alpha beta gamma")) // repeated shingle counts ONCE
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val report = Decontamination.contaminationReport(corpus, evalSet, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // eval shingles: {alpha beta gamma, beta gamma delta}
    assert(report == Map(1L -> 2L, 3L -> 1L)) // doc 2 absent; doc 3's repeat deduped
    val kept = Decontamination.decontaminate(corpus, evalSet, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    // minHits above the max overlap keeps everything
    val keptAll = Decontamination
      .decontaminate(corpus, evalSet, "doc_id", "text", n = 3, minHits = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAll == Set(1L, 2L, 3L))
  }

  // ── PII + URL hygiene ───────────────────────────────────────────────────────

  test("PII redaction: emails, phones, IPv4s replaced; counts match; order-safe") {
    val df = Seq(
      "mail a.user+tag@sub.example.co.uk and b@x.org, call +1-555-0042 or +44-20-7946-0958, host 10.0.0.1",
      "no pii here at all").toDF("text")
    val (ne, np, ni) = TextFunctions.piiCounts(col("text"))
    val r = df.select(TextFunctions.redactPii(col("text")).as("red"),
      ne.as("ne"), np.as("np"), ni.as("ni")).collect()
    assert(r(0).getAs[String]("red") ==
      "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>, host <IP>")
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) == (2L, 2L, 1L))
    assert(r(1).getAs[String]("red") == "no pii here at all")
    assert((r(1).getLong(1), r(1).getLong(2), r(1).getLong(3)) == (0L, 0L, 0L))
  }

  test("urlHost strips scheme, www, port; registrableDomain keeps last two labels") {
    val df = Seq(
      "https://www.Sub.Example.COM:8443/path?q=1",
      "http://cdn.assets.example.org/x",
      "ftp://plain.net/file").toDF("url")
    val r = df.select(TextFunctions.urlHost(col("url")).as("h"))
      .withColumn("d", TextFunctions.registrableDomain(col("h")))
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(r == Seq(
      ("sub.example.com", "example.com"),
      ("cdn.assets.example.org", "example.org"),
      ("plain.net", "plain.net")))
  }

  // ── chunking ────────────────────────────────────────────────────────────────

  test("chunkByTokens: overlapping windows, clamped tail, short docs = one chunk") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c")).toDF("doc_id", "text")
    val chunks = Chunker.chunkByTokens(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(c => (c._1, c._2))
    // doc 1: n=10 → ((10-4+2)/3)+1 = 3 chunks starting at tokens 1, 4, 7
    val doc1 = chunks.filter(_._1 == 1L)
    assert(doc1.map(_._4).toSeq == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._3).toSeq == Seq(4L, 4L, 4L))
    // every token is covered by at least one chunk
    assert(doc1.flatMap(_._4.split(" ")).toSet == (1 to 10).map(i => s"w$i").toSet)
    val doc2 = chunks.filter(_._1 == 2L)
    assert(doc2.toSeq == Seq((2L, 0L, 3L, "a b c")))
    intercept[IllegalArgumentException](
      Chunker.chunkByTokens(df, "doc_id", "text", chunkSize = 4, stride = 5))
  }

  test("containment pairs: short doc inside long doc found; Jaccard misses it") {
    val short = "alpha beta gamma delta epsilon zeta" // 4 3-gram shingles
    val long = short + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val df = Seq((1L, short, "b1"), (2L, long, "b1"),
      (3L, "completely different words entirely here now today maybe", "b1"),
      (4L, short, "b2")) // other block: never compared with 1/2
      .toDF("doc_id", "text", "src")
    val pairs = DedupSuite.ngramContainmentPairs(df, "doc_id", "text", "src",
      n = 3, threshold = 0.8).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert((p.getLong(0), p.getLong(1)) == (1L, 2L))
    assert(p.getAs[Double]("containment") == 1.0) // all of doc 1's shingles in doc 2
    // symmetric Jaccard at the same threshold rejects the same pair
    val jac = DedupSuite.ngramJaccardPairs(df, "doc_id", "text", "src",
      n = 3, threshold = 0.8).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("bloom-pruned verify join equals plain verify join (q45/q84 scale path)") {
    // same docs through both verify regimes: the seam forces the bloom-pruned
    // gram-index path that replaces the full-corpus array shuffle at scale;
    // the measured decision keeps the plain two-join tail at this size.
    // A bloom filter has no false negatives and the candidate join is exact,
    // so the two must produce identical rows.
    import DedupSuite.GramVerify
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // filler docs keep candidate selectivity under the 25% coverage bound
    // (near-dup ids 1/2/4/5 out of 25 docs), the shape the prune is for
    val filler = (10L to 29L).map(i =>
      (i, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}g", "b1"))
    val docs = (Seq(
      (1L, base, "b1"), (2L, base + " lambda", "b1"),
      (3L, "totally unrelated words appear in this sentence now", "b1"),
      (4L, base, "b2"), (5L, base + " mu nu", "b2")) ++ filler)
      .toDF("doc_id", "text", "src")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    def jac() = DedupSuite.ngramJaccardPairs(docs, "doc_id", "text", "src",
      n = 2, threshold = 0.5).collect().map(key).toSet
    def con() = DedupSuite.ngramContainmentPairs(docs, "doc_id", "text", "src",
      n = 2, threshold = 0.8).collect().map(key).toSet
    val plainJ = jac()
    val prunedJ = GramVerify.forcing(_ => GramVerify.Pruned)(jac())
    assert(prunedJ == plainJ && plainJ.nonEmpty)
    val plainC = con()
    val prunedC = GramVerify.forcing(_ => GramVerify.Pruned)(con())
    assert(prunedC == plainC && plainC.nonEmpty)
    // materialization × prune matrix: the gram index checkpointed or
    // recomputed per subtree must be byte-identical on the pruned path too
    for (mat <- Seq(true, false)) {
      GramVerify.forcing(_ => GramVerify.Pruned, checkpointGrams = Some(mat)) {
        assert(jac() == plainJ, s"materialize=$mat pruned Jaccard diverged")
        assert(con() == plainC, s"materialize=$mat pruned containment diverged")
      }
    }
    // empty candidate set through the pruned path stays empty (no NPE on the
    // empty bloom aggregate)
    val distinctDocs = Seq((1L, "aa bb cc", "b1"), (2L, "dd ee ff", "b1"))
      .toDF("doc_id", "text", "src")
    assert(GramVerify.forcing(_ => GramVerify.Pruned)(
      DedupSuite.ngramJaccardPairs(distinctDocs, "doc_id", "text", "src",
        n = 1, threshold = 0.9).count()) == 0L)
  }

  test("segmented verify equals unsegmented (dense-regime disk-bounded path)") {
    // a corpus where EVERY doc is a candidate (coverage 1.0, the dense
    // regime's shape); the seam forces the K-pass segmented verify (the
    // ×1000 one-box disk-wall path). Slices partition the pair set, so
    // results must be byte-identical, including an empty slice (k=4 over few
    // pairs leaves some slices pairless).
    import DedupSuite.GramVerify
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "b1"), (2L, base + " lambda", "b1"), (3L, base + " mu", "b1"),
      (4L, base, "b2"), (5L, base + " nu xi", "b2"), (6L, base + " omicron", "b2"))
      .toDF("doc_id", "text", "src")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    def jac() = DedupSuite.ngramJaccardPairs(docs, "doc_id", "text", "src",
      n = 2, threshold = 0.5).collect().map(key).toSet
    def con() = DedupSuite.ngramContainmentPairs(docs, "doc_id", "text", "src",
      n = 2, threshold = 0.8).collect().map(key).toSet
    val plainJ = jac()
    val plainC = con()
    for (k <- Seq(2, 4)) {
      GramVerify.forcing(_ => GramVerify.Dense(k)) {
        val segJ = jac()
        assert(segJ == plainJ && plainJ.nonEmpty, s"k=$k segmented Jaccard diverged")
        val segC = con()
        assert(segC == plainC && plainC.nonEmpty, s"k=$k segmented containment diverged")
      }
    }
    // auto sizing never segments small pair sets even under a 1-byte budget
    val autoJ = GramVerify.forcing(GramVerify.dense(_, budget = 1L))(jac())
    assert(autoJ == plainJ)
  }

  test("gram verify regime: the measured decision at each bound") {
    import DedupSuite.GramVerify._
    def unread[T]: T = throw new AssertionError("count read by a decision that needs none")
    // below the docs floor nothing else is measured
    assert(regime(new Counts(MinDocs - 1, unread, unread, unread)) == Plain)
    // coverage under the bound prunes without counting pairs
    val docs = 1000000L
    assert(regime(new Counts(docs, (MaxCoverage * docs).toLong - 1, unread, unread)) == Pruned)
    // dense: small pair sets stay one pass without the mean-size aggregate
    val cov = (MaxCoverage * docs).toLong
    assert(regime(new Counts(docs, cov, MinSegmentPairs - 1, unread)) == Dense(1))
    // above it the estimate sizes k: ceil(2 · pairs · meanGramSz · 8 / budget)
    val e = Estimate(MinSegmentPairs * 100, 50.0, DiskBudget)
    assert(e.k == math.ceil(2.0 * MinSegmentPairs * 100 * 50.0 * 8.0 / DiskBudget).toInt)
    assert(regime(new Counts(docs, docs, MinSegmentPairs * 100, 50.0)) == Dense(e.k, Some(e)))
    assert(regime(new Counts(docs, docs, MinSegmentPairs, 1.0)) ==
      Dense(1, Some(Estimate(MinSegmentPairs, 1.0, DiskBudget))))
    // k is capped at 64 passes
    assert(dense(new Counts(docs, docs, MinSegmentPairs, 1.0), budget = 1L) ==
      Dense(64, Some(Estimate(MinSegmentPairs, 1.0, 1L))))
    assert(Estimate(1000000L, 23.2, 1L << 30).toString ==
      "pairs=1000000 meanGramSz=23.2 estBytes=3.71e+08 budget=1073741824 -> k=1")
    // gram index: shingles always checkpoint; token unigrams only when small
    assert(checkpointGrams(2, unread))
    assert(checkpointGrams(1, Some(SmallInputBytes - 1)))
    assert(!checkpointGrams(1, Some(SmallInputBytes)))
    assert(!checkpointGrams(1, None))
  }

  test("text near-dup family: null, empty, blank and short docs") {
    // null text, "", whitespace-only text (trim keeps the tab) and docs with
    // fewer tokens than n, through every consumer of the shared shingle
    // relation. The n = 1 token path gives null text no grams while the
    // shingle form gives it one null shingle; each caller keeps its own
    // answer (rows pinned from the implementation before the relation was
    // shared).
    import graft.streaming.EventPipeline
    val docs = Seq[(Long, String, String)](
      (1L, null, "b"), (2L, "", "b"), (3L, " \t  ", "b"), (4L, "solo pair", "b"),
      (5L, "Solo  pair", "b"), (6L, null, "b"), (7L, "alpha beta gamma delta", "b"),
      (8L, "", "b")).toDF("doc_id", "text", "src")
    val evalDocs = Seq[(Long, String)](
      (101L, null), (102L, "solo pair"), (103L, ""), (104L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): String =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.mkString(";")
    val same13 = "1|6|1|1|1|1.0;2|8|1|1|1|1.0;4|5|1|1|1|1.0"
    val expected = Map(
      1 -> Seq("2|3|1|1|1|1.0;2|8|1|1|1|1.0;3|8|1|1|1|1.0;4|5|2|2|2|1.0",
        "2|3|1|1|1|1.0;2|8|1|1|1|1.0;3|8|1|1|1|1.0;4|5|2|2|2|1.0",
        "1|6;2|3;2|8;3|8;4|5", "2|1;3|1;4|2;5|2;7|2;8|1",
        "101|1|0|0.0;102|2|2|1.0;103|1|1|1.0;104|3|2|0.6666666666666666",
        "alpha|1;beta|1;delta|1;gamma|1;pair|2;solo|2;|4", "", ""),
      2 -> Seq(same13, same13, "1|6;2|8;4|5", "2|1;4|1;5|1;7|1;8|1",
        "101|1|0|0.0;102|1|1|1.0;103|1|1|1.0;104|2|1|0.5",
        " |1;alpha beta|1;beta gamma|1;gamma delta|1;solo pair|2;|2", "", "3"),
      3 -> Seq(same13, same13, "1|6;2|8;4|5", "2|1;4|1;5|1;8|1",
        "101|1|0|0.0;102|1|1|1.0;103|1|1|1.0;104|1|0|0.0",
        " |1;alpha beta gamma|1;beta gamma delta|1;solo pair|2;|2", "", "3;7"))
    for (n <- Seq(1, 2, 3)) {
      val got = Seq(
        DedupSuite.ngramJaccardPairs(docs, "doc_id", "text", "src", n, 0.5),
        DedupSuite.ngramContainmentPairs(docs, "doc_id", "text", "src", n, 0.5),
        DedupSuite.minHashLshPairs(docs, "doc_id", "text", n),
        Decontamination.contaminationReport(docs, evalDocs, "doc_id", "text", n),
        Decontamination.evalContaminationReport(docs, evalDocs, "doc_id", "text", n),
        HeavyHitters.heavyGrams(docs, "text", n, 0.05),
        EventPipeline.streamingDecontaminate(docs, evalDocs, "text", n).select("doc_id"),
        EventPipeline.streamingDecontaminate(docs, evalDocs.filter($"text".isNotNull),
          "text", n).select("doc_id")).map(rows)
      assert(got == expected(n), s"n=$n")
    }
  }

  test("tracked-shuffle scope reclaims exactly the unit's own shuffles") {
    // the mechanism the segmented verify's disk bound rests on (the dense
    // ×1000 leg died of disk exhaustion when reclaim was left to the async
    // ContextCleaner): shuffles created by the tracked unit's OWN jobs can be
    // deleted synchronously, a result checkpointed before the cleanup still
    // reads, and — the scoping property — a shuffle registered by work
    // OUTSIDE the unit (a concurrent query on the same context in the
    // original failure shape) is never swept into the reclaim set.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val beforeAll = ColumnBridge.registeredShuffleIds(spark)
    // foreign work racing the tracked unit from another thread
    val foreign = new java.util.concurrent.atomic.AtomicReference[Set[Int]](Set.empty)
    val foreignThread = new Thread(() => {
      val fb = ColumnBridge.registeredShuffleIds(spark)
      spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 7)
        .groupBy("k").agg(sum("id")).localCheckpoint(true)
      foreign.set(ColumnBridge.registeredShuffleIds(spark) -- fb)
    })
    val (agg, created) = ColumnBridge.withTrackedShuffles(spark, "spec") {
      foreignThread.start()
      val a = spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 10)
        .groupBy("k").agg(sum("id").as("s")).localCheckpoint(true)
      foreignThread.join()
      a
    }
    assert(created.nonEmpty, "the groupBy must have registered a shuffle")
    // foreign.get() is the global delta over the foreign thread's window, so
    // it can race-include the tracked unit's own shuffles; subtracting
    // `created` leaves the ids that are definitely foreign — which must
    // include that thread's own groupBy shuffle, whose survival of the
    // scoped cleanup (asserted below) is the observable scoping property.
    val foreignIds = foreign.get() -- created
    assert(foreignIds.nonEmpty || foreign.get().isEmpty,
      "foreign thread should have registered its own shuffle")
    ColumnBridge.cleanupShuffles(spark, created)
    assert((ColumnBridge.registeredShuffleIds(spark) & created).isEmpty,
      "cleaned shuffle IDs must be unregistered from the MapOutputTracker")
    // the foreign thread's shuffle survives the cleanup
    assert((ColumnBridge.registeredShuffleIds(spark) & foreignIds) == foreignIds,
      "a concurrent query's live shuffle must survive the scoped cleanup")
    // the checkpointed frame no longer depends on the deleted shuffle
    assert(agg.agg(sum("s")).collect()(0).getLong(0) == (0L until 1000L).sum)
    assert((beforeAll & created).isEmpty)
  }

  test("withTrackedShuffles restores the caller's job-group thread properties") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sc = spark.sparkContext
    // a caller that opted into task interruption on cancel (setJobGroup
    // overwrites all three local properties; the scope must restore them)
    sc.setJobGroup("caller-group", "caller-desc", interruptOnCancel = true)
    try {
      val (_, _) = ColumnBridge.withTrackedShuffles(spark, "restore-spec") {
        spark.range(0, 100, 1, 2).groupBy(col("id") % 3).count().collect()
      }
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller-desc")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "true")
    } finally sc.clearJobGroup()
  }

  test("withTrackedShuffles reclaims an aborted unit's shuffles on the failure path") {
    // A segmented pass that dies mid-verify must not leave its shuffles to
    // the async ContextCleaner — that is the disk-accumulation mode the scope
    // exists to prevent on disk-capped dense legs. The scope cleans the
    // delta ∩ owned set before rethrowing.
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val before = ColumnBridge.registeredShuffleIds(spark)
    val thrown = intercept[RuntimeException] {
      ColumnBridge.withTrackedShuffles(spark, "abort-spec") {
        // materialize a shuffle whose files would otherwise outlive the abort
        spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 5)
          .groupBy("k").agg(sum("id")).localCheckpoint(true)
        throw new RuntimeException("pass aborted mid-verify")
      }
    }
    assert(thrown.getMessage == "pass aborted mid-verify")
    val leaked = ColumnBridge.registeredShuffleIds(spark) -- before
    assert(leaked.isEmpty,
      s"aborted unit's shuffles must be unregistered, leaked: $leaked")
  }

  test("sqrtCapSample: ceil(sqrt(group)) cap, small groups intact, deterministic") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101L to 103L).map(i => (i, "small"))).toDF("doc_id", "source")
    val kept = Sampling.sqrtCapSample(df, "source", "doc_id", k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("big") == 10)   // ceil(sqrt(100))
    assert(bySrc("small") == 2)  // ceil(sqrt(3)) = 2
    // deterministic: second run keeps the identical set
    val kept2 = Sampling.sqrtCapSample(df, "source", "doc_id", k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sortBy(_._1).toSeq == kept2.sortBy(_._1).toSeq)
  }

  test("curateForTraining: end-to-end corpus → deduped, decontaminated, redacted, sharded chunks") {
    val good = "the quick brown fox jumps over the lazy dog and runs far away home " * 3
    val docs = Seq(
      (1L, good + "contact admin@site.org now"),       // survives; email redacted
      (2L, good + "contact admin@site.org now"),       // exact near-dup of 1 → dropped
      (3L, "a small cat sat on the warm mat and then it went to sleep in the sun " * 3), // survives
      (4L, good + "held out benchmark sentence marker"), // contaminated → dropped
      (5L, "x")).toDF("doc_id", "text")                // fails quality gate
    val evalSet = Seq((90L, "held out benchmark sentence marker")).toDF("doc_id", "text")
    val out = tempDir().resolve("chunks").toString
    val chunks = graft.operators.CurationPipeline.curateForTraining(
      docs, evalSet, out, minQuality = 0.5, chunkSize = 16, stride = 12, numShards = 4)
    val ids = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"survivors: $ids")
    // PII gone from every chunk (chunk text is lower-cased by tokenization)
    assert(chunks.filter(col("chunk").contains("admin@site.org")).count() == 0)
    assert(chunks.filter(col("chunk").contains("<email>")).count() > 0)
    // one shard per doc, all chunks of a doc co-sharded; written partitioned
    val byDoc = chunks.select("doc_id", "shard").distinct().collect()
    assert(byDoc.length == 2)
    val written = spark.read.parquet(out)
    assert(written.count() == chunks.count())
    assert(written.columns.contains("shard"))
  }

  test("curateForTraining: zorderBy layout keeps the chunk set identical, carries the source column, and clusters files by z-range") {
    val mk = (i: Long, src: String, reps: Int) =>
      (i, src, "the quick brown fox jumps over the lazy dog number " + i + " runs home " * reps)
    val docs = ((1L to 6L).map(i => mk(i, "web", 2 + (i % 3).toInt)) ++
      (7L to 12L).map(i => mk(i, "books", 4 + (i % 2).toInt)))
      .toDF("doc_id", "source", "text")
    val evalSet = Seq((90L, "zz held out zz")).toDF("doc_id", "text")
    val outZ = tempDir().resolve("chunksZ").toString
    val outH = tempDir().resolve("chunksH").toString
    val z = graft.operators.CurationPipeline.curateForTraining(
      docs, evalSet, outZ, minQuality = 0.3, chunkSize = 16, stride = 12,
      numShards = 2, zorderBy = Seq("source", "n_chunk_tokens"))
    val h = graft.operators.CurationPipeline.curateForTraining(
      docs, evalSet, outH, minQuality = 0.3, chunkSize = 16, stride = 12,
      numShards = 2)
    // same logical content in both layouts; z layout carries the source dim
    assert(z.columns.contains("source"))
    val zRows = spark.read.parquet(outZ)
      .select("doc_id", "chunk_idx", "chunk").as[(Long, Long, String)]
      .collect().toSet
    val hRows = spark.read.parquet(outH)
      .select("doc_id", "chunk_idx", "chunk").as[(Long, Long, String)]
      .collect().toSet
    assert(zRows == hRows, "layout must not change the chunk set")
    // within each written FILE, rows are z-ordered (sortWithinPartitions
    // before the record-capped file roll → every file covers a contiguous
    // z-range with tight min/max stats); group per file, not per read split
    // (a split may coalesce several small files)
    val lay = graft.operators.Layout
    val written = spark.read.parquet(outZ)
    val zvals = written
      .withColumn("_z", lay.zValue(Seq(
        graft.functions.TextFunctions.hashBucket(col("source"), 1 << 10),
        lay.bucket(col("n_chunk_tokens"), 10)), 10))
      .select(org.apache.spark.sql.functions.input_file_name().as("_f"), col("_z"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    zvals.groupBy(_._1).values.foreach { part =>
      val seq = part.map(_._2).toSeq
      assert(seq == seq.sorted, "z-values within a written file must be sorted")
    }
    // missing column is loud
    val err = intercept[IllegalArgumentException] {
      graft.operators.CurationPipeline.curateForTraining(
        docs, evalSet, tempDir().resolve("x").toString, minQuality = 0.3,
        chunkSize = 16, stride = 12, numShards = 2, zorderBy = Seq("nope"))
    }
    assert(err.getMessage.contains("nope"))
  }

  test("curateForTraining: optional C4 line strip runs first and drops emptied docs") {
    val boiler = "subscribe to our newsletter today"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home " * 3
        + "\n" + boiler),                            // boiler stripped, doc survives
      (2L, "a small cat sat on the warm mat and then it went to sleep in the sun " * 3
        + "\n" + boiler),                            // boiler stripped, doc survives
      (3L, boiler),                                  // boilerplate-only → dropped
      (4L, "many users of the community write long detailed notes for their tools " * 3
        + "\n" + boiler))                            // boiler stripped, doc survives
      .toDF("doc_id", "text")
    val evalSet = Seq((90L, "zz held out zz")).toDF("doc_id", "text")
    val out = tempDir().resolve("chunks2").toString
    val chunks = graft.operators.CurationPipeline.curateForTraining(
      docs, evalSet, out, minQuality = 0.5, chunkSize = 16, stride = 12,
      numShards = 4, lineDedupMaxDocs = Some(2))
    val ids = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L), s"survivors: $ids")
    assert(chunks.filter(col("chunk").contains("subscribe to our newsletter")).count() == 0)
  }

  test("evalContaminationReport: per-eval leak fraction, corpus-side repeats count once") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma other words"), // repeats the leaked shingle
      (3L, "completely different text here")).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "alpha beta gamma zz yy"),  // 1 of 3 shingles leaked
      (200L, "nothing shared at all")).toDF("doc_id", "text")
    val out = Decontamination.evalContaminationReport(corpus, eval_, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0) === ((100L, 3L, 1L, 1.0 / 3.0))) // repeat in docs 1+2 counted once
    assert(out(1) === ((200L, 2L, 0L, 0.0)))
  }

  test("topMByScore keeps the m best per group with deterministic tie-break") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.5), ("a", 3L, 0.9), ("a", 4L, 0.1),
      ("b", 5L, 0.3)).toDF("g", "id", "score")
    val out = Sampling.topMByScore(df, "g", 2, col("score"), col("id"))
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(out === Seq(1L, 3L, 5L)) // ties at 0.9 resolve by id; b keeps its 1 row
  }

  test("canonicalWithWeight: cluster size rides the canonical; singletons weigh 1") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // chain {1,2,3}
    val out = DedupSuite.canonicalWithWeight(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 4L -> 1L))
  }

  // ── unigram frequency scoring ───────────────────────────────────────────────

  test("unigramFrequencyScore: common-token docs outscore rare-token docs; exact sums") {
    val df = Seq(
      (1L, "the the the"),   // 'the' freq 4 → sum 12, mean 4.0
      (2L, "the rare"),      // 4 + 1 → sum 5, mean 2.5
      (3L, "zyx")).toDF("doc_id", "text") // freq 1 → mean 1.0
    val r = TfIdf.unigramFrequencyScore(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((3L, 12L, 4.0)))
    assert(r(2L) == ((2L, 5L, 2.5)))
    assert(r(3L) == ((1L, 1L, 1.0)))
  }
}
