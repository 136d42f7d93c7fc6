package graft.ops

import scala.util.Random

import graft.SparkSpec
import graft.operators.DedupSuite
import org.apache.spark.sql.functions._

/** Randomized equivalence properties (seeded → deterministic): each distributed
  * operator is compared against a naive driver-side reference over many random
  * instances, sweeping the tuning knob (bin size, threshold) that must NOT
  * change results. This is SURVEY §5's property-test layer — the reference repo
  * ships no tests, so randomized cross-checking is the substitute for golden
  * files on the operators the reference never had. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rounds = 12

  test("interval overlap join ≡ naive O(n²) filter, for every bin size") {
    val rnd = new Random(1234)
    (1 to rounds).foreach { round =>
      val n = 40 + rnd.nextInt(40)
      val ivs = (1 to n).map { i =>
        val s = rnd.nextInt(500).toLong
        (if (rnd.nextBoolean()) "k1" else "k2", i.toLong, s, s + rnd.nextInt(80))
      }
      val df = ivs.toDF("key", "iid", "start", "end")
      val naive = (for {
        a <- ivs; b <- ivs
        if a._1 == b._1 && a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
      } yield (a._2, b._2)).toSet
      Seq(7L, 64L, 300L).foreach { bin =>
        val got = IntervalJoin.overlapPairs(df, df, Seq("key"), "iid",
          "start", "end", bin, selfJoin = true)
          .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        assert(got.length == got.toSet.size, s"duplicate pairs at bin=$bin round=$round")
        assert(got.toSet == naive, s"mismatch at bin=$bin round=$round")
      }
    }
  }

  test("as-of join ≡ naive latest-predecessor, including missing predecessors") {
    val rnd = new Random(99)
    (1 to rounds).foreach { round =>
      val quotes = (1 to 30).map(i =>
        (s"s${rnd.nextInt(3)}", i.toLong, rnd.nextInt(1000).toLong))
      val trades = (101 to 130).map(i =>
        (s"s${rnd.nextInt(3)}", i.toLong, rnd.nextInt(1000).toLong))
      // unique (sym, t) on the quote side keeps the naive argmax unambiguous
      val uq = quotes.groupBy(q => (q._1, q._3)).map(_._2.head).toSeq
      val out = AsOfJoin.asOf(trades.toDF("sym", "tid", "t"),
        uq.toDF("sym", "qid", "t"), Seq("sym"), "t", "t", payloadCols = Seq("qid"))
        .collect().map(r => r.getAs[Long]("tid") ->
          Option(r.getAs[java.lang.Long]("asof_qid")).map(_.longValue)).toMap
      trades.foreach { case (sym, tid, t) =>
        val naive = uq.filter(q => q._1 == sym && q._3 <= t)
          .sortBy(q => (q._3, q._2)).lastOption.map(_._2)
        assert(out(tid) == naive, s"trade $tid round=$round")
      }
    }
  }

  /** Every gram verify regime through the seam: the measured default
    * (plain at this size), bloom-pruned, dense unsegmented and segmented. */
  private val regimes: Seq[(String, Option[DedupSuite.GramVerify.Regime])] = {
    import DedupSuite.GramVerify._
    Seq("measured" -> None, "pruned" -> Some(Pruned), "dense" -> Some(Dense(1)),
      "k=2" -> Some(Dense(2)), "k=4" -> Some(Dense(4)))
  }

  private def inRegime[T](r: Option[DedupSuite.GramVerify.Regime])(body: => T): T =
    r.fold(body)(forced => DedupSuite.GramVerify.forcing(_ => forced)(body))

  /** Distinct word n-gram shingles, joined like `wordShinglesOf`: a doc
    * shorter than n is one shingle. */
  private def naiveGrams(s: String, n: Int): Set[Seq[String]] = {
    val toks = s.split("\\s+").toSeq
    if (toks.size >= n) toks.sliding(n).toSet else Set(toks)
  }

  test("jaccard pairs ≡ naive set arithmetic within blocks") {
    val rnd = new Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val pairsSeen = scala.collection.mutable.Map(1 -> 0, 2 -> 0, 3 -> 0)
    (1 to rounds).foreach { round =>
      val docs = (1 to 25).map { i =>
        val words = Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, words.mkString(" "), s"b${rnd.nextInt(2)}")
      }
      val df = docs.toDF("doc_id", "text", "source")
      for (n <- Seq(1, 2, 3)) {
        // longer grams over an 8-word vocabulary rarely reach 0.6; lower
        // thresholds keep pairs (pairsSeen below)
        val t = Map(1 -> 0.6, 2 -> 0.3, 3 -> 0.1)(n)
        val naive = (for {
          a <- docs; b <- docs
          if a._3 == b._3 && a._1 < b._1
          sa = naiveGrams(a._2, n); sb = naiveGrams(b._2, n)
          j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
          if j >= t
        } yield (a._1, b._1)).toSet
        pairsSeen(n) += naive.size
        // the forced regimes on every third round: each pass is several jobs
        for ((name, r) <- if (round % 3 == 0) regimes else regimes.take(1)) {
          val got = inRegime(r)(DedupSuite.ngramJaccardPairs(df, "doc_id", "text", "source",
            n = n, threshold = t).collect().map(row => (row.getLong(0), row.getLong(1))).toSet)
          assert(got == naive, s"round=$round n=$n regime=$name")
        }
      }
    }
    assert(pairsSeen.values.forall(_ > 0), s"some n never produced a pair: $pairsSeen")
  }

  test("heavy hitters ≡ exact groupBy/having, across random corpora and sketch sizes") {
    val rnd = new Random(2024)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    (1 to 6).foreach { round =>
      val docs = (1 to 30).map { i =>
        // zipf-ish: low-index words are much more frequent
        val words = Seq.fill(5 + rnd.nextInt(15))(
          vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
        (i.toLong, words.mkString(" "))
      }
      val allTokens = docs.flatMap(_._2.split("\\s+"))
      Seq(11, 32, 101).foreach { k => // phi=0.1 > 1/k for all
        val minCount = math.ceil(0.1 * allTokens.size).toLong
        val naive = allTokens.groupBy(identity).view.mapValues(_.size.toLong)
          .filter(_._2 >= minCount).toMap
        val got = graft.operators.HeavyHitters
          .heavyGrams(docs.toDF("doc_id", "text").repartition(5), "text",
            n = 1, phi = 0.1, k = k)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == naive, s"k=$k round=$round")
      }
    }
  }

  test("LSH pairs always contain identical-content docs, for random content") {
    val rnd = new Random(77)
    (1 to 6).foreach { round =>
      val text = Seq.fill(12 + rnd.nextInt(20))(s"t${rnd.nextInt(50)}").mkString(" ")
      val other = Seq.fill(15)(s"z${rnd.nextInt(50)}x").mkString(" ")
      val docs = Seq((1L, text), (2L, text), (3L, other)).toDF("doc_id", "text")
      val mh = DedupSuite.minHashLshPairs(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(mh.contains((1L, 2L)), s"minhash round=$round")
      val sh = DedupSuite.simHashPairs(docs, "doc_id", "text")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(sh.get((1L, 2L)).contains(0L), s"simhash round=$round")
    }
  }

  test("banded Hamming pairs ≡ naive all-pairs popcount, self and across forms") {
    val rnd = new Random(64)
    def flip(fp: Long, d: Int): Long =
      rnd.shuffle((0 until 64).toList).take(d).foldLeft(fp)((f, b) => f ^ (1L << b))
    def ham(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b).toLong
    Seq(0, 1, 3, 7).foreach { maxH =>
      // random fingerprints, each with planted neighbours at every distance
      // 0 … maxH+1 (0 = an exact copy, maxH+1 = just outside the bound)
      val fps = Seq.fill(10)(rnd.nextLong())
        .flatMap(b => b +: (0 to maxH + 1).map(flip(b, _)))
        .zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      // self form: each unordered pair once, with unique ids and with ids
      // that own several rows (a clip's frame hashes: rows pair only across
      // ids, id_a < id_b)
      Seq(fps.size, 7).foreach { nIds =>
        val byId = fps.map { case (i, fp) => (i % nIds, fp) }
        val naive = for {
          (ia, fa) <- byId; (ib, fb) <- byId if ia < ib && ham(fa, fb) <= maxH
        } yield (ia, ib, ham(fa, fb))
        assert(rows(DedupSuite.hammingBandedPairs(byId.toDF("id", "fp"), "id", "fp",
          maxHamming = maxH)) === naive.sorted, s"self maxHamming=$maxH nIds=$nIds")
        assert(naive.nonEmpty)
      }
      // across form: every (left, right) pair once, no id canonicalization
      val (left, right) = fps.partition(_._1 % 3 == 0)
      val naive = for {
        (ia, fa) <- left; (ib, fb) <- right if ham(fa, fb) <= maxH
      } yield (ia, ib, ham(fa, fb))
      assert(rows(DedupSuite.hammingBandedPairsAcross(left.toDF("id", "fp"),
        right.toDF("id", "fp"), "id", "fp", maxHamming = maxH)) === naive.sorted,
        s"across maxHamming=$maxH")
      assert(naive.nonEmpty)
    }
  }

  test("matrix pivot/unpivot round-trips the long table") {
    val rnd = new Random(42)
    val samples = Seq("s1", "s2", "s3")
    val long = (for { g <- 1 to 20; s <- samples }
      yield (s"gene$g", s, rnd.nextInt(100).toString)).toDF("Symbol", "sample", "value")
    val m = MatrixBuilder.pivotMatrix(long, "Symbol", "sample", "value", samples)
    val back = MatrixBuilder.unpivot(m)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val orig = long.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(back == orig)
  }

  test("connected components ≡ naive transitive closure, both regimes, random graphs") {
    val rnd = new Random(777)
    (1 to rounds).foreach { round =>
      val nVerts = 10 + rnd.nextInt(30)
      val nEdges = 5 + rnd.nextInt(40)
      val edges = (1 to nEdges).map { _ =>
        val a = rnd.nextInt(nVerts).toLong; val b = rnd.nextInt(nVerts).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      if (edges.nonEmpty) {
        // naive closure: repeated relabel to min neighbor until fixpoint
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        var label = verts.map(v => v -> v).toMap
        var changed = true
        while (changed) {
          changed = false
          edges.foreach { case (a, b) =>
            val m = math.min(label(a), label(b))
            if (label(a) != m || label(b) != m) {
              label += a -> m; label += b -> m; changed = true
            }
          }
        }
        val df = edges.toDF("id_a", "id_b")
        Seq(1000000L /* driver union-find */, 0L /* distributed */).foreach { cap =>
          val got = DedupSuite.connectedComponents(df, maxDriverEdges = cap)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == label, s"CC mismatch round=$round cap=$cap")
        }
      }
    }
  }

  test("BPE pre-tokens concatenate back to the original text (lossless partition)") {
    import graft.functions.TextFunctions
    val rnd = new Random(31)
    val alphabet = "abc XY12 ,.!?'\t"
    val texts = (1 to 50).map { i =>
      (i.toLong, (1 to (5 + rnd.nextInt(60))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val rows = texts.toDF("id", "text")
      .select(col("id"), col("text"),
        concat_ws("", TextFunctions.bpeTokens(col("text"))).as("rejoined"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"BPE tokens must partition the text exactly: '${r.getString(1)}'")
    }
  }

  test("maxRunLength on sorted arrays ≡ naive max frequency, random multisets") {
    import graft.functions.TextFunctions
    val rnd = new Random(4242)
    (1 to rounds).foreach { round =>
      val n = 1 + rnd.nextInt(60)
      val words = (1 to n).map(_ => s"w${rnd.nextInt(8)}")
      val naive = words.groupBy(identity).values.map(_.size).max.toLong
      val got = Seq(words).toDF("arr")
        .select(TextFunctions.maxRunLength(array_sort(col("arr"))))
        .head().getLong(0)
      assert(got == naive, s"round=$round words=$words")
    }
  }

  test("trimByValueQuantile ≡ naive value-threshold scan, random distributions") {
    import graft.operators.Sampling
    val rnd = new Random(777)
    (1 to rounds).foreach { round =>
      val n = 20 + rnd.nextInt(100)
      val vals = (1 to n).map(_ => rnd.nextInt(15).toLong)
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      Seq((0.05, 0.95), (0.1, 0.5), (0.0, 1.0)).foreach { case (lo, hi) =>
        // naive: same ceil arithmetic over the sorted values
        val sorted = vals.sorted
        def cutValue(frac: Double): Long = {
          val k = math.ceil(frac * n).toLong
          if (k <= 0) sorted.head else sorted(k.toInt - 1)
        }
        val (loV, hiV) = (cutValue(lo), cutValue(hi))
        val naive = vals.filter(v => v >= loV && v <= hiV).sorted
        val got = Sampling.trimByValueQuantile(df, "v", lo, hi)
          .select("v").as[Long].collect().sorted.toSeq
        assert(got == naive, s"round=$round lo=$lo hi=$hi n=$n")
      }
    }
  }

  test("stratifiedLimit keeps min(m, group size) rows and is a subset of the input") {
    import graft.operators.Sampling
    val rnd = new Random(31337)
    (1 to rounds).foreach { round =>
      val n = 30 + rnd.nextInt(80)
      val rows = (1 to n).map(i => (i.toLong, s"g${rnd.nextInt(5)}"))
      val df = rows.toDF("id", "grp")
      val m = 1 + rnd.nextInt(10)
      val kept = Sampling.stratifiedLimit(df, "grp", "id", m)
        .as[(Long, String)].collect().toSeq
      val bySize = rows.groupBy(_._2).map { case (g, rs) => g -> rs.size }
      kept.groupBy(_._2).foreach { case (g, rs) =>
        assert(rs.size == math.min(m, bySize(g)), s"round=$round group=$g m=$m")
      }
      assert(kept.toSet.subsetOf(rows.toSet))
      assert(kept.groupBy(_._2).keySet == bySize.keySet)
    }
  }

  test("chunking covers every token exactly; reconstructs for random docs and strides") {
    val rnd = new Random(77)
    (1 to rounds).foreach { round =>
      val nTok = 1 + rnd.nextInt(120)
      val text = (1 to nTok).map(i => s"w$i").mkString(" ")
      val chunkSize = 2 + rnd.nextInt(30)
      val stride = 1 + rnd.nextInt(chunkSize)
      val chunks = graft.operators.Chunker.chunkByTokens(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", chunkSize, stride)
        .collect().sortBy(_.getLong(1))
        .map(r => (r.getLong(1), r.getString(3)))
      // coverage: the union of chunk tokens is exactly the doc's token set
      assert(chunks.flatMap(_._2.split(" ")).toSet == (1 to nTok).map(i => s"w$i").toSet,
        s"round=$round c=$chunkSize s=$stride n=$nTok")
      // chunk i starts at token i*stride+1 — stride-reconstruction property
      chunks.foreach { case (idx, c) =>
        assert(c.split(" ").head == s"w${idx * stride + 1}",
          s"round=$round chunk=$idx starts wrong")
      }
      // count formula
      val expected = if (nTok <= chunkSize) 1 else (nTok - chunkSize + stride - 1) / stride + 1
      assert(chunks.length == expected, s"round=$round count")
    }
  }

  test("PII redaction is idempotent and leaves PII-free text unchanged") {
    import graft.functions.TextFunctions
    val rnd = new Random(88)
    val texts = (1 to 40).map { i =>
      val base = (1 to 5 + rnd.nextInt(10)).map(j => s"word${rnd.nextInt(50)}").mkString(" ")
      rnd.nextInt(3) match {
        case 0 => base
        case 1 => s"$base user$i@example.com tail"
        case _ => s"$base +1-555-${1000 + rnd.nextInt(9000)} and 10.${rnd.nextInt(255)}.0.$i"
      }
    }
    val df = texts.toDF("text")
    val once = df.select(TextFunctions.redactPii(col("text")).as("r")).as[String].collect()
    val twice = df.select(TextFunctions.redactPii(
      TextFunctions.redactPii(col("text"))).as("r")).as[String].collect()
    assert(once.toSeq == twice.toSeq) // idempotent: placeholders never re-match
    texts.zip(once).foreach { case (orig, red) =>
      if (!orig.contains("@") && !orig.contains("+1-") && !orig.contains("10."))
        assert(orig == red, s"clean text must be untouched: $orig")
      else assert(!red.contains("@example.com") && !red.contains("+1-555-"),
        s"PII must be gone: $red")
    }
  }

  test("sqrtCapSample keeps min(group, k*ceil(sqrt(group))) rows, subset of input") {
    val rnd = new Random(99)
    (1 to rounds).foreach { round =>
      val rows = (1 to 150 + rnd.nextInt(150)).map(i =>
        (i.toLong, s"g${rnd.nextInt(5)}"))
      val df = rows.toDF("id", "grp")
      val k = 1 + rnd.nextInt(3)
      val kept = graft.operators.Sampling.sqrtCapSample(df, "grp", "id", k)
        .as[(Long, String)].collect().toSeq
      val bySize = rows.groupBy(_._2).map { case (g, rs) => g -> rs.size }
      kept.groupBy(_._2).foreach { case (g, rs) =>
        val cap = k * math.ceil(math.sqrt(bySize(g).toDouble)).toInt
        assert(rs.size == math.min(cap, bySize(g)), s"round=$round g=$g k=$k")
      }
      assert(kept.toSet.subsetOf(rows.toSet))
    }
  }

  test("containment pairs ≡ naive set arithmetic; wrapped docs always found") {
    val rnd = new Random(111)
    val vocab = (1 to 60).map(i => s"v$i")
    (1 to rounds).foreach { round =>
      val docs = (1 to 25).map { i =>
        (i.toLong, (1 to 8 + rnd.nextInt(25)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // wrap some docs: original must be contained in its wrapped twin
      val wrapped = docs.filter(_._1 % 5 == 0).map { case (id, t) =>
        (id + 1000L, s"$t extra trailing boilerplate words appended") }
      val all = docs ++ wrapped
      val df = all.map { case (id, t) => (id, t, "blk") }.toDF("doc_id", "text", "src")
      val t = 0.8
      val naive = (for {
        a <- all; b <- all
        if a._1 < b._1
        ga = naiveGrams(a._2, 3); gb = naiveGrams(b._2, 3)
        inter = (ga intersect gb).size
        if inter.toDouble / math.min(ga.size, gb.size) >= t
      } yield (a._1, b._1)).toSet
      for ((name, r) <- if (round % 3 == 0) regimes else regimes.take(1)) {
        val got = inRegime(r)(DedupSuite.ngramContainmentPairs(df, "doc_id", "text", "src", 3, t)
          .collect().map(row => (row.getLong(0), row.getLong(1))).toSet)
        assert(got == naive, s"round=$round regime=$name")
        docs.filter(_._1 % 5 == 0).foreach { case (id, _) =>
          assert(got.contains((id, id + 1000L)),
            s"round=$round regime=$name wrapped twin of $id missed")
        }
      }
    }
  }

  test("dedup keep-first is idempotent and never grows") {
    val rnd = new Random(5)
    val acc = (1 to 80).map(i => (s"SRR$i", s"GSM${rnd.nextInt(20)}", i.toLong))
      .toDF("Run", "geo_accession", "_row_order")
    val once = AccListOps.dedupKeepFirst(acc)
    val twice = AccListOps.dedupKeepFirst(once)
    assert(once.collect().toSet == twice.collect().toSet)
    assert(once.count() == acc.select("geo_accession").distinct().count())
    // keep-FIRST semantics: the surviving row per key is the min _row_order one
    val naive = acc.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).map(_._2.minBy(_._3)._1).toSet
    assert(once.collect().map(_.getString(0)).toSet == naive)
  }
}
