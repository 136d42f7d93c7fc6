package graft.operators

import graft.SparkSpec
import graft.expressions.PqEncode
import org.apache.spark.sql.functions._

class ProductQuantizationSpec extends SparkSpec {

  import spark.implicits._
  private val pq = ProductQuantization

  private def vecDf(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("id", "v")

  test("PqEncode: per-subspace L2 argmin, ties to the LOWER centroid index") {
    // m=2, dsub=2, ksub=2: subspace 0 centroids {(0,0),(1,1)}, subspace 1 {(2,2),(4,4)}
    val cb: pq.Codebooks =
      Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(2.0, 2.0), Seq(4.0, 4.0)))
    val df = vecDf(
      1L -> Seq(0.1, 0.1, 3.9, 3.9), // sub0 → 0, sub1 → 1
      2L -> Seq(0.9, 0.9, 2.1, 2.1), // sub0 → 1, sub1 → 0
      3L -> Seq(0.5, 0.5, 3.0, 3.0)) // exact ties in BOTH subspaces → lower index 0
    val got = pq.encode(df, "v", cb).select($"id", $"pq_codes")
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) == Seq(0, 1))
    assert(got(2L) == Seq(1, 0))
    assert(got(3L) == Seq(0, 0))
  }

  test("PqEncode: null element nulls the code array (VecDot convention)") {
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    val df = Seq((1L, Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0))))
      .toDF("id", "v")
    val out = df.select(PqEncode($"v", cb).as("c")).collect()
    assert(out.head.isNullAt(0))
  }

  test("pack/unpack roundtrip across all subspaces at the default geometry") {
    val m = 8; val ksub = 16
    // one synthetic code array exercising every field position and both extremes
    val codes = Seq(0, 15, 7, 8, 1, 14, 3, 12)
    val df = Seq((1L, codes)).toDF("id", "codes")
      .withColumn("packed", pq.packCodes($"codes", m, ksub))
    val packed = df.select($"packed").as[Long].head()
    assert(packed == codes.zipWithIndex.map { case (c, s) => c.toLong << (4 * s) }.sum)
    val back = df.select((0 until m).map(s =>
      pq.unpackCode($"packed", s, ksub).as(s"c$s")): _*).as[(Int, Int, Int, Int, Int, Int, Int, Int)].head()
    assert(back.productIterator.toSeq == codes)
  }

  test("pack/unpack roundtrip at the full-64-bit FAISS geometry (m=8, ksub=256), sign bit set") {
    val m = 8; val ksub = 256
    // top field 255 sets bit 63 → negative packed long; unpack must mask it off
    val codes = Seq(0, 255, 128, 1, 254, 63, 200, 255)
    val df = Seq((1L, codes)).toDF("id", "codes")
      .withColumn("packed", pq.packCodes($"codes", m, ksub))
    val packed = df.select($"packed").as[Long].head()
    assert(packed < 0, "top field 255 must set the sign bit — geometry check")
    val back = df.select((0 until m).map(s =>
      pq.unpackCode($"packed", s, ksub).as(s"c$s")): _*).as[(Int, Int, Int, Int, Int, Int, Int, Int)].head()
    assert(back.productIterator.toSeq == codes)
  }

  private def syntheticCorpus(n: Int, dims: Int) = {
    // deterministic, well-spread: four latent clusters + per-row jitter
    val rows = (0 until n).map { i =>
      val c = i % 4
      val v = (0 until dims).map(d =>
        math.sin(c * 10 + d) * 2.0 + math.cos(i * 0.7 + d * 0.3) * 0.25)
      (i.toLong, v)
    }
    rows.toDF("id", "v")
  }

  test("trainCodebooks: Lloyd iterations monotonically non-increase quantization error") {
    val df = syntheticCorpus(200, 16).cache()
    val m = 4; val ksub = 4
    val errs = (0 to 3).map { it =>
      pq.quantizationError(df, "v", pq.trainCodebooks(df, "v", "id", m, ksub, it))
    }
    errs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"error rose across an iteration: $errs")
    }
    // the seed codebook (4 lowest-id rows) is a poor quantizer for 4 spread
    // clusters — training must strictly improve it, not just not-regress
    assert(errs.last < errs.head * 0.9, s"training did not improve error: $errs")
  }

  test("adcTopK with an exhaustive codebook reproduces exact L2 ranking (the PQ q65-style identity)") {
    val dims = 8; val m = 4
    val df = syntheticCorpus(24, dims).cache()
    // every vector is its own centroid → quantization error 0 → ADC == exact L2²
    val cb = pq.seedCodebooks(df, "v", "id", m, ksub = 24)
    val query = df.orderBy($"id").limit(1).select($"v").as[Seq[Double]].head()
    val encoded = pq.encode(df, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub = 24).as("packed"))
    val got = pq.adcTopK(encoded, "packed", "id", cb, query, k = 5)
      .select($"id").as[Long].collect().toSeq
    val exact = df.select($"id",
      (0 until dims).map(d => ($"v" (d) - lit(query(d))) * ($"v" (d) - lit(query(d))))
        .reduce(_ + _).as("l2"))
      .orderBy($"l2", $"id").limit(5).select($"id").as[Long].collect().toSeq
    assert(got == exact)
  }

  test("adcDistance equals the driver-side LUT sum recomputed per row") {
    val dims = 8; val m = 4; val ksub = 3
    val df = syntheticCorpus(30, dims).cache()
    val cb = pq.trainCodebooks(df, "v", "id", m, ksub, iters = 2)
    val query = (0 until dims).map(d => math.sin(d * 1.3)).toSeq
    val lut = pq.adcLut(query, cb)
    val rows = pq.encode(df, "v", cb)
      .select($"id", $"pq_codes",
        pq.adcDistance(pq.packCodes($"pq_codes", m, ksub), lut, ksub).as("adc"))
      .as[(Long, Seq[Int], Double)].collect()
    rows.foreach { case (_, codes, adc) =>
      val expect = codes.zipWithIndex.map { case (c, s) => lut(s)(c) }.reduce(_ + _)
      assert(adc == expect)
    }
  }

  test("adcTopKRefined: full candidate coverage reproduces exact L2 ranking even under a coarse codebook") {
    val dims = 8; val m = 4; val ksub = 2 // deliberately lossy quantizer
    val df = syntheticCorpus(30, dims).cache()
    val cb = pq.seedCodebooks(df, "v", "id", m, ksub)
    val query = df.orderBy($"id".desc).limit(1).select($"v").as[Seq[Double]].head()
    val encoded = pq.encode(df, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"))
    // refineFactor * k >= corpus: stage 2 re-ranks everything exactly, so the
    // quantizer cannot cost recall — the identity that pins the refine join
    val got = pq.adcTopKRefined(encoded, "packed", "id", df, "v", cb, query,
      k = 5, refineFactor = 6)
      .select($"id").as[Long].collect().toSeq
    val exact = df.select($"id",
      (0 until dims).map(d => ($"v" (d) - lit(query(d))) * ($"v" (d) - lit(query(d))))
        .reduce(_ + _).as("l2"))
      .orderBy($"l2", $"id").limit(5).select($"id").as[Long].collect().toSeq
    assert(got == exact)
    // and the lossy single-stage ADC is genuinely worse here (guards against
    // the identity passing because the quantizer was accidentally exact)
    val adcOnly = pq.adcTopK(encoded, "packed", "id", cb, query, 5)
      .select($"id").as[Long].collect().toSeq
    assert(adcOnly != exact, "ksub=2 seed quantizer unexpectedly exact — weaken the corpus")
  }

  test("ivfPqTopK: full probe + full refine reduces to exact search; narrow probe stays within probed cells") {
    val dims = 8; val m = 4; val kCent = 3
    val df = syntheticCorpus(36, dims).cache()
    val cents = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val cb = pq.trainCodebooks(df, "v", "id", m, ksub = 4, iters = 2)
    val query = df.orderBy($"id".desc).limit(1).select($"v").as[Seq[Double]].head()
    val encoded = SimilaritySearch.assignCells(pq.encode(df, "v", cb)
        .select($"id", pq.packCodes($"pq_codes", m, ksub = 4).as("packed"), $"v"),
        "v", cents, "cell")
      .select($"id", $"packed", $"cell").cache()
    // identity leg: every cell probed, refine re-ranks a corpus-covering set
    val got = pq.ivfPqTopK(encoded, "packed", "id", "cell", cents, cb, query,
      nprobe = kCent, k = 5, original = Some(df), vecCol = "v", refine = 8)
      .select($"id").as[Long].collect().toSeq
    val exact = df.select($"id",
      (0 until dims).map(d => ($"v" (d) - lit(query(d))) * ($"v" (d) - lit(query(d))))
        .reduce(_ + _).as("l2"))
      .orderBy($"l2", $"id").limit(5).select($"id").as[Long].collect().toSeq
    assert(got == exact)
    // narrow probe: results must come only from the probed (nearest) cell
    val near = pq.ivfPqTopK(encoded, "packed", "id", "cell", cents, cb, query,
      nprobe = 1, k = 5)
    val nearIds = near.select($"id").as[Long].collect().toSet
    val cellOf = encoded.select($"id", $"cell").as[(Long, Int)].collect().toMap
    assert(nearIds.map(cellOf).size == 1, "nprobe=1 must search exactly one cell")
  }

  test("residual IVFADC: exhaustive residual codebook reproduces exact L2 — (q−c)−(v−c) = q−v") {
    val dims = 8; val m = 4; val kCent = 3
    val df = syntheticCorpus(24, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    // every row's residual is its own codeword → ADC distance is EXACTLY
    // L2²(q − cen, v − cen) = L2²(q, v): the residual identity
    val cb = pq.seedCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub = 24)
    val query = df.orderBy($"id".desc).limit(1).select($"v").as[Seq[Double]].head()
    val encoded = pq.encodeResidual(assigned, "v", "cell", coarse, cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub = 24).as("packed"), $"cell")
    val got = pq.ivfPqResidualTopK(encoded, "packed", "id", "cell", coarse, cb,
      query, nprobe = kCent, k = 5)
      .select($"id").as[Long].collect().toSeq
    val exact = df.select($"id",
      (0 until dims).map(d => ($"v" (d) - lit(query(d))) * ($"v" (d) - lit(query(d))))
        .reduce(_ + _).as("l2"))
      .orderBy($"l2", $"id").limit(5).select($"id").as[Long].collect().toSeq
    assert(got == exact)
  }

  test("residual codebooks: Lloyd improves residual error, and residual beats plain at equal geometry on clustered data") {
    val dims = 16; val m = 4; val ksub = 4; val kCent = 4
    val df = syntheticCorpus(400, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 3)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    val seedErr = pq.quantizationErrorResidual(assigned, "v", "cell", coarse,
      pq.seedCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub))
    val trained = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 3)
    val trainedErr = pq.quantizationErrorResidual(assigned, "v", "cell", coarse, trained)
    assert(trainedErr <= seedErr + 1e-12, s"residual Lloyd regressed: $seedErr -> $trainedErr")
    // the residual claim itself: same m×ksub budget spends better on
    // residual space than on the raw clustered corpus
    val plainErr = pq.quantizationError(df, "v",
      pq.trainCodebooks(df, "v", "id", m, ksub, 3))
    assert(trainedErr < plainErr,
      s"residual ($trainedErr) must beat plain ($plainErr) on clustered data")
  }

  test("PqEncode: a corpus/codebook geometry mismatch raises instead of encoding silently") {
    // m=2, dsub=2 → expects 4-dim vectors; 3- and 5-dim rows must be loud
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    for (bad <- Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0, 4.0, 5.0))) {
      val err = intercept[Exception] {
        vecDf(1L -> bad).select(PqEncode($"v", cb)).collect()
      }
      assert(err.getMessage.contains("pq_encode expects 4-dim"),
        s"wrong error for ${bad.length}-dim input: ${err.getMessage}")
    }
    // residual twin: same loudness
    val errR = intercept[Exception] {
      vecDf(1L -> Seq(1.0, 2.0, 3.0)).withColumn("cell", lit(0))
        .select(graft.expressions.PqResidualEncode(
          $"v", $"cell", Seq(Seq(0.0, 0.0, 0.0, 0.0)), cb)).collect()
    }
    assert(errR.getMessage.contains("pq_residual_encode expects 4-dim"))
  }

  test("adcTopK / refine exclude null-poisoned rows instead of ranking them first") {
    // a null embedding element → null codes → null packed → null adc_dist;
    // asc sort default is nulls-FIRST, so without the filter the dirty row
    // would surface as the single nearest neighbor
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0, 0.0), Seq(9.0, 9.0)))
    val clean = Seq((1L, Seq[Option[Double]](Some(0.1), Some(0.1))),
      (2L, Seq[Option[Double]](Some(8.0), Some(8.0))),
      (3L, Seq[Option[Double]](Some(1.0), None))).toDF("id", "v")
    val encoded = pq.encode(clean, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m = 1, ksub = 2).as("packed"))
    val got = pq.adcTopK(encoded, "packed", "id", cb, Seq(0.0, 0.0), k = 3)
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L), s"null-poisoned row must be excluded, got $got")
    val refined = pq.adcTopKRefined(encoded, "packed", "id", clean, "v", cb,
      Seq(0.0, 0.0), k = 3, refineFactor = 1)
      .select($"id").as[Long].collect().toSeq
    assert(refined == Seq(1L, 2L), s"refine must also exclude dirty rows, got $refined")
  }

  test("probe selection breaks exact cosine ties toward the HIGHER index — the assignment rule") {
    // centroids 1 and 2 are the same direction (cosine ties exactly);
    // NearestCentroid assigns tied rows to the higher index, so the probe
    // must pick index 2 over 1 or an nprobe=1 search misses those rows
    val cents = Seq(Seq(-1.0, 0.0), Seq(1.0, 1.0), Seq(2.0, 2.0))
    assert(pq.probeCells(cents, Seq(1.0, 1.0), nprobe = 1) == Seq(2))
    assert(pq.probeCells(cents, Seq(1.0, 1.0), nprobe = 2) == Seq(2, 1))
    // end-to-end: a row exactly on the tied direction is assigned to cell 2
    // (higher), and the nprobe=1 residual search must find it
    val df = Seq((1L, Seq(1.0, 1.0)), (2L, Seq(-2.0, 0.1))).toDF("id", "v")
    val assigned = SimilaritySearch.assignCells(df, "v", cents, "cell")
    assert(assigned.filter($"id" === 1L).select($"cell").as[Int].head() == 2)
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0)), Seq(Seq(0.0)))
    val encoded = pq.encodeResidual(assigned, "v", "cell", cents, cb)
      .select($"id", pq.packCodes($"pq_codes", m = 2, ksub = 1).as("packed"), $"cell")
    val got = pq.ivfPqResidualTopK(encoded, "packed", "id", "cell", cents, cb,
      query = Seq(1.0, 1.0), nprobe = 1, k = 1)
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L), s"nprobe=1 probe missed the tied-cell row: $got")
  }

  test("broadcast-LUT ivfPqResidualTopK equals the per-branch driver recomputation") {
    val dims = 8; val m = 4; val kCent = 3; val ksub = 3
    val df = syntheticCorpus(36, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val query = (0 until dims).map(d => math.cos(d * 0.9)).toSeq
    val encoded = pq.encodeResidual(assigned, "v", "cell", coarse, cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell",
        $"pq_codes")
    for (nprobe <- Seq(1, 2, kCent)) {
      val got = pq.ivfPqResidualTopK(encoded.select($"id", $"packed", $"cell"),
        "packed", "id", "cell", coarse, cb, query, nprobe, k = 8)
        .as[(Long, Double)].collect().toSeq
      // driver replay of the old branch formulation: per probed cell, that
      // cell's residual LUT summed over the row's (unpacked) codes
      val probed = pq.probeCells(coarse, query, nprobe)
      val luts = probed.map(c => c -> pq.residualAdcLut(query, coarse, c, cb)).toMap
      val expect = encoded.select($"id", $"cell", $"pq_codes")
        .as[(Long, Int, Seq[Int])].collect()
        .filter { case (_, cell, _) => luts.contains(cell) }
        .map { case (id, cell, codes) =>
          id -> codes.zipWithIndex.map { case (c, s) => luts(cell)(s)(c) }.reduce(_ + _)
        }
        .sortBy { case (id, d) => (d, id) }.take(8).toSeq
      assert(got == expect, s"nprobe=$nprobe mismatch")
    }
  }

  test("PqAdcLut: residual mode equals residualAdcLut flattened; plain mode equals adcLut — bit-exact") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(30, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooks(df, "v", "id", m, ksub, iters = 2)
    // residual: every (vector, its-own-cell) pair vs the driver builder
    val gotR = assigned
      .select($"id", $"cell",
        graft.expressions.PqAdcLut($"v", $"cell", coarse, cb).as("lut"))
      .as[(Long, Int, Seq[Double])].collect()
    val vecs = df.select($"id", $"v").as[(Long, Seq[Double])].collect().toMap
    gotR.foreach { case (id, cell, lut) =>
      val expect = pq.residualAdcLut(vecs(id), coarse, cell, cb).flatten
      assert(lut == expect, s"residual LUT mismatch for id=$id cell=$cell")
    }
    // plain: the zero-extended empty centroid collapses to adcLut
    val gotP = df.select($"id", graft.expressions.PqAdcLut.plain($"v", cb).as("lut"))
      .as[(Long, Seq[Double])].collect()
    gotP.foreach { case (id, lut) =>
      assert(lut == pq.adcLut(vecs(id), cb).flatten, s"plain LUT mismatch for id=$id")
    }
  }

  test("PqAdcLut: null element nulls, bad cell and bad geometry raise") {
    val cb: pq.Codebooks = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    val coarse = Seq(Seq(0.0, 0.0, 0.0, 0.0))
    val withNull = Seq((1L, Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0)), 0))
      .toDF("id", "v", "cell")
    assert(withNull.select(graft.expressions.PqAdcLut($"v", $"cell", coarse, cb))
      .collect().head.isNullAt(0))
    val badCell = intercept[Exception] {
      Seq((1L, Seq(1.0, 2.0, 3.0, 4.0), 5)).toDF("id", "v", "cell")
        .select(graft.expressions.PqAdcLut($"v", $"cell", coarse, cb)).collect()
    }
    assert(badCell.getMessage.contains("outside coarse matrix"))
    val badGeom = intercept[Exception] {
      Seq((1L, Seq(1.0, 2.0, 3.0), 0)).toDF("id", "v", "cell")
        .select(graft.expressions.PqAdcLut($"v", $"cell", coarse, cb)).collect()
    }
    assert(badGeom.getMessage.contains("pq_adc_lut expects 4-dim"))
  }

  test("ivfPqTopKJoin: per-query batch results equal the single-query paths (residual + plain, ADC + refine, both LUT join modes)") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3; val k = 5
    val df = syntheticCorpus(40, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    val cbR = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val cbP = pq.trainCodebooks(df, "v", "id", m, ksub, 2)
    val encR = pq.encodeResidual(assigned, "v", "cell", coarse, cbR)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
      .cache()
    val encP = pq.encode(assigned, "v", cbP)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
      .cache()
    val queries = df.filter($"id" % 10 === 0)
      .select($"id".as("qid"), $"v")  // 4 queries
    val qvecs = queries.as[(Long, Seq[Double])].collect().toMap
    for (nprobe <- Seq(1, kCent); bcast <- Seq(true, false)) {
      val batchR = pq.ivfPqTopKJoin(queries, "qid", "v", encR, "packed", "id",
          "cell", coarse, cbR, nprobe, k, residual = true, broadcastLuts = bcast)
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._2)).sorted.toSeq).toMap
      qvecs.foreach { case (qid, qv) =>
        val single = pq.ivfPqResidualTopK(encR, "packed", "id", "cell", coarse,
            cbR, qv, nprobe, k)
          .as[(Long, Double)].collect().map(r => (r._2, r._1)).sorted.toSeq
        assert(batchR.getOrElse(qid, Nil) == single,
          s"residual batch != single for qid=$qid nprobe=$nprobe bcast=$bcast")
      }
    }
    // plain codes + refine leg vs ivfPqTopK
    val batchP = pq.ivfPqTopKJoin(queries, "qid", "v", encP, "packed", "id",
        "cell", coarse, cbP, nprobe = 2, k = k, residual = false,
        original = Some(df), vecCol = "v", refine = 3)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._2)).sorted.toSeq).toMap
    qvecs.foreach { case (qid, qv) =>
      val single = pq.ivfPqTopK(encP, "packed", "id", "cell", coarse, cbP, qv,
          nprobe = 2, k = k, original = Some(df), vecCol = "v", refine = 3)
        .as[(Long, Double)].collect().map(r => (r._2, r._1)).sorted.toSeq
      assert(batchP.getOrElse(qid, Nil) == single,
        s"plain refine batch != single for qid=$qid")
    }
  }

  test("knnGraphIvfPq: no self edges, exactly k neighbors per node, and full-coverage refine equals the brute-force non-self graph") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3; val k = 4
    val df = syntheticCorpus(40, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    val cbR = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val encR = pq.encodeResidual(assigned, "v", "cell", coarse, cbR)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
      .cache()
    // ADC leg: structural contract (self-exclusion, degree k) at nprobe=1
    val adcGraph = pq.knnGraphIvfPq(df, "id", "v", encR, "packed", "cell",
        coarse, cbR, nprobe = 1, k = k)
      .as[(Long, Long, Double)].collect()
    assert(adcGraph.forall { case (q, n, _) => q != n }, "self edge surfaced")
    val deg = adcGraph.groupBy(_._1).view.mapValues(_.length).toMap
    assert(deg.size == 40 && deg.values.forall(_ == k),
      s"expected degree $k for all 40 nodes, got ${deg.values.toSeq.distinct}")
    // exactness: nprobe=kCent covers every cell; refine*(k+1) >= n re-ranks
    // every candidate exactly -> the graph IS the brute-force non-self graph
    val exactGraph = pq.knnGraphIvfPq(df, "id", "v", encR, "packed", "cell",
        coarse, cbR, nprobe = kCent, k = k, original = Some(df), refine = 10,
        broadcastLuts = true)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._2)).sorted.toSeq).toMap
    val vecs = df.as[(Long, Seq[Double])].collect()
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.foreach { case (qid, qv) =>
      val brute = vecs.filter(_._1 != qid)
        .map { case (id, v) => (l2(v, qv), id) }.sorted.take(k).toSeq
      val got = exactGraph.getOrElse(qid, Nil)
      assert(got.map(_._2) == brute.map(_._2),
        s"exact graph neighbors differ for node $qid: $got vs $brute")
      got.zip(brute).foreach { case ((gd, _), (bd, _)) =>
        assert(math.abs(gd - bd) < 1e-9, s"distance drift for node $qid") }
    }
  }

  test("sdcDistance: equals the driver-side table sum; null code nulls; garbage code raises") {
    val dims = 8; val m = 4; val ksub = 3
    val df = syntheticCorpus(30, dims).cache()
    val cb = pq.trainCodebooks(df, "v", "id", m, ksub, iters = 2)
    val enc = pq.encode(df, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"),
        $"pq_codes")
    val rows = enc.as[(Long, Long, Seq[Int])].collect()
    val table = pq.sdcTables(cb)
    // all pairs vs the driver reference: Σ_s table(s)[ci·ksub+cj]
    val pairs = enc.as("a").crossJoin(enc.select($"id".as("bid"),
        $"packed".as("bpacked"), $"pq_codes".as("bcodes")).as("b"))
      .select($"id", $"bid",
        pq.sdcDistance($"packed", $"bpacked", cb).as("d"))
      .as[(Long, Long, Double)].collect()
    val codes = rows.map(r => r._1 -> r._3).toMap
    pairs.foreach { case (a, b, d) =>
      val expect = (0 until m).map(s =>
        table(s)(codes(a)(s) * ksub + codes(b)(s))).foldLeft(0.0)(_ + _)
      assert(d == expect, s"SDC drift for pair ($a, $b)")
    }
    // table symmetry + zero diagonal (L2² is a metric on centroids)
    (0 until m).foreach { s =>
      (0 until ksub).foreach { i =>
        assert(table(s)(i * ksub + i) == 0.0)
        (0 until ksub).foreach { j =>
          assert(table(s)(i * ksub + j) == table(s)(j * ksub + i)) }
      }
    }
    // null code -> null distance
    val withNull = Seq((Some(0L), Option.empty[Long])).toDF("a", "b")
    assert(withNull.select(pq.sdcDistance($"a", $"b", cb)).collect().head.isNullAt(0))
    // a long that unpacks outside ksub raises loudly
    val bad = intercept[Exception] {
      Seq((3L, 3L)).toDF("a", "b")
        .select(pq.sdcDistance($"a", $"b", cb)).collect()
    }
    assert(bad.getMessage.contains("outside ksub"))
  }

  test("knnGraphSdc: no self edges, degree k, full-probe graph equals the driver SDC ranking, subset nodes keep full-corpus candidates") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3; val k = 4
    val df = syntheticCorpus(40, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell").cache()
    val cb = pq.trainCodebooks(df, "v", "id", m, ksub, iters = 2)
    val enc = pq.encode(assigned, "v", cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell",
        $"pq_codes")
      .cache()
    val encIdx = enc.select($"id", $"packed", $"cell")
    val graph = pq.knnGraphSdc(encIdx, encIdx, "id", "packed", "cell",
        coarse, cb, nprobe = kCent, k = k)
      .as[(Long, Long, Double)].collect()
    assert(graph.forall { case (q, n, _) => q != n }, "self edge surfaced")
    val deg = graph.groupBy(_._1).view.mapValues(_.length).toMap
    assert(deg.size == 40 && deg.values.forall(_ == k))
    // nprobe = kCent covers every cell -> the graph IS the driver-side SDC
    // ranking over all non-self pairs
    val table = pq.sdcTables(cb)
    val codes = enc.select($"id", $"pq_codes").as[(Long, Seq[Int])].collect().toMap
    def sdc(a: Long, b: Long): Double = (0 until m).map(s =>
      table(s)(codes(a)(s) * ksub + codes(b)(s))).foldLeft(0.0)(_ + _)
    val got = graph.groupBy(_._1).view
      .mapValues(_.map(r => (r._3, r._2)).sorted.toSeq).toMap
    codes.keys.foreach { qid =>
      val expect = codes.keys.filter(_ != qid)
        .map(x => (sdc(qid, x), x)).toSeq.sorted.take(k)
      assert(got(qid) == expect, s"SDC graph differs for node $qid")
    }
    // subset nodes: graph only for those nodes, candidates still corpus-wide
    val sub = encIdx.filter($"id" < 5)
    val subGraph = pq.knnGraphSdc(sub, encIdx, "id", "packed", "cell",
        coarse, cb, nprobe = kCent, k = k)
      .as[(Long, Long, Double)].collect()
    assert(subGraph.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    val subGot = subGraph.groupBy(_._1).view
      .mapValues(_.map(r => (r._3, r._2)).sorted.toSeq).toMap
    (0L to 4L).foreach { qid =>
      assert(subGot(qid) == got(qid), s"subset graph differs for node $qid") }
  }

  test("savePqIndex/loadPqIndex: geometry round-trips bit-exactly, codes stay cell-partitioned, and a reloaded index searches identically") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(40, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val enc = pq.encodeResidual(assigned, "v", "cell", coarse, cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
    val path = tempDir().resolve("pqindex").toString
    pq.savePqIndex(enc, "id", "packed", "cell", coarse, cb,
      residual = true, path)
    val idx = pq.loadPqIndex(spark, path)
    assert(idx.coarse == coarse, "coarse matrix drifted through parquet")
    assert(idx.codebooks == cb, "codebooks drifted through parquet")
    assert(idx.residual && idx.m == m && idx.ksub == ksub)
    assert(new java.io.File(s"$path/codes/gen=0").listFiles()
      .exists(_.getName.startsWith("cell=")),
      "codes must be cell-partitioned inside their gen=N commit partition")
    val q = df.filter($"id" === 7L).select($"v").as[Seq[Double]].collect().head
    val before = pq.ivfPqResidualTopK(enc, "packed", "id", "cell", coarse, cb,
        q, nprobe = 2, k = 5).as[(Long, Double)].collect().toSeq
    val after = pq.ivfPqResidualTopK(idx.codes, "packed", "vec_id", "cell",
        idx.coarse, idx.codebooks, q, nprobe = 2, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(before == after, "reloaded index must search identically")
    // rotation seed: absent by default, round-trips when set (a rotated-
    // space index is only searchable with the same query pre-transform)
    assert(idx.rotationSeed.isEmpty && idx.rotation.isEmpty)
    val path2 = tempDir().resolve("pqindexRot").toString
    pq.savePqIndex(enc, "id", "packed", "cell", coarse, cb,
      residual = true, path2, rotationSeed = Some(42L))
    val seeded = pq.loadPqIndex(spark, path2)
    assert(seeded.rotationSeed.contains(42L))
    assert(seeded.rotationMatrix(dims).contains(Rotation.rotationMatrix(dims, 42L)))
    // a LEARNED rotation has no generating seed: the matrix itself persists
    // bit-exactly and wins as the index's query pre-transform
    val learned = Rotation.rotationMatrix(dims, seed = 9L) // any explicit matrix
    val path3 = tempDir().resolve("pqindexLearned").toString
    pq.savePqIndex(enc, "id", "packed", "cell", coarse, cb,
      residual = true, path3, rotation = Some(learned))
    val lidx = pq.loadPqIndex(spark, path3)
    assert(lidx.rotation.contains(learned), "learned matrix must round-trip bit-exactly")
    assert(lidx.rotationMatrix(dims).contains(learned))
    intercept[IllegalArgumentException] {
      pq.savePqIndex(enc, "id", "packed", "cell", coarse, cb, residual = true,
        tempDir().resolve("x").toString,
        rotationSeed = Some(1L), rotation = Some(learned))
    }
  }

  test("a PQ re-save whose input fails at run time leaves the committed index intact") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(40, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val enc = pq.encodeResidual(assigned, "v", "cell", coarse, cb)
      .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
    val path = tempDir().resolve("pqresave").toString
    pq.savePqIndex(enc, "id", "packed", "cell", coarse, cb, residual = true, path)
    val q = df.filter($"id" === 7L).select($"v").as[Seq[Double]].collect().head
    def search() = pq.ivfPqResidualTopK(pq.loadPqIndex(spark, path).codes,
        "packed", "vec_id", "cell", coarse, cb, q, nprobe = kCent, k = 5)
      .as[(Long, Double)].collect().toSeq
    val before = search()
    // the one bad row raises in a task, when its code is computed
    val failing = enc.withColumn("packed",
      when($"id" === 7L, raise_error(lit("corrupt code"))).otherwise($"packed"))
    intercept[Exception](
      pq.savePqIndex(failing, "id", "packed", "cell", coarse, cb, residual = true, path))
    val idx = pq.loadPqIndex(spark, path)
    assert(idx.m === m && idx.ksub === ksub && idx.codes.count() === 40L)
    assert(search() === before, "the old index must still search as before")
  }

  test("appendToPqIndex: incremental batches land cell-partitioned, search sees old+new; append-to-nowhere is loud") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(60, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    def encOf(d: org.apache.spark.sql.DataFrame) =
      pq.encodeResidual(SimilaritySearch.assignCells(d, "v", coarse, "cell"),
          "v", "cell", coarse, cb)
        .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
    val batch1 = df.filter($"id" < 40L)
    val batch2 = df.filter($"id" >= 40L)
    val path = tempDir().resolve("pqappend").toString
    pq.savePqIndex(encOf(batch1), "id", "packed", "cell", coarse, cb,
      residual = true, path)
    pq.appendToPqIndex(encOf(batch2), "id", "packed", "cell", path)
    val idx = pq.loadPqIndex(spark, path)
    assert(idx.codes.count() === 60L)
    val q = df.filter($"id" === 3L).select($"v").as[Seq[Double]].collect().head
    val viaIndex = pq.ivfPqResidualTopK(idx.codes, "packed", "vec_id", "cell",
        idx.coarse, idx.codebooks, q, nprobe = kCent, k = 8)
      .as[(Long, Double)].collect().toSeq
    val direct = pq.ivfPqResidualTopK(encOf(df), "packed", "id", "cell",
        coarse, cb, q, nprobe = kCent, k = 8)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex == direct, "appended index must search as the full encode")
    val err = intercept[IllegalArgumentException] {
      pq.appendToPqIndex(encOf(batch2), "id", "packed", "cell",
        tempDir().resolve("nowhere").toString)
    }
    assert(err.getMessage.contains("no committed index meta"))

    // geometry validation — silently appending codes packed under a
    // different (m, ksub) would corrupt the index for every later reader:
    // (a) a caller-declared geometry that disagrees with the meta is loud
    val callerM = intercept[IllegalArgumentException] {
      pq.appendToPqIndex(encOf(batch2), "id", "packed", "cell", path,
        m = Some(m + 1))
    }
    assert(callerM.getMessage.contains(s"index at $path has m=$m"))
    val callerK = intercept[IllegalArgumentException] {
      pq.appendToPqIndex(encOf(batch2), "id", "packed", "cell", path,
        ksub = Some(ksub * 2))
    }
    assert(callerK.getMessage.contains(s"ksub=$ksub"))
    // (b) codes with bits above the m·width window (packed under a WIDER
    // geometry) are refused — here m=4, ksub=3 → width 2, window 8 bits
    val wide = Seq((99L, 1L << 20, 0)).toDF("id", "packed", "cell")
    val widErr = intercept[IllegalArgumentException] {
      pq.appendToPqIndex(wide, "id", "packed", "cell", path)
    }
    assert(widErr.getMessage.contains("violate index geometry"))
    // (c) an in-window field ≥ ksub (non-power-of-two ksub exposes it):
    // field0 = 0b11 = 3 ≥ ksub=3
    val tall = Seq((99L, 3L, 0)).toDF("id", "packed", "cell")
    val tallErr = intercept[IllegalArgumentException] {
      pq.appendToPqIndex(tall, "id", "packed", "cell", path)
    }
    assert(tallErr.getMessage.contains("violate index geometry"))
    // matching caller-declared geometry still appends cleanly
    pq.appendToPqIndex(encOf(batch2), "id", "packed", "cell", path,
      m = Some(m), ksub = Some(ksub))
    assert(pq.loadPqIndex(spark, path).codes.count() === 80L)
  }

  test("PQ index commit protocol: torn append invisible, vacuum reclaims orphans, search identical") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(60, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    def encOf(d: org.apache.spark.sql.DataFrame) =
      pq.encodeResidual(SimilaritySearch.assignCells(d, "v", coarse, "cell"),
          "v", "cell", coarse, cb)
        .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
    val path = tempDir().resolve("pqtorn").toString
    pq.savePqIndex(encOf(df.filter($"id" < 40L)), "id", "packed", "cell",
      coarse, cb, residual = true, path)
    // simulate a crash: a gen=1 code file landed, meta_g1 never did
    Seq((999L, 1L, 0, 1)).toDF("vec_id", "packed", "cell", "gen")
      .write.mode("append").partitionBy("gen", "cell").parquet(s"$path/codes")
    val torn = pq.loadPqIndex(spark, path)
    assert(torn.codes.count() === 40L, "uncommitted generation leaked into the read")
    // retry commits on a fresh generation; the orphan stays invisible
    pq.appendToPqIndex(encOf(df.filter($"id" >= 40L)), "id", "packed", "cell", path)
    val idx = pq.loadPqIndex(spark, path)
    assert(idx.codes.count() === 60L)
    assert(idx.codes.filter($"vec_id" === 999L).isEmpty,
      "the torn row must not be readable")
    val q = df.filter($"id" === 3L).select($"v").as[Seq[Double]].collect().head
    def search() = pq.ivfPqResidualTopK(pq.loadPqIndex(spark, path).codes,
        "packed", "vec_id", "cell", coarse, cb, q, nprobe = kCent, k = 8)
      .as[(Long, Double)].collect().toSeq
    val before = search()
    val removed = pq.vacuumPqIndex(spark, path)
    assert(removed >= 2, s"expected torn gen + superseded metas removed, got $removed")
    assert(!new java.io.File(s"$path/codes/gen=1").exists(),
      "vacuum must reclaim the torn generation")
    assert(search() === before, "vacuum must not change search results")
    assert(pq.loadPqIndex(spark, path).codes.count() === 60L)
  }

  test("PQ vacuum/append racing an in-flight append refuse on the writer lease") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(50, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    def encOf(d: org.apache.spark.sql.DataFrame) =
      pq.encodeResidual(SimilaritySearch.assignCells(d, "v", coarse, "cell"),
          "v", "cell", coarse, cb)
        .select($"id", pq.packCodes($"pq_codes", m, ksub).as("packed"), $"cell")
    val path = tempDir().resolve("pqlease").toString
    pq.savePqIndex(encOf(df.filter($"id" < 40L)), "id", "packed", "cell",
      coarse, cb, residual = true, path)
    // an append in flight: lease held, gen=1 data landed, meta_g1 not yet
    val tok = GenCommit.acquireLease(spark, path)
    Seq((999L, 1L, 0, 1)).toDF("vec_id", "packed", "cell", "gen")
      .write.mode("append").partitionBy("gen", "cell").parquet(s"$path/codes")
    assert(intercept[IllegalStateException](pq.vacuumPqIndex(spark, path))
      .getMessage.contains("lease"))
    assert(new java.io.File(s"$path/codes/gen=1").exists(),
      "a refused vacuum must not touch the in-flight generation")
    assert(intercept[IllegalStateException](
      pq.appendToPqIndex(encOf(df.filter($"id" >= 40L)), "id", "packed", "cell",
        path)).getMessage.contains("lease"))
    GenCommit.releaseLease(spark, path, tok)
    // released without committing (crash-equivalent): now a true orphan
    assert(pq.vacuumPqIndex(spark, path) >= 1)
    pq.appendToPqIndex(encOf(df.filter($"id" >= 40L)), "id", "packed", "cell", path)
    assert(pq.loadPqIndex(spark, path).codes.count() === 50L)
  }

  test("loadPqIndex legacy fallback: a pre-generational index (plain meta, ungenerated codes) still loads") {
    val dims = 8; val m = 4; val ksub = 3; val kCent = 3
    val df = syntheticCorpus(30, dims).cache()
    val coarse = SimilaritySearch.kmeansCentroids(df, "v", "id", kCent, iters = 2)
    val assigned = SimilaritySearch.assignCells(df, "v", coarse, "cell")
    val cb = pq.trainCodebooksResidual(assigned, "v", "id", "cell", coarse, m, ksub, 2)
    val enc = pq.encodeResidual(assigned, "v", "cell", coarse, cb)
      .select($"id".as("vec_id"), pq.packCodes($"pq_codes", m, ksub).as("packed"),
        $"cell")
    val path = tempDir().resolve("pqlegacy").toString
    // hand-write the pre-round-16 layout: cell-only codes + a plain `meta`
    enc.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    coarse.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      .coalesce(1).write.parquet(s"$path/coarse")
    cb.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (cent, c) => (s, c, cent) } }
      .toDF("sub", "cid", "centroid").coalesce(1).write.parquet(s"$path/codebooks")
    Seq((m, ksub, true, Option.empty[Long], false))
      .toDF("m", "ksub", "residual", "rotation_seed", "has_rotation_matrix")
      .coalesce(1).write.parquet(s"$path/meta")
    val idx = pq.loadPqIndex(spark, path)
    assert(idx.m === m && idx.ksub === ksub && idx.residual)
    assert(idx.codes.count() === 30L)
    val q = df.filter($"id" === 3L).select($"v").as[Seq[Double]].collect().head
    val got = pq.ivfPqResidualTopK(idx.codes, "packed", "vec_id", "cell",
        idx.coarse, idx.codebooks, q, nprobe = kCent, k = 5)
      .as[(Long, Double)].collect().toSeq
    val direct = pq.ivfPqResidualTopK(enc, "packed", "vec_id", "cell",
        coarse, cb, q, nprobe = kCent, k = 5)
      .as[(Long, Double)].collect().toSeq
    assert(got === direct)
  }

  test("codeWidth: ceil(log2 ksub) with a floor of one bit") {
    assert(pq.codeWidth(2) == 1)
    assert(pq.codeWidth(3) == 2)
    assert(pq.codeWidth(16) == 4)
    assert(pq.codeWidth(17) == 5)
    assert(pq.codeWidth(256) == 8)
  }
}
