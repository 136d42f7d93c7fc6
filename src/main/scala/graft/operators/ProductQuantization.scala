package graft.operators

import graft.expressions.PqEncode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns (Jégou et al. 2011): the vector
  * is split into `m` contiguous subvectors, each quantized against its own
  * `ksub`-centroid codebook, so a `dims`-float embedding compresses to
  * `m·log2(ksub)` bits. At the default geometry (dims=64, m=8, ksub=16) that
  * is 256 bytes → 32 bits — a 64× smaller ANN scan, packable into ONE int
  * column. This is the companion to the IVF family in
  * [[SimilaritySearch]]: IVF prunes WHICH rows a query scans (partition
  * pruning on the cell column), PQ shrinks WHAT each scanned row costs
  * (4 bytes + m table lookups instead of 256 bytes + a 64-dim float kernel) —
  * together they are the standard billion-scale layout (FAISS IVFADC).
  *
  * Scale shape: encoding is one native codegen expression per row
  * ([[graft.expressions.PqEncode]]) — zero shuffle, linear scan. Training is
  * Lloyd per subspace run JOINTLY: one job per iteration (assignment rides
  * the same PqEncode expression; the mean update shuffles m·ksub·dsub cells,
  * not rows). ADC search is a scan over the code column with per-row cost
  * m lookups into a broadcast-inlined m×ksub literal LUT + a top-k
  * (TakeOrderedAndProject) — no shuffle, no float math per dimension.
  *
  * Determinism contract (the oracle anchor): subspace distances accumulate
  * over dimensions in ascending order; argmin ties take the lower centroid
  * index; ADC sums subspace contributions in ascending-subspace order
  * (left-assoc `+` chain). All reproducible as unrolled SQL chains.
  */
object ProductQuantization {

  /** codebooks(s)(c)(d): subspace s, centroid c, dimension d within the
    * subspace. All subspaces carry the same centroid count and width. */
  type Codebooks = Seq[Seq[Seq[Double]]]

  private def subspaces(vec: Seq[Double], m: Int): Seq[Seq[Double]] = {
    val dsub = vec.length / m
    (0 until m).map(s => vec.slice(s * dsub, (s + 1) * dsub))
  }

  /** Deterministic untrained codebooks: subspace `s`'s centroids are the
    * s-th subvectors of the `ksub` lowest-id vectors (no rand(): stable
    * across retries, and reproducible as a `ORDER BY id LIMIT ksub` oracle
    * CTE). `dims` must divide evenly into `m` subspaces. The usual seed for
    * [[trainCodebooks]]; also the fixed quantizer the oracle queries pin. */
  def seedCodebooks(df: DataFrame, vecCol: String, idCol: String,
                    m: Int, ksub: Int): Codebooks = {
    require(m > 0 && ksub > 0, s"bad m=$m/ksub=$ksub")
    val rows = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col(idCol)).limit(ksub)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(rows.nonEmpty, "pq seed needs a non-empty frame")
    val dims = rows.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    // transpose: per subspace, the ksub seed subvectors
    (0 until m).map(s => rows.map(v => subspaces(v, m)(s)))
  }

  /** Joint Lloyd refinement of per-subspace codebooks — the PQ training step.
    * One DataFrame job per iteration: assignment is the [[PqEncode]]
    * expression (computed once per row, BELOW the Generate so the explode
    * sees it as a bound column), the update groups by (subspace, code, dim)
    * and averages — m·ksub·dsub cells reach the driver, never rows. Empty
    * cells keep their previous centroid. Init is [[seedCodebooks]]. Centroid
    * doubles are partitioning-dependent in the last ulp (avg is
    * non-associative) — harmless for a quantizer; persist the matrix when
    * bit-stable assignment matters (same caveat as
    * [[SimilaritySearch.kmeansCentroids]]). */
  def trainCodebooks(df: DataFrame, vecCol: String, idCol: String,
                     m: Int, ksub: Int, iters: Int): Codebooks = {
    require(iters >= 0, s"bad iters=$iters")
    val vecs = df.select(col(vecCol).cast("array<double>").as("v"))
    var cb = seedCodebooks(df, vecCol, idCol, m, ksub)
    val dsub = cb.head.head.length
    for (_ <- 1 to iters) {
      val means = vecs
        .select(PqEncode(col("v"), cb).as("codes"), col("v"))
        .select(col("codes"), posexplode(col("v")).as(Seq("p", "x")))
        .select((col("p") / dsub).cast("int").as("s"),
          element_at(col("codes"), (col("p") / dsub).cast("int") + 1).as("c"),
          pmod(col("p"), lit(dsub)).cast("int").as("d"), col("x"))
        .groupBy(col("s"), col("c"), col("d")).agg(avg(col("x")).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      cb = cb.zipWithIndex.map { case (cents, s) =>
        cents.zipWithIndex.map { case (old, c) =>
          if (means.contains((s, c, 0))) old.indices.map(d => means((s, c, d))) else old
        }
      }
    }
    cb
  }

  /** PQ code column: array<int> of length m — the index-BUILD step. One
    * native expression, zero shuffle. */
  def encode(df: DataFrame, vecCol: String, codebooks: Codebooks,
             codesCol: String = "pq_codes"): DataFrame =
    Spread.widen(df).withColumn(codesCol, PqEncode(col(vecCol), codebooks))

  /** Pack an m-code array into ONE long: code `s` occupies bits
    * [s·width, (s+1)·width) where width = ceil(log2 ksub) — the 4-byte-per-
    * vector storage layout at the 4-bit geometry, 8 bytes at FAISS's
    * standard m=8×8-bit. All 64 bits are usable: fields are extracted by
    * shift-and-MASK ([[unpackCode]]), never magnitude-compared, so a set
    * sign bit in the top field is harmless. Fields are disjoint, so the
    * pack is a plain sum of shifted terms — exact integer arithmetic,
    * reproducible as a `code0·1 + code1·2^w + …` oracle chain at widths
    * below the sign bit (the q120/q121 geometry). */
  def packCodes(codes: Column, m: Int, ksub: Int): Column = {
    val width = codeWidth(ksub)
    require(m * width <= 64,
      s"packed codes need $m×$width = ${m * width} bits — more than the 64 a long holds")
    (0 until m).map(s =>
      shiftleft(element_at(codes, s + 1).cast("long"), s * width))
      .reduce(_ + _)
  }

  /** Code `s` back out of a packed long (inverse of [[packCodes]]). */
  def unpackCode(packed: Column, s: Int, ksub: Int): Column =
    shiftright(packed, s * codeWidth(ksub)).bitwiseAND(lit((1L << codeWidth(ksub)) - 1))
      .cast("int")

  /** Bits per code: ceil(log2 ksub), minimum 1. */
  def codeWidth(ksub: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(ksub - 1))

  /** Asymmetric-distance (ADC) lookup table for one query: lut(s)(c) =
    * squared L2 distance from the query's s-th subvector to centroid c of
    * subspace s, accumulated in ascending-dimension order (the same chain
    * [[PqEncode]] uses, so the table is reproducible as an oracle chain). */
  def adcLut(query: Seq[Double], codebooks: Codebooks): Seq[Seq[Double]] = {
    val m = codebooks.length
    require(query.length == m * codebooks.head.head.length,
      s"query has ${query.length} dims but the codebook geometry is " +
        s"$m×${codebooks.head.head.length} — a mismatched query silently ranks garbage")
    val qsub = subspaces(query, m)
    codebooks.zipWithIndex.map { case (cents, s) =>
      cents.map { cent =>
        var d2 = 0.0
        var t = 0
        val lim = math.min(cent.length, qsub(s).length)
        while (t < lim) { val diff = qsub(s)(t) - cent(t); d2 += diff * diff; t += 1 }
        d2
      }
    }
  }

  /** ADC distance column over a PACKED code column: Σ_s lut(s)(code_s),
    * ascending s, left-assoc. m element_at lookups into m ksub-literal
    * arrays — m·ksub literal nodes total (128 at the default geometry),
    * safely inside the codegen budget that forced [[PqEncode]] native.
    *
    * The explicit null guard is load-bearing: a null packed code (a
    * null-poisoned embedding propagates PqEncode → packCodes → null) must
    * yield a NULL distance, but `element_at` with a runtime-null index
    * returns the element-type DEFAULT (0.0) under codegen — measured, not
    * hypothetical — which would rank every dirty row as distance-0 nearest. */
  def adcDistance(packed: Column, lut: Seq[Seq[Double]], ksub: Int): Column =
    when(packed.isNotNull,
      lut.zipWithIndex.map { case (row, s) =>
        element_at(array(row.map(lit): _*), unpackCode(packed, s, ksub) + 1)
      }.reduce(_ + _))

  /** ADC top-k: the PQ search path. Scans only (id, packed) — 12 bytes a
    * row — and ranks by the LUT sum; exact distances never enter the plan.
    * Output (idCol, adc_dist) ascending, ties by id. Approximation is the
    * PQ quantization error (recall measured separately, like IVF's);
    * `refine` re-ranks the top `refine·k` ADC candidates with exact L2 over
    * the original vectors when the caller keeps them — the standard
    * two-stage ADC+refine shape.
    *
    * Null-poisoned rows (a null embedding propagates PqEncode → packCodes →
    * a null adc_dist) are EXCLUDED, never ranked: Spark's default ascending
    * sort is nulls-first, which would surface exactly the dirty rows as the
    * nearest neighbors — and the exact cosine path sorts desc (nulls last),
    * so without the filter ADC and exact search disagree on dirty data. */
  def adcTopK(encoded: DataFrame, packedCol: String, idCol: String,
              codebooks: Codebooks, query: Seq[Double], k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val ksub = codebooks.head.length
    encoded.select(col(idCol),
      adcDistance(col(packedCol), adcLut(query, codebooks), ksub).as("adc_dist"))
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** Two-stage ADC + exact refine — the standard production PQ search shape:
    * stage 1 ranks the whole corpus by quantized distance (cheap: packed
    * codes + LUT lookups), stage 2 re-ranks only the top `refineFactor·k`
    * candidates with exact squared L2 over the original vectors and keeps k.
    * Output (idCol, l2_dist) ascending, ties by id.
    *
    * Scale shape: the candidate id set is k·refineFactor rows — broadcast —
    * so the refine is a broadcast semi-join against the vector table, never
    * a shuffle. At 100 TB keep the original vectors bucketed (or store them
    * beside the codes) so the candidate fetch is point reads, not a second
    * full scan; the ADC stage remains the only corpus-wide pass either way. */
  def adcTopKRefined(encoded: DataFrame, packedCol: String, idCol: String,
                     original: DataFrame, vecCol: String,
                     codebooks: Codebooks, query: Seq[Double], k: Int,
                     refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1: $refineFactor")
    val cand = adcTopK(encoded, packedCol, idCol, codebooks, query, k * refineFactor)
      .select(col(idCol))
    exactRefineTopK(cand, original, vecCol, idCol, query, k)
  }

  /** Stage-2 exact re-rank shared by every single-query refine path
    * ([[adcTopKRefined]], [[ivfPqResidualTopK]]): broadcast-join the
    * candidate id set against the original vectors and rank by exact squared
    * L2 via the dot identity |v|² − 2·v·q + |q|² (native codegen kernels; the
    * additive constant |q|² keeps ranking unchanged but makes the reported
    * distance the true squared L2). Null vectors (null l2_dist) are excluded,
    * matching [[adcTopK]]'s dirty-row contract. */
  private def exactRefineTopK(cand: DataFrame, original: DataFrame,
                              vecCol: String, idCol: String,
                              query: Seq[Double], k: Int): DataFrame = {
    val qLit = array(query.map(lit): _*)
    val v = col(vecCol).cast("array<double>")
    var qq = 0.0; query.foreach(x => qq += x * x)
    original.join(broadcast(cand), Seq(idCol))
      .select(col(idCol),
        (graft.expressions.NativeVec.dot(v, v)
          - lit(2.0) * graft.expressions.NativeVec.dot(v, qLit) + lit(qq))
          .as("l2_dist"))
      .filter(col("l2_dist").isNotNull)
      .orderBy(col("l2_dist"), col(idCol))
      .limit(k)
  }

  /** IVFADC — the composed billion-scale shape (FAISS: Jégou et al. 2011
    * §IV): IVF cell pruning picks WHICH rows to look at (nprobe of kCent
    * coarse cells; with the corpus written `partitionBy(cellCol)` that is
    * parquet PARTITION pruning, measured nprobe/k of the files in
    * r9_ivf_prune), ADC codes shrink WHAT each row costs (one packed long,
    * measured 0.05× the raw bytes in r10_pq_recall), and the optional
    * exact-refine stage re-ranks refine·k candidates from the original
    * vectors. The multiplicative effect is the point: a full-corpus exact
    * scan becomes (nprobe/kCent) · 0.05 of the bytes plus k·refine point
    * reads.
    *
    * `encoded` must carry (idCol, packedCol, cellCol) — built once by
    * [[encode]] + [[packCodes]] + [[SimilaritySearch.assignCells]].
    * `refine = 0` returns the pure ADC ranking (idCol, adc_dist);
    * `refine >= 1` returns (idCol, l2_dist) re-ranked exactly against
    * `original`. At `nprobe = kCent` + refine covering the corpus this
    * reduces to exact search (spec-pinned identity, the q65/q121 pattern). */
  def ivfPqTopK(encoded: DataFrame, packedCol: String, idCol: String,
                cellCol: String, centroids: Seq[Seq[Double]],
                codebooks: Codebooks, query: Seq[Double],
                nprobe: Int, k: Int,
                original: Option[DataFrame] = None, vecCol: String = "embedding",
                refine: Int = 0): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive: $nprobe")
    require(refine >= 0, s"refine must be >= 0: $refine")
    // probe ranking MUST use the same metric AND tie rule the cells were
    // ASSIGNED with (SimilaritySearch.assignCells / NearestCentroid rank by
    // cosine, ties to the HIGHER index): a probe ranked differently silently
    // searches the wrong cells — fewer results, no error. Same convention as
    // ivfTopKAssigned.
    val probed = probeCells(centroids, query, nprobe)
    val scoped = encoded.filter(col(cellCol).isin(probed: _*))
    if (refine == 0) adcTopK(scoped, packedCol, idCol, codebooks, query, k)
    else {
      val orig = original.getOrElse(sys.error("refine > 0 needs the original vectors"))
      adcTopKRefined(scoped, packedCol, idCol, orig, vecCol, codebooks, query, k, refine)
    }
  }

  private def cosineToQuery(a: Seq[Double], b: Seq[Double]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The nprobe cosine-nearest cell ids for one query, ties toward the
    * HIGHER index — the [[graft.expressions.NearestCentroid]] assignment
    * rule, so a row assigned to one of two tied cells is always covered by a
    * probe set that reaches either. Shared by every single-query IVF-PQ
    * entry point (the batch path ranks the same way distributedly). */
  private[operators] def probeCells(centroids: Seq[Seq[Double]],
                                    query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cosineToQuery(query, c), -i) }
      .take(nprobe).map(_._2)

  // ─── residual encoding (true IVFADC: quantize vec − coarseCentroid) ───────

  /** Deterministic untrained RESIDUAL codebooks: subspace `s`'s centroids are
    * the s-th subvectors of the `ksub` lowest-id rows' residuals
    * (`v − coarse(cell(v))`). Residual twin of [[seedCodebooks]]. */
  def seedCodebooksResidual(df: DataFrame, vecCol: String, idCol: String,
                            cellCol: String, coarse: Seq[Seq[Double]],
                            m: Int, ksub: Int): Codebooks = {
    require(m > 0 && ksub > 0, s"bad m=$m/ksub=$ksub")
    val rows = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"),
        col(cellCol).cast("int").as("c"))
      .orderBy(col(idCol)).limit(ksub)
      .select(col("v"), col("c")).collect()
      .map(r => (r.getSeq[Double](0).toSeq, r.getInt(1))).toSeq
    require(rows.nonEmpty, "pq residual seed needs a non-empty frame")
    val dims = rows.head._1.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val res = rows.map { case (v, cell) =>
      val cen = coarse(cell)
      v.indices.map(d => v(d) - (if (d < cen.length) cen(d) else 0.0))
    }
    (0 until m).map(s => res.map(v => subspaces(v, m)(s)))
  }

  /** Joint Lloyd over RESIDUALS — assignment via [[PqResidualEncode]]
    * (computed once per row, below the Generate), residual dimension values
    * via a broadcast join against the kCent×dims coarse matrix in LONG form
    * (cell, p, cx): x_res = x − cx. Same shuffle shape as
    * [[trainCodebooks]]: m·ksub·dsub cells to the driver per iteration. */
  def trainCodebooksResidual(df: DataFrame, vecCol: String, idCol: String,
                             cellCol: String, coarse: Seq[Seq[Double]],
                             m: Int, ksub: Int, iters: Int): Codebooks = {
    require(iters >= 0, s"bad iters=$iters")
    val spark = df.sparkSession
    import spark.implicits._
    val coarseDf = coarse.zipWithIndex.flatMap { case (cen, cell) =>
      cen.zipWithIndex.map { case (cx, p) => (cell, p, cx) }
    }.toDF("cell", "p", "cx")
    val vecs = df.select(col(vecCol).cast("array<double>").as("v"),
      col(cellCol).cast("int").as("cell"))
    var cb = seedCodebooksResidual(df, vecCol, idCol, cellCol, coarse, m, ksub)
    val dsub = cb.head.head.length
    for (_ <- 1 to iters) {
      val means = vecs
        .select(graft.expressions.PqResidualEncode(col("v"), col("cell"),
          coarse, cb).as("codes"), col("cell"), col("v"))
        .select(col("codes"), col("cell"), posexplode(col("v")).as(Seq("p", "x")))
        .join(broadcast(coarseDf), Seq("cell", "p"))
        .select((col("p") / dsub).cast("int").as("s"),
          element_at(col("codes"), (col("p") / dsub).cast("int") + 1).as("c"),
          pmod(col("p"), lit(dsub)).cast("int").as("d"),
          (col("x") - col("cx")).as("xr"))
        .groupBy(col("s"), col("c"), col("d")).agg(avg(col("xr")).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      cb = cb.zipWithIndex.map { case (cents, s) =>
        cents.zipWithIndex.map { case (old, c) =>
          if (means.contains((s, c, 0))) old.indices.map(d => means((s, c, d))) else old
        }
      }
    }
    cb
  }

  /** Residual PQ code column over an `assignCells`-tagged frame. One native
    * expression, zero shuffle (residual twin of [[encode]]). */
  def encodeResidual(df: DataFrame, vecCol: String, cellCol: String,
                     coarse: Seq[Seq[Double]], codebooks: Codebooks,
                     codesCol: String = "pq_codes"): DataFrame =
    Spread.widen(df).withColumn(codesCol, graft.expressions.PqResidualEncode(
      col(vecCol), col(cellCol).cast("int"), coarse, codebooks))

  /** Per-CELL ADC lookup table for one query under residual encoding:
    * lut(s)(c) = L2²((q − coarse(cell))_s, cb(s)(c)) — the query residual is
    * taken against the PROBED cell's centroid, so each probed cell gets its
    * own m×ksub table (kCent tables total, built lazily per probe). Chain
    * order matches [[PqResidualEncode]]: `(q[off+t] − cen[off+t]) − cb[t]`. */
  def residualAdcLut(query: Seq[Double], coarse: Seq[Seq[Double]], cell: Int,
                     codebooks: Codebooks): Seq[Seq[Double]] = {
    require(query.length == codebooks.length * codebooks.head.head.length,
      s"query has ${query.length} dims but the codebook geometry is " +
        s"${codebooks.length}×${codebooks.head.head.length} — a mismatched " +
        "query silently ranks garbage")
    val cen = coarse(cell)
    codebooks.zipWithIndex.map { case (cents, s) =>
      val off = s * codebooks.head.head.length
      cents.map { cb =>
        var d2 = 0.0
        var t = 0
        val lim = math.min(cb.length, math.max(0, query.length - off))
        while (t < lim) {
          val ce = if (off + t < cen.length) cen(off + t) else 0.0
          val diff = (query(off + t) - ce) - cb(t)
          d2 += diff * diff
          t += 1
        }
        d2
      }
    }
  }

  /** ADC distance over a packed code column from a FLATTENED lut column
    * (array<double> of length m·ksub, lut[s·ksub + c]): Σ_s ascending,
    * left-assoc — the chain [[adcDistance]] uses, with the table riding in a
    * DATA column instead of literal nodes. m element_at nodes in the plan,
    * independent of how many distinct LUTs flow through the column — the
    * shape that keeps [[ivfPqResidualTopK]] and the batch join constant-size
    * at any nprobe × n_queries. */
  def adcDistanceFromLutCol(packed: Column, lutFlat: Column,
                            m: Int, ksub: Int): Column =
    when(packed.isNotNull && lutFlat.isNotNull,
      (0 until m).map(s =>
        element_at(lutFlat, unpackCode(packed, s, ksub) + lit(s * ksub) + 1))
        .reduce(_ + _))

  /** IVFADC search over RESIDUAL codes: probe the nprobe cosine-nearest
    * cells (assignment metric + tie rule, see [[ivfPqTopK]]), rank each
    * probed cell's rows with that cell's residual LUT, take the global k.
    * The probed cells are ONE `isin` partition-pruned scan joined against a
    * BROADCAST (cell → flattened m×ksub LUT) table — m element_at nodes in
    * the plan regardless of nprobe (the per-branch literal formulation grew
    * the plan by m·ksub literals per probed cell; spec-pinned equal).
    * Null-poisoned rows are excluded ([[adcTopK]]'s contract). `refine`
    * re-ranks `refine·k` candidates exactly, as [[adcTopKRefined]]. */
  def ivfPqResidualTopK(encoded: DataFrame, packedCol: String, idCol: String,
                        cellCol: String, coarse: Seq[Seq[Double]],
                        codebooks: Codebooks, query: Seq[Double],
                        nprobe: Int, k: Int,
                        original: Option[DataFrame] = None,
                        vecCol: String = "embedding",
                        refine: Int = 0): DataFrame = {
    require(nprobe > 0 && k > 0, s"bad nprobe=$nprobe/k=$k")
    require(refine >= 0, s"refine must be >= 0: $refine")
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks.head.length
    val probed = probeCells(coarse, query, nprobe)
    val lutDf = probed.map { cell =>
      cell -> residualAdcLut(query, coarse, cell, codebooks).flatten
    }.toDF("_lut_cell", "_lut")
    val adc = encoded.filter(col(cellCol).isin(probed: _*))
      .join(broadcast(lutDf), col(cellCol) === col("_lut_cell"))
      .select(col(idCol),
        adcDistanceFromLutCol(col(packedCol), col("_lut"), m, ksub).as("adc_dist"))
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist"), col(idCol))
    if (refine == 0) adc.limit(k)
    else {
      val orig = original.getOrElse(sys.error("refine > 0 needs the original vectors"))
      exactRefineTopK(adc.limit(k * refine).select(col(idCol)),
        orig, vecCol, idCol, query, k)
    }
  }

  /** Batch (query-TABLE) IVFADC search — the pipeline form of [[ivfPqTopK]]/
    * [[ivfPqResidualTopK]]: every row of `queries` retrieves its top-k
    * neighbors from the quantized index in ONE distributed plan, no
    * driver-side query loop. This is the shape a training-data pipeline's
    * dominant ANN workloads take (dedup sweeps, k-NN graph construction,
    * retrieval joins over millions of queries).
    *
    * Stages, all constant plan size in n_queries × nprobe:
    *   1. PROBE: queries × the kCent-row broadcast centroid table, cosine
    *      ranked per query through [[graft.plans.GroupTopK]] (bounded heaps,
    *      no window sort), ties toward the HIGHER cell — the assignment rule,
    *      so probe sets cover tied assignments ([[probeCells]] distributed).
    *   2. LUT: one [[graft.expressions.PqAdcLut]] native expression per
    *      (query, cell) probe pair — the flattened m×ksub table as a DATA
    *      column (m·ksub·dsub flops once per pair), never literal plan nodes.
    *   3. ADC: probe pairs join the encoded corpus on the cell column —
    *      partition pruning when the index is written `partitionBy(cellCol)`
    *      — and each candidate row costs m `element_at` lookups
    *      ([[adcDistanceFromLutCol]]); per-query top-k via GroupTopK.
    *   4. optional REFINE: the k·refine ADC candidates per query re-rank
    *      exactly against `original` (|v|² − 2·v·q + |q|², native dot
    *      kernels), per-query top-k again.
    *
    * `broadcastLuts` (default true) broadcasts the probe-pair LUT table into
    * stage 3 — right while n_queries·nprobe·(m·ksub + dims) doubles fit an
    * executor (≈1 KB per pair at the 8×16 geometry: fine to ~10⁵ pairs).
    * Beyond that set it false: the join shuffles by cell instead, which is
    * correct at production kCent (thousands of cells); AQE's skew split
    * handles hot cells. Null-poisoned queries and corpus rows are EXCLUDED
    * (the [[adcTopK]] contract — and null queries have no meaningful probes).
    *
    * `residual = true` reads codes built by [[encodeResidual]] (true IVFADC);
    * `false` reads plain [[encode]] codes — probing is identical, only the
    * LUT chain differs. Output: (query_id, idCol, adc_dist) at refine=0,
    * (query_id, idCol, l2_dist) re-ranked exactly at refine ≥ 1; row order
    * unspecified (GroupTopK output — sort downstream if needed). */
  def ivfPqTopKJoin(queries: DataFrame, queryIdCol: String, queryVecCol: String,
                    encoded: DataFrame, packedCol: String, idCol: String,
                    cellCol: String, coarse: Seq[Seq[Double]],
                    codebooks: Codebooks, nprobe: Int, k: Int,
                    residual: Boolean = true,
                    original: Option[DataFrame] = None,
                    vecCol: String = "embedding",
                    refine: Int = 0,
                    broadcastLuts: Boolean = true): DataFrame = {
    require(nprobe > 0 && k > 0, s"bad nprobe=$nprobe/k=$k")
    require(refine >= 0, s"refine must be >= 0: $refine")
    require(idCol != "query_id",
      "idCol 'query_id' collides with the output query-id column — rename it")
    val spark = queries.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks.head.length
    // 1. probe assignment: per query, the nprobe cosine-nearest cells
    val centDf = broadcast(
      coarse.zipWithIndex.map { case (c, i) => (i, c) }.toDF("_cell", "_cvec"))
    val q = queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).cast("array<double>").as("_qv"))
      .filter(col("_qv").isNotNull)
    val scored = q.crossJoin(centDf)
      .select(col("query_id"), col("_qv"), col("_cell"),
        graft.expressions.NativeVec.cosine(col("_qv"), col("_cvec")).as("_cos"))
      .filter(col("_cos").isNotNull)
    val probes = graft.plans.GroupTopK.topK(scored,
      Seq("query_id"), Seq("_cos" -> false, "_cell" -> false), nprobe)
    // 2. one flattened LUT per probe pair (native expression, in-scan)
    val luts = (if (residual)
        probes.withColumn("_lut",
          graft.expressions.PqAdcLut(col("_qv"), col("_cell"), coarse, codebooks))
      else
        probes.withColumn("_lut",
          graft.expressions.PqAdcLut.plain(col("_qv"), codebooks)))
      .select(col("query_id"), col("_cell"), col("_lut"))
    // 3. cell join + ADC ranking. The probe-UNION cell list is collected
    // (≤ kCent ints; one extra small job re-running the probe stage) and
    // applied as a STATIC isin filter: a join on the partition column alone
    // does NOT prune partitions at planning time (measured: a 14-of-16-cell
    // probe union still scanned all 200k index rows via the join), so
    // without this filter a localized batch would pay a full index scan.
    val probedCells = probes.select(col("_cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val lutSide = if (broadcastLuts) broadcast(luts) else luts
    val adc = encoded.filter(col(cellCol).isin(probedCells: _*))
      .join(lutSide, encoded(cellCol) === lutSide("_cell"))
      .select(col("query_id"), col(idCol),
        adcDistanceFromLutCol(col(packedCol), col("_lut"), m, ksub).as("adc_dist"))
      .filter(col("adc_dist").isNotNull)
    if (refine == 0)
      graft.plans.GroupTopK.topK(adc,
        Seq("query_id"), Seq("adc_dist" -> true, idCol -> true), k)
    else {
      // 4. exact re-rank of the per-query candidate sets
      val orig = original.getOrElse(sys.error("refine > 0 needs the original vectors"))
      val cand = graft.plans.GroupTopK.topK(adc,
          Seq("query_id"), Seq("adc_dist" -> true, idCol -> true), k * refine)
        .select(col("query_id"), col(idCol))
      val v = col(vecCol).cast("array<double>")
      val refined = cand
        .join(orig.select(col(idCol), v.as("_nv")), Seq(idCol))
        .join(q, Seq("query_id"))
        .select(col("query_id"), col(idCol),
          (graft.expressions.NativeVec.dot(col("_nv"), col("_nv"))
            - lit(2.0) * graft.expressions.NativeVec.dot(col("_nv"), col("_qv"))
            + graft.expressions.NativeVec.dot(col("_qv"), col("_qv")))
            .as("l2_dist"))
        .filter(col("l2_dist").isNotNull)
      graft.plans.GroupTopK.topK(refined,
        Seq("query_id"), Seq("l2_dist" -> true, idCol -> true), k)
    }
  }

  /** k-NN GRAPH over the quantized index: every row of `nodes` retrieves its
    * k nearest OTHER rows through ONE [[ivfPqTopKJoin]] plan with the corpus
    * itself as the query table — the candidate-generation prerequisite for
    * graph-based curation (SemDeDup-style cluster pruning, connected-
    * component dedup, diversity sampling) at scales where the LSH family's
    * bucket heuristics lose recall. Self-matches are excluded EXACTLY:
    * ranking k+1 candidates, dropping `query_id == idCol`, and re-taking k
    * yields the first k non-self entries of the full ranking whether or not
    * the row's own code happened to surface (a row's probe set always covers
    * its assigned cell — probe metric + tie rule equal the assignment's).
    *
    * `broadcastLuts` defaults FALSE here, unlike the batch join: the LUT
    * table carries one row per (node, probe) — corpus-sized, far beyond
    * broadcast range — so the cell-keyed shuffle join is the scale path
    * (AQE splits hot cells). Output: (query_id, idCol, adc_dist) at
    * refine=0, (query_id, idCol, l2_dist) exactly re-ranked at refine ≥ 1;
    * ≤ k rows per node (fewer only when the probed cells hold < k+1 rows). */
  def knnGraphIvfPq(nodes: DataFrame, idCol: String, vecCol: String,
                    encoded: DataFrame, packedCol: String, cellCol: String,
                    coarse: Seq[Seq[Double]], codebooks: Codebooks,
                    nprobe: Int, k: Int,
                    residual: Boolean = true,
                    original: Option[DataFrame] = None,
                    refine: Int = 0,
                    broadcastLuts: Boolean = false): DataFrame = {
    val res = ivfPqTopKJoin(
      nodes.select(col(idCol).as("_graft_qid"), col(vecCol)),
      "_graft_qid", vecCol, encoded, packedCol, idCol, cellCol, coarse,
      codebooks, nprobe, k + 1, residual, original, vecCol, refine,
      broadcastLuts)
    val distCol = if (refine > 0) "l2_dist" else "adc_dist"
    graft.plans.GroupTopK.topK(res.filter(col("query_id") =!= col(idCol)),
      Seq("query_id"), Seq(distCol -> true, idCol -> true), k)
  }

  /** SDC code-to-code tables (Jégou et al. 2011 §III.A): table(s)[i·ksub+j]
    * = L2²(codebook(s)(i), codebook(s)(j)), dimensions accumulated ascending
    * left-assoc (the oracle-replayable chain every PQ builder here uses).
    * m·ksub² doubles total — 4 MB at 8×256, a codegen reference object. */
  def sdcTables(codebooks: Codebooks): Array[Array[Double]] = {
    val ksub = codebooks.head.length
    require(codebooks.forall(_.length == ksub),
      "sdcTables needs the same centroid count in every subspace")
    codebooks.map { cents =>
      val t = new Array[Double](ksub * ksub)
      var i = 0
      while (i < ksub) {
        var j = 0
        while (j < ksub) {
          val a = cents(i); val b = cents(j)
          var d2 = 0.0
          var d = 0
          while (d < a.length) { val diff = a(d) - b(d); d2 += diff * diff; d += 1 }
          t(i * ksub + j) = d2
          j += 1
        }
        i += 1
      }
      t
    }.toArray
  }

  /** Symmetric (code-to-code) distance column between two PACKED code
    * columns — one native [[graft.expressions.PqSdcDistance]] over the
    * [[sdcTables]] reference object. */
  def sdcDistance(a: Column, b: Column, codebooks: Codebooks): Column = {
    val ksub = codebooks.head.length
    graft.expressions.PqSdcDistance(a, b, sdcTables(codebooks), ksub,
      codeWidth(ksub))
  }

  /** k-NN GRAPH via SYMMETRIC distance — the corpus×corpus shape where the
    * ADC batch path's per-(node, probe) LUT column becomes the dominant
    * shuffle (16 KB/pair at 8×256; corpus-sized when the corpus IS the query
    * table). Here BOTH join sides carry only (id, 8-byte packed code, cell)
    * and every distance is m array lookups into ONE broadcast m·ksub² table
    * — nothing per-pair is materialized. The price is accuracy (both sides
    * quantized: SDC recall ≤ ADC recall, ibid. Table 1) — measured, and
    * recoverable by re-ranking the graph's edges exactly downstream.
    *
    * Probing is CELL ADJACENCY, not per-row ranking: node rows in cell c
    * probe the nprobe cosine-nearest cells TO c's centroid (own cell always
    * first; ties toward the higher index, the assignment rule) — a
    * kCent×nprobe driver table broadcast into one join, zero per-row probe
    * work. With balanced cells the candidate-pair count is n²·nprobe/kCent:
    * kCent — not nprobe — is the scale lever (grow it with the corpus).
    *
    * PLAIN codes only: residual codes put each side's coarse centroid inside
    * the reconstruction, so code-to-code tables would need kCent²·m·ksub²
    * entries — the blowup SDC exists to avoid. Self-pairs are filtered
    * BEFORE ranking (exact non-self top-k; no k+1 trick needed — the filter
    * here sits upstream of the GroupTopK). `nodes` is usually `encoded`
    * itself (the full graph); any (idCol, packedCol, cellCol) subset works
    * and keeps the whole corpus as candidates, with the probe union applied
    * as a static partition-pruning `isin` (the [[ivfPqTopKJoin]] lesson).
    * Output: (query_id, idCol, sdc_dist), ≤ k rows per node. */
  def knnGraphSdc(nodes: DataFrame, encoded: DataFrame, idCol: String,
                  packedCol: String, cellCol: String,
                  coarse: Seq[Seq[Double]], codebooks: Codebooks,
                  nprobe: Int, k: Int): DataFrame = {
    require(nprobe > 0 && k > 0, s"bad nprobe=$nprobe/k=$k")
    require(idCol != "query_id",
      "idCol 'query_id' collides with the output query-id column — rename it")
    val spark = nodes.sparkSession
    import spark.implicits._
    // driver-side cell adjacency (kCent×nprobe pairs): own cell pinned first
    // — cosine(c, c) is 1 only up to rounding, and the own cell must always
    // be probed (it holds the node's nearest codes by construction)
    val adj = coarse.indices.flatMap { c =>
      val ranked = coarse.indices
        .filterNot(_ == c)
        .sortBy(i => (-cosineToQuery(coarse(c), coarse(i)), -i))
      (c +: ranked).take(nprobe).map(p => (c, p))
    }
    val adjDf = broadcast(adj.toDF("_qcell", "_pcell"))
    val q = nodes
      .select(col(idCol).as("query_id"), col(packedCol).as("_qpacked"),
        col(cellCol).cast("int").as("_qcell"))
      .filter(col("_qpacked").isNotNull)
      .join(adjDf, "_qcell")
    val nodeCells = nodes.select(col(cellCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    val probedCells = adj.collect { case (c, p) if nodeCells(c) => p }.distinct
    val x = encoded.select(col(idCol), col(packedCol).as("_xpacked"),
      col(cellCol).cast("int").as("_xcell"))
      .filter(col("_xcell").isin(probedCells: _*))
    val cand = q.join(x, col("_pcell") === col("_xcell"))
      .select(col("query_id"), col(idCol),
        sdcDistance(col("_qpacked"), col("_xpacked"), codebooks).as("sdc_dist"))
      .filter(col("sdc_dist").isNotNull && col("query_id") =!= col(idCol))
    graft.plans.GroupTopK.topK(cand,
      Seq("query_id"), Seq("sdc_dist" -> true, idCol -> true), k)
  }

  /** A loaded quantized index: the small driver-side geometry (coarse
    * matrix, codebooks — kCent·dims + m·ksub·dsub doubles) plus the lazy
    * cell-partitioned code frame. Everything any search entry point here
    * takes. */
  final case class PqIndex(coarse: Seq[Seq[Double]], codebooks: Codebooks,
                           residual: Boolean, m: Int, ksub: Int,
                           codes: DataFrame,
                           rotationSeed: Option[Long] = None,
                           rotation: Option[Seq[Seq[Double]]] = None) {
    /** The query pre-transform this index was built under: an explicit
      * (learned) matrix wins over a seed-derived one; None = no rotation. */
    def rotationMatrix(dims: Int): Option[Seq[Seq[Double]]] =
      rotation.orElse(rotationSeed.map(Rotation.rotationMatrix(dims, _)))
  }

  /** Persist a quantized index: codes written `partitionBy(gen, cell)` — the
    * cell layout every probe `isin` here prunes at FILE level — plus the
    * coarse matrix, codebooks, and a one-row generational meta (geometry +
    * encoding mode + committed gens) as small parquet tables. Doubles
    * round-trip parquet bit-exactly, so a reloaded index searches identically
    * (spec-pinned): build once at corpus-ingest time, search from any later
    * session — the index is a dataset, not a driver object. Column names are
    * normalized to (vec_id, packed, cell) on disk.
    *
    * Commit protocol ([[GenCommit]], shared with the text/media indexes):
    * codes land under `gen=N` partitions and the single COMMIT point is the
    * `meta_gN` write — a crash mid-[[appendToPqIndex]] leaves the previous
    * index readable and its orphaned files invisible; [[vacuumPqIndex]]
    * reclaims them. The geometry tables (coarse/codebooks/rotation) are
    * save-time-static — appends never touch them. The codes are staged
    * before the path is cleared, so a frame that fails at run time leaves a
    * committed index intact. */
  def savePqIndex(codes: DataFrame, idCol: String, packedCol: String,
                  cellCol: String, coarse: Seq[Seq[Double]],
                  codebooks: Codebooks, residual: Boolean,
                  path: String,
                  rotationSeed: Option[Long] = None,
                  rotation: Option[Seq[Seq[Double]]] = None): Unit = {
    require(rotationSeed.isEmpty || rotation.isEmpty,
      "pass a rotation seed OR an explicit matrix, not both")
    val spark = codes.sparkSession
    import spark.implicits._
    require(coarse.nonEmpty && codebooks.nonEmpty, "empty index geometry")
    GenCommit.save(codes.select(col(idCol).as("vec_id"), col(packedCol).as("packed"),
        col(cellCol).cast("int").as("cell")), path) { staged =>
      GenCommit.writeGen(staged, path, "codes", 0, "cell")
      GenCommit.writeTable(coarse.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid"), s"$path/coarse")
      GenCommit.writeTable(codebooks.zipWithIndex.flatMap { case (cents, s) =>
        cents.zipWithIndex.map { case (cent, c) => (s, c, cent) } }
        .toDF("sub", "cid", "centroid"), s"$path/codebooks")
      // rotation_seed: an index built in ROTATED space ([[Rotation.rotate]])
      // is only searchable when queries rotate the same way — the seed fully
      // determines the deterministic matrix, so persisting it keeps the index
      // self-describing (null = no pre-transform)
      // a LEARNED rotation ([[Rotation.learnedRotation]]) has no generating
      // seed — persist the matrix itself (dims rows, tiny) so the index stays
      // self-describing in that case too
      rotation.foreach { rot =>
        GenCommit.writeTable(rot.zipWithIndex.map { case (row, i) => (i, row) }
          .toDF("row_idx", "row"), s"$path/rotation")
      }
      Seq((codebooks.length, codebooks.head.length, residual, rotationSeed,
          rotation.isDefined))
        .toDF("m", "ksub", "residual", "rotation_seed", "has_rotation_matrix")
    }
  }

  /** Append freshly-encoded rows to a persisted index's code frame — the
    * PERSISTENCE half of the streaming-ingest contract (frozen codebooks +
    * stateless encode, StreamingSpec): new embeddings encode with the
    * index's own geometry and land as additional cell-partitioned files;
    * the geometry tables are untouched, so every existing reader keeps
    * working and the probe-union `isin` keeps pruning at FILE level over
    * old and new files alike. Loud if no index meta exists at `path` (an
    * append into nowhere would create an unreadable half-index), and loud
    * on a packed-code geometry mismatch: a caller-supplied (m, ksub) is
    * compared against the index meta, and the batch itself is scanned for
    * codes that could not have been packed under the meta geometry (bits
    * set above m·width, or a field ≥ ksub for non-power-of-two ksub). The
    * scan is one pass over the APPENDED batch only — incremental-sized,
    * never corpus-sized.
    *
    * The batch is staged ONCE before the writer lease ([[GenCommit.append]]):
    * left lazy, its live encode chain would recompute for the geometry check
    * AND the write, and the no-key count would inline it past janino's 64 KB
    * method limit under CODEGEN_ONLY (CodegenOnlySweepSpec catches that). */
  def appendToPqIndex(codes: DataFrame, idCol: String, packedCol: String,
                      cellCol: String, path: String,
                      m: Option[Int] = None, ksub: Option[Int] = None): Unit = {
    val spark = codes.sparkSession
    val op = "appendToPqIndex"
    GenCommit.append(codes.select(col(idCol).as("vec_id"),
        col(packedCol).cast("long").as("packed"), col(cellCol).cast("int").as("cell")),
        path, Seq("codes"), op) { (proj, meta, gen) =>
      val metaM = meta.row.getAs[Int]("m")
      val metaKsub = meta.row.getAs[Int]("ksub")
      m.foreach(v => require(v == metaM,
        s"$op: caller m=$v but index at $path has m=$metaM"))
      ksub.foreach(v => require(v == metaKsub,
        s"$op: caller ksub=$v but index at $path has ksub=$metaKsub"))
      val width = codeWidth(metaKsub)
      // structural batch check: bits above the m·width window mean the codes
      // were packed under a WIDER geometry (arithmetic shiftright also flags a
      // stray sign bit); a field ≥ ksub means a taller codebook. Power-of-two
      // ksub makes the field check vacuous by masking — the window check is
      // the load-bearing one there. One pass over the APPENDED batch only —
      // incremental-sized, never corpus-sized.
      val fieldBad = (0 until metaM)
        .map(s => unpackCode(col("packed"), s, metaKsub) >= metaKsub)
        .reduce(_ || _)
      val windowBad =
        if (metaM * width < 64) shiftright(col("packed"), metaM * width) =!= 0L
        else lit(false)
      val nBad = proj
        .where(col("packed").isNotNull && (fieldBad || windowBad)).count()
      require(nBad == 0L,
        s"$op: $nBad packed code(s) violate index geometry " +
          s"m=$metaM ksub=$metaKsub at $path — refusing to corrupt the index")
      GenCommit.writeGen(proj, path, "codes", gen, "cell")
      // geometry columns carry over unchanged
      spark.createDataFrame(java.util.List.of(meta.row), meta.row.schema)
        .drop("gens")
    }
  }

  /** Reclaim dead bytes left by crashed appends ([[GenCommit.vacuum]]):
    * orphaned code `gen=N` partitions and superseded `meta_gN` dirs.
    * Search results identical before/after (spec-pinned). Refuses (throws)
    * while an append's writer lease is fresh; a stale lease (dead writer)
    * ages out after the TTL. The geometry tables are never touched. Returns
    * the number of directories removed. */
  def vacuumPqIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): Int =
    GenCommit.vacuum(spark, path, Seq("codes"), Nil, "vacuumPqIndex")

  /** Load a [[savePqIndex]] index. The geometry tables collect driver-side
    * (they are the same small reference objects every search builds); the
    * code frame stays lazy and cell-partitioned. */
  def loadPqIndex(spark: SparkSession, path: String): PqIndex = {
    import spark.implicits._
    // committed generational meta first (its code frame filtered to the
    // committed gens — pruning composes with every probe's `cell` isin); a
    // PRE-GENERATIONAL index (plain `meta` dir, codes partitioned by cell
    // only) loads via the legacy branch — read the resolved layout, not an
    // assumption about it (the events-table lesson, same as the
    // has_rotation_matrix probe below)
    val (meta, codesDf) = GenCommit.committedMeta(spark, path) match {
      case Some(c) => (c.row, GenCommit.readGens(spark, path, "codes", c.gens))
      case None => (spark.read.parquet(s"$path/meta").collect().head,
        spark.read.parquet(s"$path/codes"))
    }
    val m = meta.getAs[Int]("m")
    val ksub = meta.getAs[Int]("ksub")
    val hasRot = meta.schema.fieldNames.contains("has_rotation_matrix") &&
      meta.getAs[Boolean]("has_rotation_matrix")
    val rotation =
      if (!hasRot) None
      else Some(spark.read.parquet(s"$path/rotation")
        .select(col("row_idx"), col("row")).orderBy(col("row_idx"))
        .as[(Int, Seq[Double])].collect().map(_._2.toSeq).toSeq)
    val coarse = spark.read.parquet(s"$path/coarse")
      .select(col("cell"), col("centroid")).orderBy(col("cell"))
      .as[(Int, Seq[Double])].collect().map(_._2.toSeq).toSeq
    val codebooks: Codebooks = spark.read.parquet(s"$path/codebooks")
      .select(col("sub"), col("cid"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3.toSeq).toSeq }
    require(codebooks.length == m && codebooks.forall(_.length == ksub),
      s"codebook table disagrees with meta geometry m=$m ksub=$ksub")
    PqIndex(coarse, codebooks, meta.getAs[Boolean]("residual"), m, ksub, codesDf,
      Option(meta.getAs[java.lang.Long]("rotation_seed")).map(_.longValue),
      rotation)
  }

  /** Mean squared quantization error of a RESIDUAL codebook (residual twin
    * of [[quantizationError]]; the Lloyd objective over residual space). */
  def quantizationErrorResidual(df: DataFrame, vecCol: String, cellCol: String,
                                coarse: Seq[Seq[Double]],
                                codebooks: Codebooks): Double = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val spark = df.sparkSession
    import spark.implicits._
    val coarseDf = coarse.zipWithIndex.flatMap { case (cen, cell) =>
      cen.zipWithIndex.map { case (cx, p) => (cell, p, cx) }
    }.toDF("cell", "p", "cx")
    val cbDf = codebooks.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.flatMap { case (cent, c) =>
        cent.zipWithIndex.map { case (x, d) => (s, c, d, x) }
      }
    }.toDF("s", "c", "d", "cbx")
    df.select(graft.expressions.PqResidualEncode(
        col(vecCol).cast("array<double>"), col(cellCol).cast("int"),
        coarse, codebooks).as("codes"),
        col(cellCol).cast("int").as("cell"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "x")))
      .join(broadcast(coarseDf), Seq("cell", "p"))
      .select((col("p") / dsub).cast("int").as("s"),
        element_at(col("codes"), (col("p") / dsub).cast("int") + 1).as("c"),
        pmod(col("p"), lit(dsub)).cast("int").as("d"),
        (col("x") - col("cx")).as("xr"))
      .join(broadcast(cbDf), Seq("s", "c", "d"))
      .select(((col("xr") - col("cbx")) * (col("xr") - col("cbx"))).as("e2"))
      .agg(avg(col("e2"))).collect()(0).getDouble(0)
  }

  /** Mean squared quantization error of a codebook over the corpus — the
    * training objective (Lloyd monotonically non-increasing on it;
    * spec-pinned). One scan: encode + per-row reconstruction distance via
    * the ADC identity dist(v, recon(v)) = Σ_s lut_v(s)(code_s) computed
    * exactly: here the "query" is the row itself, so it reduces to a join-
    * free aggregate over the same PqEncode codes. */
  def quantizationError(df: DataFrame, vecCol: String, codebooks: Codebooks): Double = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    // reconstruction = chosen centroid per subspace; squared error per row =
    // Σ_s L2²(subvec_s, centroid_{code_s}). Computed with a second native-
    // expression pass: encode once, then per-subspace distance via the
    // codebook reference — composed here from posexplode to stay in
    // built-ins (error measurement is offline, not the hot path).
    val flat = codebooks.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.flatMap { case (cent, c) =>
        cent.zipWithIndex.map { case (x, d) => (s, c, d, x) }
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val cbDf = flat.toDF("s", "c", "d", "cx")
    df.select(PqEncode(col(vecCol).cast("array<double>"), codebooks).as("codes"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("p", "x")))
      .select((col("p") / dsub).cast("int").as("s"),
        element_at(col("codes"), (col("p") / dsub).cast("int") + 1).as("c"),
        pmod(col("p"), lit(dsub)).cast("int").as("d"), col("x"))
      .join(broadcast(cbDf), Seq("s", "c", "d"))
      .select(((col("x") - col("cx")) * (col("x") - col("cx"))).as("e2"))
      .agg(avg(col("e2"))).collect()(0).getDouble(0)
  }
}
