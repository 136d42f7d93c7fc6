package graft.operators

import graft.expressions.NativeVec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding column.
  *
  * Tiers:
  *   - [[bruteForceTopK]] — exact cosine top-k: one scan, per-row codegen-native
  *     scoring ([[graft.expressions.VecDot]], no shuffle), TakeOrderedAndProject
  *     for the top-k. The correctness baseline.
  *   - [[partitionedTopK]] — IVF-style: restrict the scan to the query's coarse
  *     partition (a precomputed cluster/label id). At scale the partition column is
  *     the parquet partition key, so non-matching files are PRUNED at the scan.
  *   - [[embeddingNearDupPairs]] — all-pairs near-duplicate detection within
  *     coarse partitions (the blocked O(Σ n_b²) shape, never a full cross join).
  */
object SimilaritySearch {

  /** Literal array<double> column from a query vector (driver-side constant —
    * broadcast-inlined into codegen, deterministic). */
  def vecLit(q: Seq[Double]): Column = array(q.map(lit): _*)

  /** Exact top-k by cosine against a constant query vector.
    * Output: (idCol, cosine) ordered desc, ties broken by id. Rows whose
    * cosine is null (a null embedding or element) are excluded, never
    * ranked — the dirty-row contract every quantized search here holds, so
    * exact and quantized search agree on dirty data. */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Double], k: Int): DataFrame =
    rankedTopK(df, idCol, NativeVec.cosine(col(vecCol), vecLit(query)), "cosine", k,
      descending = true)

  /** IVF-lite: same as [[bruteForceTopK]] but scanning only rows whose
    * `partCol` equals the query's partition — partition pruning is the scale path
    * (a real IVF would assign partitions by nearest centroid). */
  def partitionedTopK(df: DataFrame, vecCol: String, idCol: String, partCol: String,
                      query: Seq[Double], queryPart: Any, k: Int): DataFrame =
    bruteForceTopK(df.filter(col(partCol) === lit(queryPart)), vecCol, idCol, query, k)

  /** Hyperplane count for which an even sign-LSH split of `n` rows leaves
    * ~`target` rows per bucket: ceil(log2(n / target)), floored at `floor`.
    * This is what keeps bucketed pair generation LINEAR as the corpus grows —
    * fixed depth over growing data means per-bucket population grows ×N and
    * pair work ×N² (measured: q95 at ×100 corpus ran 11× its ×10 time with a
    * fixed 6-plane quantizer). Each extra plane costs recall (it splits some
    * qualifying pairs), which is the standard LSH depth/recall trade; callers
    * pin `floor` to their oracle-scale depth so small-corpus plane sets are
    * parameter-identical to the fixed-depth formulation. */
  def adaptiveDepth(n: Long, floor: Int = 12, target: Long = 16L): Int = {
    require(floor >= 0 && target > 0, s"bad floor=$floor/target=$target")
    val needed =
      if (n <= target) 0
      else math.ceil(math.log(n.toDouble / target) / math.log(2.0)).toInt
    math.max(floor, needed)
  }

  /** Near-duplicate embedding pairs: cosine >= threshold, compared only within the
    * same coarse partition (block). Output (id_a, id_b, cosine), id_a < id_b.
    *
    * Blocks larger than `maxBlock` never run the exact per-block all-pairs — that
    * is O(n_b²), and one low-cardinality label covering a corpus fraction would
    * turn it into a table-wide quadratic shuffle. Their rows are instead routed
    * through the sign-LSH path (`overCapPlanes`, same semantics as
    * [[embeddingNearDupPairsLsh]] but still confined to the block): candidate
    * buckets become (block, lsh-bits), so every bucket is bounded by
    * n_b / 2^planes in expectation and the block-locality contract is preserved.
    * Results are exact below the cap and LSH-recall above it — never silently
    * empty.
    *
    * The regime is decided ON THE DRIVER from the actual per-block counts (one
    * column-pruned aggregate over the block key, checkpointed and reused as the
    * join's count side): when every block is under the cap the plan contains no
    * LSH expression at all (no hyperplane codegen, no width probe — measured
    * ~0.5 s of pure Janino compile saved at small scale), and when some block
    * is over the cap the sub-bucket depth ADAPTS to the largest block
    * ([[adaptiveDepth]], floor 12) so expected sub-bucket population stays
    * ~constant and pair work stays linear at any corpus size. The default cap
    * bounds a block's exact-path work to maxBlock²/2 ≈ 33M scored pairs —
    * the previous 100k default allowed 5×10⁹-pair blocks, measured 174 s on a
    * 200k-vector corpus whose 20k-row blocks all sat below it.
    *
    * `overCapPlanes = None` (the default) derives hyperplane dimensionality
    * from the data (one `limit 1` probe job, over-cap regime only) — a
    * fixed-dims default would silently degrade LSH recall for any other
    * embedding width. `Some(planes)` supplies explicit hyperplanes (width
    * validated against the data); `Some(Nil)` restores the
    * drop-oversized-blocks behavior for callers that prefer exclusion over
    * approximation. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            partCol: String, threshold: Double,
                            maxBlock: Long = 8192L,
                            overCapPlanes: Option[Seq[Seq[Double]]] = None,
                            subBucketTarget: Long = 16L): DataFrame = {
    val tagged = df.select(col(partCol).as("block"), col(idCol), col(vecCol))
    // Per-block counts: block-cardinality rows, materialized once — feeds the
    // driver-side regime decision AND the per-row sub-bucket switch without a
    // second scan of the corpus.
    val counts = tagged.groupBy(col("block")).agg(count(lit(1)).as("_block_n"))
      .localCheckpoint(true)
    val maxBlockN: Long = counts.agg(max(col("_block_n"))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    val withN = tagged.join(counts, Seq("block"))
    // Both regimes share ONE self-join: the join key is (block, sub), where sub
    // is empty below the cap (exact all-pairs within the block) and the row's
    // sign-LSH bits above it (bounded sub-buckets). No union, no second scan.
    val keyed =
      if (maxBlockN <= maxBlock) // every block exact — no LSH in the plan
        withN.withColumn("_sub", lit(""))
      else {
        // One-row probe for the embedding width: drives the derived-planes
        // default and validates explicit planes — recall degradation from a
        // width mismatch is otherwise invisible (fewer pairs, no error).
        val dataDims: Option[Int] =
          df.select(size(col(vecCol)).as("d")).limit(1).collect()
            .headOption.map(_.getInt(0))
        val planes: Seq[Seq[Double]] = overCapPlanes match {
          case Some(explicit) =>
            for (p <- explicit; d <- dataDims) require(p.size == d,
              s"overCapPlanes are ${p.size}-dim but $vecCol embeddings are $d-dim — " +
                "mismatched planes silently degrade over-cap LSH recall")
            explicit
          case None =>
            dataDims.map(deterministicPlanes(adaptiveDepth(maxBlockN, 12, subBucketTarget), _))
              .getOrElse(Nil)
        }
        if (planes.isEmpty) // documented exclusion mode (or empty input)
          withN.filter(col("_block_n") <= maxBlock).withColumn("_sub", lit(""))
        else
          withN.withColumn("_sub",
            when(col("_block_n") <= maxBlock, lit(""))
              .otherwise(signLshBucket(col(vecCol), planes)))
      }
    blockedCosinePairs(keyed, Seq("block", "_sub"), idCol, vecCol, threshold)
  }

  // ─── the shared candidate → verify steps ────────────────────────────────────
  //
  // One copy of each decision the ANN family makes, called by every entry
  // point here, in ProductQuantization and in ScalarQuantization.

  /** Blocked cosine self-join — the verify step of every near-dup pair
    * search: rows sharing all `keys` columns pair up once (`id_a < id_b`),
    * and a pair is kept at exact cosine >= threshold. Output (id_a, id_b,
    * cosine). */
  private[operators] def blockedCosinePairs(keyed: DataFrame, keys: Seq[String],
                                            idCol: String, vecCol: String,
                                            threshold: Double): DataFrame = {
    def side(id: String, vec: String) =
      keyed.select((keys.map(col) :+ col(idCol).as(id) :+ col(vecCol).as(vec)): _*)
    side("id_a", "vec_a").join(side("id_b", "vec_b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        NativeVec.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Ranked tail of every single-query search: (idCol, score as `name`),
    * null scores dropped (a dirty row is never ranked — Spark's ascending
    * sort is nulls-first, so it would surface as the nearest neighbor),
    * ordered by score (descending for similarities) then id, top k.
    *
    * Nulls sort last and are dropped AFTER the limit: the top k of that
    * order minus its nulls is the top k of the non-null rows. A filter
    * ahead of the sort would be pushed below the projection and evaluate
    * the score a second time on every row; here it sees k rows. */
  private[operators] def rankedTopK(df: DataFrame, idCol: String, score: Column,
                                    name: String, k: Int,
                                    descending: Boolean = false): DataFrame =
    df.select(col(idCol), score.as(name))
      .orderBy(if (descending) col(name).desc_nulls_last else col(name).asc_nulls_last,
        col(idCol))
      .limit(k)
      .filter(col(name).isNotNull)

  /** Exact squared L2 from `v` to a query via the dot identity
    * |v|² − 2·v·q + |q|² (native dot kernels; `qq` is |q|²). */
  private[operators] def l2ToQuery(v: Column, q: Column, qq: Column): Column =
    NativeVec.dot(v, v) - lit(2.0) * NativeVec.dot(v, q) + qq

  /** [[l2ToQuery]] against a constant query: |q|² accumulated driver-side in
    * ascending-dimension order. */
  private[operators] def l2ToQuery(v: Column, query: Seq[Double]): Column = {
    var qq = 0.0
    query.foreach(x => qq += x * x)
    l2ToQuery(v, vecLit(query), lit(qq))
  }

  // ─── IVF with a trained coarse quantizer ────────────────────────────────────

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The `nprobe` cosine-nearest cell ids for one query, ties toward the
    * HIGHER index — the [[graft.expressions.NearestCentroid]] assignment
    * rule. A probe ranked by any other metric or tie rule silently searches
    * the wrong cells (fewer results, no error); with this one a row assigned
    * to one of two tied cells is covered by a probe set that reaches either.
    * Every single-query IVF entry point probes through it (the batch IVF-PQ
    * join ranks the same way distributedly). */
  private[operators] def probeCells(centroids: Seq[Seq[Double]],
                                    query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .sortBy { case (c, i) => (-cosine(query, c), -i) }
      .take(nprobe).map(_._2)

  /** Index of the cosine-nearest centroid: ONE native codegen expression over
    * the vector with the k×dims centroid matrix embedded as a reference
    * object ([[graft.expressions.NearestCentroid]]). Ties break toward the
    * higher index — deterministic, same rule as the previous greatest-struct
    * formulation, which this replaces because its k·dims literal tree
    * (~1k `CreateArray` nodes at k=16, dims=64) blew the codegen budget and
    * dropped whole stages to interpreted evaluation — minutes instead of
    * sub-second on a 200k-row corpus. */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    graft.expressions.NearestCentroid(vec, centroids)
  }

  /** Deterministic Lloyd k-means over the embedding column — the IVF coarse
    * quantizer. Assignment and per-dimension mean updates are DataFrame jobs
    * (posexplode → groupBy(cluster, dim) → avg, i.e. one shuffle of k·dims cells
    * per iteration); only the k×dims centroid matrix reaches the driver. Init is
    * the k lowest-id vectors (no rand(): stable across retries). Empty clusters
    * keep their previous centroid. Centroid doubles are partitioning-dependent
    * in the last ulp (avg is non-associative) — harmless for a coarse quantizer;
    * persist the matrix when bit-stable assignment matters. */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
                      k: Int, iters: Int): Seq[Seq[Double]] = {
    require(k > 0 && iters >= 0, s"bad k=$k/iters=$iters")
    val vecs = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    var centroids: Seq[Seq[Double]] = vecs.orderBy(col(idCol)).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(centroids.nonEmpty, "k-means needs a non-empty frame")
    for (_ <- 1 to iters) {
      // assignment computed in its own projection BELOW the Generate so it
      // runs once per row, not once per exploded (row, dim) pair
      val means = vecs
        .select(nearestCentroid(col("v"), centroids).as("c"), col("v"))
        .select(col("c"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("c"), col("d")).agg(avg(col("x")).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (means.contains((c, 0))) old.indices.map(d => means((c, d))) else old
      }
    }
    centroids
  }

  /** IVF search: score only rows whose nearest centroid is among the query's
    * `nprobe` closest centroids. `nprobe = k` degrades gracefully to exact
    * brute force (the oracle identity q65 checks); `nprobe = 1` scans ~1/k of
    * the corpus. At scale the assignment column is precomputed once and used as
    * the parquet partition key, turning this filter into file pruning
    * ([[partitionedTopK]] is that shape). This is [[ivfTopKAssigned]] over a
    * [[nearestCentroid]] column computed on the fly. */
  def ivfTopK(df: DataFrame, vecCol: String, idCol: String,
              centroids: Seq[Seq[Double]], query: Seq[Double],
              nprobe: Int, k: Int): DataFrame =
    ivfTopKAssigned(df.withColumn("_graft_ivf_cell", nearestCentroid(col(vecCol), centroids)),
      vecCol, idCol, "_graft_ivf_cell", centroids, query, nprobe, k)

  /** Precompute the IVF cell assignment as a column — the index-BUILD step.
    * At corpus scale this runs once and the result is written with
    * `partitionBy(cellCol)`, so [[ivfTopKAssigned]]'s probe filter becomes
    * parquet partition pruning (only nprobe/k of the files are read). */
  def assignCells(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]],
                  cellCol: String = "ivf_cell"): DataFrame =
    Spread.widen(df).withColumn(cellCol, nearestCentroid(col(vecCol), centroids))

  /** IVF search over a PRE-ASSIGNED corpus ([[assignCells]]): the production
    * shape — the per-search cost is the probe-cell scan plus top-k, never a
    * corpus-wide re-assignment. Same results as [[ivfTopK]] with the same
    * centroids (spec-pinned). */
  def ivfTopKAssigned(df: DataFrame, vecCol: String, idCol: String,
                      cellCol: String, centroids: Seq[Seq[Double]],
                      query: Seq[Double], nprobe: Int, k: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive: $nprobe")
    bruteForceTopK(df.filter(col(cellCol).isin(probeCells(centroids, query, nprobe): _*)),
      vecCol, idCol, query, k)
  }

  /** Sign-LSH bucket id for an embedding: bit b = sign of dot(vec, plane_b),
    * planes supplied as constant vectors (deterministic, data-derived or seeded).
    * Docs sharing a bucket are ANN candidates — the scale path for all-pairs
    * search when no coarse partition exists. */
  def signLshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    concat(planes.map(p =>
      when(NativeVec.dot(vec, vecLit(p)) >= 0.0, "1").otherwise("0")): _*)

  /** Deterministic Gaussian hyperplanes (fixed seed → identical constants on
    * every run and inside oracle SQL literals). */
  def deterministicPlanes(nPlanes: Int, dims: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dims)(rnd.nextGaussian()))
  }

  /** Near-duplicate embedding pairs via sign-LSH blocking: candidates are pairs
    * sharing the FULL `planes.size`-bit bucket; each candidate is scored with
    * exact cosine and kept at >= threshold. Output (id_a, id_b, cosine),
    * id_a < id_b — each pair appears at most once (one bucket per vector).
    *
    * This is the scale path of [[embeddingNearDupPairs]] when no coarse
    * partition column exists: bucket count 2^planes bounds every block, so the
    * blocked O(Σ n_b²) never degenerates into a table-wide cross join. Sign-LSH
    * is recall-approximate by construction (a qualifying pair split by some
    * hyperplane is not compared) — add rotated plane sets and union for higher
    * recall; the per-set semantics stay deterministic. */
  def embeddingNearDupPairsLsh(df: DataFrame, vecCol: String, idCol: String,
                               planes: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val bucketed = df.select(signLshBucket(col(vecCol), planes).as("bucket"),
      col(idCol).as("id"), col(vecCol).as("vec"))
    blockedCosinePairs(bucketed, Seq("bucket"), "id", "vec", threshold)
  }

  /** Batch kNN JOIN — every left row retrieves its top-k right-side neighbors
    * by exact cosine among candidates sharing its full sign-LSH bucket: the
    * two-table ANN primitive behind retrieval-augmented data selection
    * ("for each eval doc, its nearest training docs") and embedding-side
    * cross-corpus linking.
    *
    * `excludeSelf` (default true) drops equal-id pairs — REQUIRED when left
    * and right are the same table, but set it false for two-table joins over
    * unrelated id spaces: an eval doc with id 17 must still be allowed to
    * retrieve the training doc that happens to carry id 17.
    *
    * Scale shape: both sides bucket in-scan; the candidate join is a bounded
    * equi-join on the 2^planes-bucket key (never a cross join); ranking is a
    * per-query-id window over candidates only. Recall is LSH-approximate like
    * [[embeddingNearDupPairsLsh]] — union rotated plane sets for more.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k. */
  def knnJoinLsh(left: DataFrame, right: DataFrame, vecCol: String,
                 leftId: String, rightId: String,
                 planes: Seq[Seq[Double]], k: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val l = left.select(signLshBucket(col(vecCol), planes).as("bucket"),
      col(leftId).as("query_id"), col(vecCol).as("_qv"))
    val r = right.select(signLshBucket(col(vecCol), planes).as("bucket"),
      col(rightId).as("neighbor_id"), col(vecCol).as("_nv"))
    l.join(r, Seq("bucket"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        NativeVec.cosine(col("_qv"), col("_nv")).as("cosine"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * embedding space coarsely, then within each cluster drop every vector that
    * has a LOWER-id neighbor above the cosine threshold. Greedy-by-id is the
    * deterministic analog of the paper's per-cluster greedy pruning: in a
    * similarity chain a–b–c (a~b, b~c, a≁c) only `a` survives, matching the
    * paper's "keep one representative per tight semantic region".
    *
    * The quantizer here is the sign-LSH bucket (zero training, oracle-exact);
    * swap in [[kmeansCentroids]] + [[nearestCentroid]] as the cluster column
    * for the paper's trained k-means partitioning — the verdict logic is
    * identical (spec-covered in PipelineOpsSpec).
    *
    * Output: one row per input vector — (id, cluster, keep). Scale shape: the
    * pair search is [[embeddingNearDupPairsLsh]] (bounded blocks, no global
    * cross join); the dropped-id set — duplicates only, tiny next to the
    * corpus — comes back via a broadcast left join. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    planes: Seq[Seq[Double]], threshold: Double): DataFrame =
    semanticDedupByCluster(df, vecCol, idCol,
      signLshBucket(col(vecCol), planes), threshold)

  /** [[semanticDedup]] with corpus-adaptive quantizer depth — SemDeDup's own
    * scaling discipline (the paper's cluster count grows with the corpus:
    * 50k k-means clusters at LAION scale, not a fixed grid). A fixed plane
    * count over growing data leaves per-cluster population growing ×N and
    * pair work ×N² — measured 11×-per-decade growth on a fixed 6-plane
    * quantizer at ×100 corpus scale. Depth is [[adaptiveDepth]] of the corpus
    * count (one column-pruned count job plus a one-row width probe; callers
    * with an expensive upstream should materialize it first). `floor` pins the
    * small-corpus depth so results below `target · 2^floor` rows are
    * parameter-identical to a fixed-`floor`-depth formulation — the oracle
    * anchor. */
  def semanticDedupAuto(df: DataFrame, vecCol: String, idCol: String,
                        threshold: Double, floor: Int = 12,
                        target: Long = 16L, seed: Long = 42L): DataFrame = {
    val n = df.count()
    val dims = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    semanticDedup(df, vecCol, idCol,
      deterministicPlanes(adaptiveDepth(n, floor, target), dims, seed), threshold)
  }

  /** [[semanticDedup]] with an arbitrary precomputed cluster column (e.g. the
    * nearest trained k-means centroid): same greedy lower-id-neighbor verdict,
    * quantizer supplied by the caller. */
  def semanticDedupByCluster(df: DataFrame, vecCol: String, idCol: String,
                             cluster: Column, threshold: Double): DataFrame = {
    val bucketed = df.select(cluster.as("cluster"), col(idCol).as("id"),
      col(vecCol).as("vec"))
    val dropped = blockedCosinePairs(bucketed, Seq("cluster"), "id", "vec", threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("_dup", lit(true))
    // no broadcast hint: at SemDeDup operating points the dropped set can be
    // a large fraction of the corpus — AQE picks broadcast vs shuffle from
    // its actual size instead of forcing a driver collect
    df.select(col(idCol), cluster.as("cluster"))
      .join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("_dup"), lit(false)) === false as "keep")
  }

  /** SemDeDup verdict over PRECOMPUTED candidate edges — the k-NN-graph
    * composition of [[semanticDedupByCluster]]: candidate generation comes
    * from ANY edge frame carrying (query_id, idCol) — a quantized graph
    * ([[graft.operators.ProductQuantization.knnGraphSdc]] /
    * `knnGraphIvfPq`), [[knnJoinLsh]], whatever the corpus affords — and
    * only those n·k pairs are EXACTLY cosine-verified against the raw
    * vectors (vs cluster-population² pairs in the bucketed form). The
    * verdict rule is identical: a row is dropped when ANY candidate
    * neighbor with a LOWER id matches at ≥ `threshold` (edges are
    * symmetrized with least/greatest first, so direction of discovery
    * doesn't matter). Quantized candidate generation bounds recall the way
    * the graph does — a dup pair must surface in one side's top-k, which is
    * the k-NN-dedup bargain at 100 TB. Output: (idCol, keep), one row per
    * input row. */
  def semanticDedupByKnnGraph(df: DataFrame, vecCol: String, idCol: String,
                              edges: DataFrame, threshold: Double): DataFrame = {
    val e = edges.select(
        least(col("query_id"), col(idCol)).as("_a"),
        greatest(col("query_id"), col(idCol)).as("_b"))
      .filter(col("_a") =!= col("_b")).distinct()
    val v = df.select(col(idCol), col(vecCol))
    val dropped = e
      .join(v.select(col(idCol).as("_a"), col(vecCol).as("_va")), Seq("_a"))
      .join(v.select(col(idCol).as("_b"), col(vecCol).as("_vb")), Seq("_b"))
      .filter(NativeVec.cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("_b").as(idCol)).distinct()
      .withColumn("_dup", lit(true))
    // AQE sizes the verdict join (same rationale as semanticDedupByCluster)
    df.select(col(idCol))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_dup"), lit(false)) === false as "keep")
  }
}
