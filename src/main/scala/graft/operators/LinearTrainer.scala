package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed TRAINING of a linear text classifier — the trainable half of
  * the fastText-style quality filtering the pipeline already serves at
  * inference time ([[TextFunctions.hashedFeatureScore]], q91): CCNet-grade
  * pipelines train a cheap linear model on "good vs crawl" labels and filter
  * the crawl with it (Joulin et al. 2016 fastText; Wenzek et al. 2020).
  *
  * The learner is the BATCH PERCEPTRON in exact integer arithmetic: hashed
  * token-COUNT features (non-negative longs), labels ±1, and per iteration
  *   w ← w + Σ_{docs with y·⟨w,x⟩ ≤ 0} y·x
  * (zero margin counts as misclassified, so iteration 1 from w=0 updates on
  * every doc — deterministic, and the whole trajectory is replayable in SQL,
  * which is what lets the DuckDB oracle re-train the identical model).
  * Gradient-descent logistic regression would need exp(); libm differs
  * across engines, so the perceptron is the oracle-exact choice — same
  * decision family (linear), standard mistake-bound convergence.
  *
  * Scale shape: the weight vector (dims longs) lives driver-side and ships
  * into each iteration as a LITERAL array in HOF-argument position; one
  * iteration = one corpus pass whose shuffle is the posexplode of
  * MISCLASSIFIED rows' features reduced map-side to a dims-sized gradient
  * (never rows to the driver — `dims` rows per iteration). T iterations scan
  * the feature frame T times: localCheckpoint/cache it at the call site when
  * iterating deeply.
  *
  * Two feature representations, same exact-integer update:
  *   - DENSE ([[countsFromBuckets]] / [[perceptronTrain]]) — O(T·dims) per
  *     row; right at small probe dims (q157's 16);
  *   - SPARSE ([[sparseCountsFromSorted]] / [[perceptronTrainSparse]]) — one
  *     (pos, cnt) entry per distinct bucket, cost ∝ the corpus's tokens with
  *     no per-row dims term; the production shape for fastText-regime hash
  *     spaces (2^16–2^21 buckets), where gradient shuffle and collect are
  *     bounded by the ACTIVE vocabulary, not the config. Spec-pinned equal
  *     weights at equal geometry.
  */
object LinearTrainer {

  /** Per-token hash buckets (md5Bits32 % dims) — stage THIS as a column
    * before [[countsFromBuckets]]: the md5 runs once per token here; inlining
    * it into the per-dimension count lambda would re-hash the whole doc per
    * dimension (the SCALE.md lambda-body corollary). */
  def tokenBuckets(toks: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be positive: $dims")
    transform(toks, tk => TextFunctions.hashBucket(tk, dims))
  }

  /** Dense integer count vector (length `dims`) from an ALREADY-BOUND bucket
    * array: counts[d] = occurrences of bucket d. Pass an attribute
    * reference. O(T·dims) cheap comparisons per row, zero shuffle.
    *
    * The `when(size(buckets) >= 0, …)` guard is STRUCTURAL, not defensive:
    * it makes this expression reference `buckets` twice, so CollapseProject
    * keeps the caller's staged bucket column as a per-row projection instead
    * of inlining the md5 hashing into the per-dimension filter lambda (the
    * SCALE.md lambda-body corollary — measured 26 s → 2 s on q157's
    * 3-iteration training at sf0.1). */
  def countsFromBuckets(buckets: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be positive: $dims")
    when(size(buckets) >= 0,
      transform(sequence(lit(0), lit(dims - 1)),
        d => size(filter(buckets, b => b === d)).cast("long")))
      .otherwise(typedLit(Seq.empty[Long]))
  }

  /** ⟨w, x⟩ for a literal weight vector — weights ride `typedlit` in
    * ARGUMENT position (evaluated once per row). Exact long arithmetic. */
  def dotWithWeights(features: Column, weights: Seq[Long]): Column =
    aggregate(zip_with(features, typedlit(weights), (x, w) => x * w),
      lit(0L), (acc, v) => acc + v)

  /** Train `iters` batch-perceptron iterations over (featuresCol:
    * array<long> of length dims, labelCol: ±1 long). Returns the final
    * weights. Exact integers end to end; deterministic (no row order
    * dependence — the batch update is a sum). */
  def perceptronTrain(feat: DataFrame, featuresCol: String, labelCol: String,
                      dims: Int, iters: Int): Array[Long] = {
    require(dims >= 1 && iters >= 1, s"need dims >= 1 and iters >= 1, got $dims/$iters")
    // materialize the features ONCE: training is inherently multi-pass, and
    // without the lineage cut PushDownPredicate splices the whole feature
    // expression into each iteration's margin Filter — where the
    // CollapseProject alias-cost guard does not apply, so the per-token
    // hashing re-runs per DIMENSION inside the count lambda (measured 22 s →
    // 1.6 s for 3 iterations at sf0.1, commit e5cd11a)
    val staged = Spread.widen(feat.select(col(featuresCol), col(labelCol))).localCheckpoint()
    val w = Array.fill(dims)(0L)
    for (_ <- 1 to iters) {
      val margin = dotWithWeights(col(featuresCol), w.toSeq) * col(labelCol)
      val grad = staged.filter(margin <= 0)
        .select(col(labelCol).as("_y"), posexplode(col(featuresCol)).as(Seq("_pos", "_x")))
        .groupBy(col("_pos")).agg(sum(col("_x") * col("_y")).as("_g"))
        .collect() // dims rows, bounded by construction
      grad.foreach(r => w(r.getInt(0)) += r.getLong(1))
    }
    w
  }

  /** Classification column for a trained model: +1/−1 by sign of ⟨w, x⟩
    * (zero scores −1, matching the training margin convention). */
  def predict(features: Column, weights: Seq[Long]): Column =
    when(dotWithWeights(features, weights) > 0, 1L).otherwise(-1L)

  // ── sparse feature path (production dims: 2^16–2^21 hash buckets) ─────────

  /** SORTED per-token hash buckets — stage THIS as a column before
    * [[sparseCountsFromSorted]]. The sort brings equal buckets adjacent so
    * the sparse encoding is one run-length pass; the md5 runs once per token
    * here (the [[tokenBuckets]] staging discipline). */
  def sortedTokenBuckets(toks: Column, dims: Int): Column =
    array_sort(tokenBuckets(toks, dims))

  /** Sparse feature entries — array<struct<pos:int, cnt:bigint>>, one entry
    * per DISTINCT bucket, positions ascending — from an ALREADY-BOUND SORTED
    * bucket array (pass an attribute reference). This is the scale-correct
    * feature shape: per-row cost is O(T) in the document's tokens with NO
    * dims term anywhere, where the dense [[countsFromBuckets]] pays
    * O(T·dims) per row — fine at q157's dims=16, a non-starter at the
    * fastText-regime 2^20 hash buckets production quality filters use. */
  def sparseCountsFromSorted(sorted: Column): Column = {
    val n = size(sorted)
    // run starts: 1-based indices opening a new value run in the sorted array
    // (the when-guard keeps ANSI element_at away from index 0)
    def starts = filter(sequence(lit(1), n), i =>
      when(i === 1, lit(true))
        .otherwise(element_at(sorted, i) =!= element_at(sorted, i - 1)))
    // each run's length = next start − this start (sentinel n+1 closes the
    // last run); `starts` is duplicated across ARGUMENT positions only —
    // per-row O(T) each, never per-element re-derivation
    val nexts = concat(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(n + 1))
    when(n === 0, array().cast("array<struct<pos:int,cnt:bigint>>"))
      .otherwise(zip_with(starts, nexts, (a, b) =>
        struct(element_at(sorted, a).cast("int").as("pos"),
          (b - a).cast("long").as("cnt"))))
  }

  /** ⟨w, x⟩ over sparse entries: one O(1) array lookup per DISTINCT token
    * bucket of the row. The weight vector ships as a single dims-length
    * literal in the PLAN (once per query, never per row) — rows carry only
    * their sparse entries. Exact long arithmetic. */
  def dotSparse(sfeat: Column, weights: Seq[Long]): Column =
    aggregate(sfeat, lit(0L), (acc, e) =>
      acc + e.getField("cnt") *
        element_at(typedlit(weights), e.getField("pos") + 1))

  /** Shared batch-perceptron loop over pre-staged sparse features: returns
    * (final weights, Σ per-iteration weights). The gradient is the explode
    * of MISCLASSIFIED rows' sparse entries reduced map-side — shuffle and
    * collect are both bounded by the number of DISTINCT ACTIVE buckets
    * (≤ min(dims, corpus vocabulary)), never dims itself. */
  private def sparseTrainLoop(staged: DataFrame, sparseCol: String,
                              labelCol: String, dims: Int,
                              iters: Int): (Array[Long], Array[Long]) = {
    val w = Array.fill(dims)(0L)
    val summed = Array.fill(dims)(0L)
    for (_ <- 1 to iters) {
      val margin = dotSparse(col(sparseCol), w.toSeq) * col(labelCol)
      val grad = staged.filter(margin <= 0)
        .select(col(labelCol).as("_y"), explode(col(sparseCol)).as("_e"))
        .groupBy(col("_e.pos").as("_pos"))
        .agg(sum(col("_e.cnt") * col("_y")).as("_g"))
        .collect() // ≤ distinct active buckets rows, bounded by construction
      grad.foreach(r => w(r.getInt(0)) += r.getLong(1))
      var d = 0
      while (d < dims) { summed(d) += w(d); d += 1 }
    }
    (w, summed)
  }

  /** [[perceptronTrain]] over SPARSE (pos, cnt) features — identical weights
    * at equal geometry (spec-pinned), with cost tracking the corpus instead
    * of the dims config. `sparseCol`: an [[sparseCountsFromSorted]] column. */
  def perceptronTrainSparse(feat: DataFrame, sparseCol: String, labelCol: String,
                            dims: Int, iters: Int): Array[Long] =
    perceptronTrainAveragedSparse(feat, sparseCol, labelCol, dims, iters)._1

  /** Averaged batch perceptron (Freund & Schapire 1999's voted-perceptron
    * average, batch form): returns (final weights, Σ_{t=1..T} w_t) — the sum
    * of the weight vector AFTER each iteration, exact integers so the oracle
    * re-trains it in unrolled CTEs. sign(Σw_t·x) = sign(avg·x) (positive
    * scaling), so the unnormalized sum IS the averaged classifier; it damps
    * the final iterate's oscillation on non-separable data. */
  def perceptronTrainAveragedSparse(feat: DataFrame, sparseCol: String,
                                    labelCol: String, dims: Int,
                                    iters: Int): (Array[Long], Array[Long]) = {
    require(dims >= 1 && iters >= 1, s"need dims >= 1 and iters >= 1, got $dims/$iters")
    // lineage-cut once: training is inherently multi-pass (see perceptronTrain)
    val staged = Spread.widen(feat.select(col(sparseCol), col(labelCol))).localCheckpoint()
    sparseTrainLoop(staged, sparseCol, labelCol, dims, iters)
  }

  /** One-vs-all MULTI-CLASS training (the language-ID shape): one binary
    * sparse perceptron per distinct class, classes in ascending order.
    * The feature frame checkpoints ONCE and every class's loop reuses it —
    * K·T corpus passes total, each reducing to an active-buckets gradient.
    * `averaged` picks the summed-iterate weights per class. */
  def perceptronTrainOneVsAll(feat: DataFrame, sparseCol: String,
                              classCol: String, dims: Int, iters: Int,
                              averaged: Boolean = false): Seq[(String, Array[Long])] = {
    require(dims >= 1 && iters >= 1, s"need dims >= 1 and iters >= 1, got $dims/$iters")
    val staged = Spread.widen(feat.select(col(sparseCol), col(classCol))).localCheckpoint()
    val classes = staged.select(col(classCol)).distinct()
      .collect().map(_.getString(0)).sorted.toSeq // bounded: #classes
    require(classes.length >= 2,
      s"one-vs-all needs >= 2 classes, got ${classes.mkString(", ")}")
    classes.map { c =>
      val bin = staged.withColumn("_ova_y",
        when(col(classCol) === c, 1L).otherwise(-1L))
      val (fin, avg) = sparseTrainLoop(bin, sparseCol, "_ova_y", dims, iters)
      (c, if (averaged) avg else fin)
    }
  }

  /** Argmax prediction for a [[perceptronTrainOneVsAll]] model: the class
    * with the highest ⟨w_c, x⟩, ties to the EARLIEST model in the given
    * order (ascending class name from the trainer). Each dot evaluates once
    * (array-constructor argument position); the struct comparison orders by
    * (score, −index). */
  def predictOneVsAll(sfeat: Column, models: Seq[(String, Array[Long])]): Column = {
    require(models.nonEmpty, "predictOneVsAll needs at least one model")
    array_max(array(models.zipWithIndex.map { case ((c, w), i) =>
      struct(dotSparse(sfeat, w.toSeq).as("s"), lit(-i).as("ni"), lit(c).as("c"))
    }: _*)).getField("c")
  }
}
