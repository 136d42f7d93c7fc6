package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of the `documents` / `embeddings` tables, for the
  * data-bound scaling legs that [[Bench]] runs (`bench/run_scale_series.sh`).
  *
  * The replication is structure-preserving, which is what makes the scaling
  * series honest:
  *
  *   - '''documents''': replica `r` suffixes every whitespace token with
  *     `~<base26(r)>`. Within a replica the corpus is an exact isomorphic image
  *     of the original (same token counts, same duplicate/near-duplicate
  *     structure, same shingle-set relationships), while across replicas no
  *     token — hence no shingle, no MinHash band, no gram — collides. Dedup
  *     candidate pairs therefore scale exactly ×N (linear), never ×N² (the
  *     degenerate shape naive row duplication would produce). The suffix is
  *     chosen to keep the curation gates live: `~` is a regex non-word char, so
  *     `\bthe\b`-style stopword hits (langIdEn) still fire, and the base-26
  *     digits are alphabetic, so the qualityScore alpha-density term moves only
  *     marginally. `source`/`lang` columns are untouched (q75/q76-style
  *     stratification and split predicates see the same distribution).
  *   - '''embeddings''': replica `r` applies a cyclic dimension shift by
  *     `r mod dims` plus a deterministic per-(replica, dim) sign flip. Both are
  *     isometries of the dot product: for same-replica vectors
  *     `(s⊙rot(a))·(s⊙rot(b)) = Σ s_i² a_i b_i  = a·b` exactly, so
  *     within-replica cosine structure (near-dup pairs, kNN ranks, cluster
  *     geometry) is bit-preserved; across replicas the signs decorrelate, so
  *     similarity pairs again scale ×N.
  *
  * Ids get a disjoint per-replica stride so every downstream id-keyed operator
  * (dedup canonicals, cluster labels, splits) sees globally unique keys.
  *
  * Usage: `ScaleData <srcDir> <outDir> <replicas>` — writes
  * `outDir/documents.parquet` and `outDir/embeddings.parquet`.
  */
object ScaleData {

  val IdStride = 10000000L

  /** Base-26 alphabetic encoding of a non-negative int ("0"→"a", "25"→"z",
    * "26"→"ba") — expressed as a Column so the whole mutation stays in-scan. */
  private def alpha26(n: Column): Column =
    translate(n.cast("string"), "0123456789", "abcdefghij")

  /** Replica-expanded documents: one output row per (input row, r in 0..n-1). */
  def scaleDocuments(spark: SparkSession, srcDir: String, n: Int) = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val tagged = docs
      .withColumn("r", explode(sequence(lit(0), lit(n - 1))))
    val mutated = array_join(
      transform(split(col("text"), "\\s+"),
        t => concat(t, lit("~"), alpha26(col("r")))), " ")
    tagged
      .withColumn("text",
        when(col("r") === 0, col("text")).otherwise(mutated))
      .withColumn("doc_id", col("doc_id") + col("r") * IdStride)
      .withColumn("n_chars", length(col("text")))
      .drop("r")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** SPARSE variant of [[scaleDocuments]] — the near-dup-RARE corpus shape
    * (real web crawls after upstream URL/exact dedup: most docs have no
    * near-dup partner). The dense corpus's candidate pairs cover ~100% of
    * docs, so the selectivity-gated verify prune in
    * [[graft.operators.DedupSuite]] correctly stays OFF there and its win
    * case was never measurable; this variant produces the regime it was
    * built for.
    *
    * Construction: every token is suffixed with a tag. Docs with
    * `doc_id % keepEvery == 0` ("kept", 1/keepEvery of the corpus) get the
    * per-REPLICA tag of the dense mode, so their mutual within-replica
    * token/gram structure — including the base corpus's planted near-dup
    * pairs whose id deltas are ≡ 0 (mod 20), measured: 98 of sf0.01's 1506
    * Jaccard pairs survive a keepEvery=20 selection — is preserved verbatim.
    * Every other doc gets a per-(doc, replica) UNIQUE tag (namespaced with
    * 'u', disjoint from the replica tags by construction), so it shares no
    * token, hence no gram and no candidate pair, with any other doc.
    * Candidate-doc coverage is therefore ≈ 1/keepEvery (5% at the default)
    * — well under the 25% gate — while row count, token counts, and
    * per-doc gram work match the dense corpus exactly. Replica 0 is
    * sparsified too (unlike the dense mode's verbatim copy): a verbatim
    * replica would be a dense sub-corpus and defeat the shape. */
  def scaleDocumentsSparse(spark: SparkSession, srcDir: String, n: Int,
                           keepEvery: Int = 20) = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val tagged = docs.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
    val kept = pmod(col("doc_id"), lit(keepEvery.toLong)) === 0
    val tag = when(kept, alpha26(col("r")))
      .otherwise(concat(lit("u"), alpha26(col("doc_id") * n + col("r"))))
    tagged
      .withColumn("text", array_join(
        transform(split(col("text"), "\\s+"), t => concat(t, lit("~"), tag)), " "))
      .withColumn("doc_id", col("doc_id") + col("r") * IdStride)
      .withColumn("n_chars", length(col("text")))
      .drop("r")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** ZIPF-SKEWED variant of [[scaleDocuments]] — the hot-host/hot-domain
    * corpus shape (one crawler-friendly host contributing a large share of a
    * web corpus). Text mutation is identical to the dense mode; skew is
    * injected into the two key spaces the skew levers operate on:
    *
    *   - `source`: a hash-chosen 1/hotMod of (doc, replica)s (20% at the
    *     default) is reassigned to the single hot source `"srchot"` — any
    *     operator keying or blocking on `source` sees one key holding 20% of
    *     the corpus.
    *   - `doc_id` residues: ids are renumbered `id*20` for hot docs (residue
    *     0 mod 20) and `id*20 + 1 + (id % 19)` for the rest (residues 1–19),
    *     keeping ids globally unique (the two branches are disjoint mod 20)
    *     while concentrating every doc_id-modulus-derived key the synthetic
    *     URL queries use (q98's canonical URL class is `(id%5, id%20)`) onto
    *     one hot class holding the same 20% of docs.
    *
    * Everything else (lang, token structure, per-replica isolation) matches
    * the dense mode, so a Zipf-leg measurement differs from the dense leg
    * only by key distribution — the variable under test. */
  def scaleDocumentsZipf(spark: SparkSession, srcDir: String, n: Int,
                         hotMod: Int = 5) = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val tagged = docs.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
    val mutated = array_join(
      transform(split(col("text"), "\\s+"),
        t => concat(t, lit("~"), alpha26(col("r")))), " ")
    val strided = col("doc_id") + col("r") * IdStride
    val hot = pmod(xxhash64(col("doc_id"), col("r")), lit(hotMod.toLong)) === 0
    tagged
      .withColumn("text",
        when(col("r") === 0, col("text")).otherwise(mutated))
      .withColumn("source", when(hot, lit("srchot")).otherwise(col("source")))
      .withColumn("doc_id",
        when(hot, strided * 20L)
          .otherwise(strided * 20L + 1L + pmod(strided, lit(19L))))
      .withColumn("n_chars", length(col("text")))
      .drop("r")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Replica-expanded events: replica `r` shifts the time axis by
    * `r * shift`, where `shift` is the corpus span rounded UP to a whole hour
    * plus a 2-hour margin. Because every event-time bucketing the engine uses
    * (10-minute top-k windows, 1-hour tumbling windows) is epoch-aligned and
    * divides one hour, an hour-multiple shift preserves each event's position
    * within its bucket EXACTLY — each replica is an isomorphic image of the
    * base corpus on a disjoint time range (window count ×N, per-window
    * density unchanged — the honest shape for "the stream ran N× longer").
    * Session windows are gap-based, hence shift-invariant; the ≥2 h margin
    * (any margin > the 30-min session gap) plus per-replica user/event id
    * strides keep sessions and keys from bleeding across replicas. `value`,
    * `event_type`, `props` are untouched, so value-binned aggregations (q22)
    * see ×N rows into the same bins. */
  def scaleEvents(spark: SparkSession, srcDir: String, n: Int) = {
    val ev = graft.queries.RelationalQueries.events(spark, srcDir)
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val hourMicros = 3600L * 1000000L
    val shift = ((mm.getLong(1) - mm.getLong(0)) / hourMicros + 3) * hourMicros
    ev.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("r") * shift))
      .withColumn("event_id", col("event_id") + col("r") * IdStride)
      .withColumn("user_id", col("user_id") + col("r") * IdStride)
      .drop("r")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** DENSE variant of [[scaleEvents]] — "the stream ran N× DENSER", not "N×
    * longer": replicas keep the base corpus's time axis verbatim (same 30-day
    * range, same windows) and stride only the id spaces, so every
    * (window, group) bucket holds N× the rows of the base corpus. This is the
    * claimed-collapse regime for the bounded-heap grouped top-k (q116): with
    * per-window-group density ≫ k, partial heaps cap the shuffle at
    * k rows per (window, group) per map partition regardless of input size —
    * the time-shifted mode can never exhibit that (its per-bucket density is
    * constant and its window count grows instead). User ids are strided so
    * session structure (q66) stays per-replica rather than artificially
    * merging. */
  def scaleEventsDense(spark: SparkSession, srcDir: String, n: Int) = {
    graft.queries.RelationalQueries.events(spark, srcDir)
      .withColumn("r", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("event_id", col("event_id") + col("r") * IdStride)
      .withColumn("user_id", col("user_id") + col("r") * IdStride)
      .drop("r")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Replica-expanded embeddings: shift-and-sign-flip isometry per replica. */
  def scaleEmbeddings(spark: SparkSession, srcDir: String, n: Int) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val tagged = emb.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
    val dims = size(col("embedding"))
    val rotatedFlipped = transform(sequence(lit(0), dims - 1), i =>
      (element_at(col("embedding"), pmod(i + col("r"), dims).cast("int") + 1) *
        when(col("r") === 0, lit(1.0f))
          .otherwise(when(pmod(xxhash64(col("r"), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f)))).cast("float"))
    tagged
      .withColumn("embedding", rotatedFlipped)
      .withColumn("vec_id", col("vec_id") + col("r") * IdStride)
      .drop("r")
      .select("vec_id", "embedding", "label")
  }

  /** CLUSTERED synthetic embeddings: `nClusters` deterministic trig-grid
    * centers (scale 2.0) plus small per-(row, dim) jitter (amplitude 0.25) —
    * the corpus shape where a coarse quantizer explains real variance, i.e.
    * residual PQ's favorable regime (the PipelineOpsSpec clustered-fixture
    * geometry at corpus scale; the base test corpus's neighbor gap sits
    * BELOW per-vector quantization error, which is why r10_pq_residual_ab's
    * single-stage ADC delta measured within noise). Row count and id/label
    * layout follow the replica convention; the embedding VALUES are fully
    * synthetic (cluster = vec_id mod nClusters), deterministic, in-scan. */
  def scaleEmbeddingsClustered(spark: SparkSession, srcDir: String, n: Int,
                               nClusters: Int = 64) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val tagged = emb.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("vec_id", col("vec_id") + col("r") * IdStride)
    val c = pmod(col("vec_id"), lit(nClusters)).cast("double")
    val clustered = transform(sequence(lit(0), size(col("embedding")) - 1), d =>
      (sin(c * lit(13.37) + d.cast("double") * lit(0.71)) * lit(2.0) +
        cos(col("vec_id").cast("double") * lit(0.913)
          + d.cast("double") * lit(0.377)) * lit(0.25)).cast("float"))
    tagged
      .withColumn("embedding", clustered)
      .drop("r")
      .select("vec_id", "embedding", "label")
  }

  /** ANISOTROPIC synthetic embeddings: per-dimension scale decays
    * geometrically (0.93^d — ~100× amplitude spread across 64 dims, ~1e4
    * variance spread between the first and last of 8 subspaces), so a plain
    * m-way PQ split wastes most of its per-subspace budget on near-zero
    * subspaces while the first subspace bears nearly all the error — the
    * regime OPQ-style rotation exists to fix (Ge et al. 2013 §1: variance
    * balancing). Values are deterministic trig pseudo-noise per (row, dim);
    * id/label layout follows the replica convention. */
  def scaleEmbeddingsAnisotropic(spark: SparkSession, srcDir: String, n: Int) = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val tagged = emb.withColumn("r", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("vec_id", col("vec_id") + col("r") * IdStride)
    val v = col("vec_id").cast("double")
    val decayed = transform(sequence(lit(0), size(col("embedding")) - 1), d =>
      ((sin(v * lit(0.917) + d.cast("double") * lit(2.083)) +
        cos(v * lit(0.311) + d.cast("double") * lit(5.677)) * lit(0.5)) *
        pow(lit(0.93), d.cast("double"))).cast("float"))
    tagged
      .withColumn("embedding", decayed)
      .drop("r")
      .select("vec_id", "embedding", "label")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleData <srcDir> <outDir> <replicas> [tables]  (tables: comma list of " +
        "documents,embeddings,events,documents_sparse,documents_zipf,events_dense," +
        "embeddings_clustered,embeddings_aniso; default " +
        "the three dense tables; variants write the same <outDir>/<base>.parquet name)")
    val Array(srcDir, outDir, nStr) = args.take(3)
    val n = nStr.toInt
    require(n >= 1, s"replicas must be >= 1: $n")
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("documents", "embeddings", "events"))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val parts = math.min(32, math.max(4, n / 2))
    // (selector, output table file, generator) — variants overwrite the base
    // table name so downstream queries read the corpus unchanged; a corpus dir
    // holds ONE shape per table (don't mix dense and sparse documents in one dir).
    val counts = Seq(
      ("documents", "documents", () => scaleDocuments(spark, srcDir, n)),
      ("documents_sparse", "documents", () => scaleDocumentsSparse(spark, srcDir, n)),
      ("documents_zipf", "documents", () => scaleDocumentsZipf(spark, srcDir, n)),
      ("embeddings", "embeddings", () => scaleEmbeddings(spark, srcDir, n)),
      ("embeddings_clustered", "embeddings",
        () => scaleEmbeddingsClustered(spark, srcDir, n)),
      ("embeddings_aniso", "embeddings",
        () => scaleEmbeddingsAnisotropic(spark, srcDir, n)),
      ("events", "events", () => scaleEvents(spark, srcDir, n)),
      ("events_dense", "events", () => scaleEventsDense(spark, srcDir, n)))
      .filter { case (sel, _, _) => tables(sel) }
      .map { case (sel, file, gen) =>
        gen().repartition(parts).write.mode("overwrite").parquet(s"$outDir/$file.parquet")
        sel -> spark.read.parquet(s"$outDir/$file.parquet").count()
      }
    val countsJson = counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"out":"$outDir","replicas":$n,$countsJson}""")
    spark.stop()
  }
}
