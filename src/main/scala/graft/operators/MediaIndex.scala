package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted media-FINGERPRINT index — the text-index/savePqIndex
  * persistence discipline applied to the image/audio/video hash families:
  * fingerprints (and their exact-verify payloads — grayscale thumbnails,
  * frame energies) are computed ONCE at ingest and stored as a DATASET, so
  * an iterative crawl near-dups each arriving batch against the index
  * without ever re-decoding the already-indexed payload bytes. At media
  * scale the DECODE is the expensive leg (the fingerprint table is ~100
  * bytes/item against multi-KB..MB payloads) — recomputing hashes from
  * payloads every run, as the batch near-dup operators do, is exactly what
  * an index exists to avoid.
  *
  * Layout (the [[GenCommit]] protocol, shared with [[Retrieval]]'s text
  * index): `fingerprints/gen=N/` data partitions, `meta_gN` commit dirs
  * (kind, n_items, gens). A crash mid-append leaves the old index readable
  * and consistent; a retry takes the next generation.
  *
  * The frame is keyed by `media_id`; every other column rides along (fp,
  * energies, gray, frame_idx — whatever the modality's verify needs).
  * `kind` names the hash family (e.g. "audio_energy_64", "image_ahash_64",
  * "video_frame_ahash_64") and appends must match it — banding fingerprints
  * from different hash functions would silently produce garbage candidates.
  */
object MediaIndex {

  /** A loaded index: meta driver-side, fingerprints lazy (committed
    * generations only; `gen` stripped). */
  final case class Index(kind: String, nItems: Long, fingerprints: DataFrame)

  /** Persist `hashes` (media_id + modality columns) as a fresh index at
    * `path` — clears any previous index there (a fresh save owns the path),
    * only once the batch is staged ([[GenCommit.save]]). */
  def save(hashes: DataFrame, kind: String, path: String): Unit = {
    require(hashes.columns.contains("media_id"),
      "MediaIndex.save: hashes must carry a media_id column")
    val spark = hashes.sparkSession
    import spark.implicits._
    GenCommit.save(hashes, path) { staged =>
      GenCommit.writeGen(staged, path, "fingerprints", 0)
      Seq((kind, nItems(staged))).toDF("kind", "n_items")
    }
  }

  private def nItems(staged: DataFrame): Long =
    staged.select(countDistinct(col("media_id"))).collect().head.getLong(0)

  /** Append `newHashes` as a new generation. Loud contracts: the index must
    * exist, `kind` must match the committed meta (mixed hash families band
    * into garbage), the columns must match the committed fingerprint schema,
    * and the new media_ids must be disjoint from the COMMITTED ids. */
  def append(newHashes: DataFrame, kind: String, path: String): Unit = {
    val spark = newHashes.sparkSession
    import spark.implicits._
    val op = "MediaIndex.append"
    GenCommit.append(newHashes, path, Seq("fingerprints"), op) { (staged, meta, gen) =>
      requireKind(op, path, meta.row.getAs[String]("kind"), Seq(kind))
      val committed = GenCommit.readGens(spark, path, "fingerprints", meta.gens)
      // names AND types: a same-named generation with drifted types (int vs
      // long ids, array<int> energies) would commit fine and poison every
      // cross-generation read later
      def shape(df: DataFrame) = df.schema.fields
        .map(f => (f.name, f.dataType.simpleString)).sortBy(_._1).toSeq
      require(shape(staged) == shape(committed),
        s"$op: columns ${shape(staged)} != indexed ${shape(committed)}")
      GenCommit.requireDisjointIds(staged, committed, "media_id", op, path)
      GenCommit.writeGen(staged, path, "fingerprints", gen)
      Seq((kind, meta.row.getAs[Long]("n_items") + nItems(staged)))
        .toDF("kind", "n_items")
    }
  }

  /** Reclaim dead bytes left by crashed appends ([[GenCommit.vacuum]]):
    * orphaned fingerprint `gen=N` partitions and superseded `meta_gN` dirs.
    * Probe results identical before/after (spec-pinned). Refuses (throws)
    * while an append's writer lease is fresh — an in-flight generation
    * looks like an orphan until its meta commits; a stale lease (dead
    * writer) ages out after the TTL. Returns the number of directories
    * removed. */
  def vacuum(spark: SparkSession, path: String): Int =
    GenCommit.vacuum(spark, path, Seq("fingerprints"), Nil, "MediaIndex.vacuum")

  /** Load the committed index at `path` (uncommitted generations from a
    * crashed append are invisible — file-level `gen` partition pruning). */
  def load(spark: SparkSession, path: String): Index = {
    val meta = GenCommit.requireMeta(spark, path, "MediaIndex.load")
    Index(meta.row.getAs[String]("kind"), meta.row.getAs[Long]("n_items"),
      GenCommit.readGens(spark, path, "fingerprints", meta.gens))
  }

  /** [[load]], rejecting an index whose kind is not one of `kinds` — the one
    * kind check of every near-dup probe and streaming ingest, naming the
    * `caller` (an ahash probe banded into an audio catalog would silently
    * produce garbage candidates). */
  private[graft] def loadKind(spark: SparkSession, path: String, caller: String,
                              kinds: String*): Index = {
    val idx = load(spark, path)
    requireKind(caller, path, idx.kind, kinds)
    idx
  }

  private def requireKind(caller: String, path: String, held: String,
                          kinds: Seq[String]): Unit =
    require(kinds.contains(held), s"$caller: index at $path holds '$held' " +
      s"fingerprints, not ${kinds.map(k => s"'$k'").mkString(" or ")}")
}
