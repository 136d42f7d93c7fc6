package graft.operators

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the whole on-disk layout of every persisted index: the relative
  * directory tree (generation and bucket/cell partition dirs, derived,
  * static and commit dirs, `_SUCCESS` markers; part files left out — their
  * count follows the core count) after save → append → planted orphan →
  * vacuum. An index written by an earlier build must stay readable by a
  * later one, so these listings change only with a deliberate format
  * change. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Sorted relative paths under `root`; directories end in `/`. */
  private def tree(root: String): Seq[String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.toSeq.filter(_ != base).flatMap { p =>
      val name = p.getFileName.toString
      val rel = base.relativize(p).toString
      if (Files.isDirectory(p)) Some(rel + "/")
      else if (name.startsWith("part-") || name.endsWith(".crc")) None
      else Some(rel)
    }.sorted finally walk.close()
  }

  private def listing(s: String): Seq[String] = s.trim.split("\\s+").toSeq.sorted

  /** The tree after save, after append, and after a planted crash orphan
    * (a `gen=7` data partition in each data dir plus an uncommitted
    * `meta_g7`) is vacuumed. */
  private def layouts(path: String, dataDirs: String*)(
      save: => Unit, append: => Unit, vacuum: => Int): Seq[Seq[String]] = {
    save
    val saved = tree(path)
    append
    val appended = tree(path)
    (dataDirs.map(d => s"$d/gen=7") :+ "meta_g7").foreach(d =>
      Files.createDirectories(Paths.get(path, d)))
    vacuum
    Seq(saved, appended, tree(path))
  }

  test("text index layout: gen/term_bucket postings, doclens, terms_gN, meta_gN") {
    val path = tempDir().resolve("text").toString
    val docs = Seq((1L, "spark spark query"), (2L, "query other words"),
      (3L, "rare words here"), (4L, "spark here")).toDF("doc_id", "text")
    val extra = Seq((5L, "fresh words"), (6L, "spark novel")).toDF("doc_id", "text")
    val got = layouts(path, "doclens", "postings")(
      Retrieval.saveTextIndex(docs, "doc_id", "text", path, nBuckets = 4),
      Retrieval.appendToTextIndex(extra, "doc_id", "text", path),
      Retrieval.vacuumTextIndex(spark, path))
    val gen0 = """doclens/ doclens/_SUCCESS doclens/gen=0/
      postings/ postings/_SUCCESS postings/gen=0/ postings/gen=0/term_bucket=0/
      postings/gen=0/term_bucket=1/ postings/gen=0/term_bucket=2/
      postings/gen=0/term_bucket=3/"""
    val gen1 = """doclens/gen=1/ postings/gen=1/ postings/gen=1/term_bucket=0/
      postings/gen=1/term_bucket=2/ postings/gen=1/term_bucket=3/"""
    val meta0 = "meta_g0/ meta_g0/_SUCCESS terms_g0/ terms_g0/_SUCCESS"
    val meta1 = "meta_g1/ meta_g1/_SUCCESS terms_g1/ terms_g1/_SUCCESS"
    assert(got === Seq(listing(s"$gen0 $meta0"),
      listing(s"$gen0 $gen1 $meta0 $meta1"), listing(s"$gen0 $gen1 $meta1")))
  }

  test("media index layout: gen fingerprints, meta_gN") {
    val path = tempDir().resolve("media").toString
    val got = layouts(path, "fingerprints")(
      MediaIndex.save(Seq((1L, 11L), (2L, 22L)).toDF("media_id", "fp"), "test_64", path),
      MediaIndex.append(Seq((3L, 33L)).toDF("media_id", "fp"), "test_64", path),
      MediaIndex.vacuum(spark, path))
    val gen0 = "fingerprints/ fingerprints/_SUCCESS fingerprints/gen=0/"
    val meta0 = "meta_g0/ meta_g0/_SUCCESS"
    val meta1 = "meta_g1/ meta_g1/_SUCCESS"
    assert(got === Seq(listing(s"$gen0 $meta0"),
      listing(s"$gen0 fingerprints/gen=1/ $meta0 $meta1"),
      listing(s"$gen0 fingerprints/gen=1/ $meta1")))
  }

  test("PQ index layout: gen/cell codes, static coarse/codebooks/rotation, meta_gN") {
    val pq = ProductQuantization
    val path = tempDir().resolve("pq").toString
    def codes(ids: Range) =
      ids.map(i => (i.toLong, (i % 16).toLong, i % 2)).toDF("id", "packed", "cell")
    val coarse = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val cb = Seq.fill(2)(Seq.tabulate(4)(c => Seq(c.toDouble)))
    val got = layouts(path, "codes")(
      pq.savePqIndex(codes(0 until 10), "id", "packed", "cell", coarse, cb,
        residual = true, path, rotation = Some(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))),
      pq.appendToPqIndex(codes(10 until 14), "id", "packed", "cell", path),
      pq.vacuumPqIndex(spark, path))
    val static = """coarse/ coarse/_SUCCESS codebooks/ codebooks/_SUCCESS
      rotation/ rotation/_SUCCESS"""
    val gen0 = "codes/ codes/_SUCCESS codes/gen=0/ codes/gen=0/cell=0/ codes/gen=0/cell=1/"
    val gen1 = "codes/gen=1/ codes/gen=1/cell=0/ codes/gen=1/cell=1/"
    val meta0 = "meta_g0/ meta_g0/_SUCCESS"
    val meta1 = "meta_g1/ meta_g1/_SUCCESS"
    assert(got === Seq(listing(s"$static $gen0 $meta0"),
      listing(s"$static $gen0 $gen1 $meta0 $meta1"),
      listing(s"$static $gen0 $gen1 $meta1")))
  }

  test("SQ8 index layout: gen codes, static bounds, meta_g0") {
    val sq = ScalarQuantization
    val path = tempDir().resolve("sq").toString
    val df = (0L until 8L).map(i => (i, Seq.tabulate(8)(d => (i * d % 5).toDouble)))
      .toDF("id", "v")
    val (mins, maxs) = sq.sqTrain(df, "v")
    sq.saveSqIndex(df.select($"id", sq.sqPack(sq.sqEncode($"v", mins, maxs), 8).as("pk")),
      "id", "pk", mins, maxs, path)
    assert(tree(path) === listing("""bounds/ bounds/_SUCCESS codes/ codes/_SUCCESS
      codes/gen=0/ meta_g0/ meta_g0/_SUCCESS"""))
  }
}
