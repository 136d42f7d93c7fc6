package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScalarQuantizationSpec extends SparkSpec {
  import spark.implicits._

  private val sq = ScalarQuantization

  test("encode: grid-aligned values round-trip, bounds clamp, zero-span dims encode 0") {
    // dims: [0, 255] grid / constant / negative range
    val df = Seq(
      (1L, Seq(0.0, 7.0, -1.0)),
      (2L, Seq(255.0, 7.0, 1.0)),
      (3L, Seq(128.0, 7.0, 0.0))).toDF("id", "v")
    val (mins, maxs) = sq.sqTrain(df, "v")
    assert(mins == Seq(0.0, 7.0, -1.0) && maxs == Seq(255.0, 7.0, 1.0))
    val codes = df.select($"id", sq.sqEncode($"v", mins, maxs).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(1L) == Seq(0, 0, 0))
    assert(codes(2L) == Seq(255, 0, 255))
    assert(codes(3L) == Seq(128, 0, 128)) // (0.5)*255 = 127.5 → HALF_UP 128
    // null element -> null code ELEMENT -> null packed long for its group
    // -> null distance -> excluded by sqTopK (poisoning resolves at the
    // distance, the PQ family's observable contract)
    val withNull = Seq((9L, Seq[Option[Double]](None, Some(7.0), Some(0.0))))
      .toDF("id", "v")
    val nc = withNull.select(sq.sqEncode($"v", mins, maxs)).collect().head
      .getSeq[Any](0)
    // null in a spanned dim -> null code; a ZERO-span dim encodes 0 even
    // for null input (the otherwise branch never reads x)
    assert(nc(0) == null && nc(1) == 0 && nc(2) != null)
    val dist = withNull
      .select(sq.sqDistance(
        sq.sqPack(concat(sq.sqEncode($"v", mins, maxs),
          array((3 until 8).map(_ => lit(0)): _*)), 8),
        Seq.fill(8)(0.0), mins ++ Seq.fill(5)(0.0), maxs ++ Seq.fill(5)(1.0)))
      .collect().head
    assert(dist.isNullAt(0), "null code must poison the distance")
  }

  test("sqTopK: a grid-aligned corpus makes SQ8 distances EXACT — top-k equals brute force, distances bitwise") {
    val dims = 8
    // values of the form min + c*span/255 computed with the decoder's own
    // arithmetic -> encode recovers c, decode reproduces x bitwise
    val mins = (0 until dims).map(d => -1.0 - d * 0.1)
    val maxs = (0 until dims).map(d => 2.0 + d * 0.2)
    val rows = (0 until 40).map { i =>
      val v = (0 until dims).map { d =>
        val c = ((i * 31 + d * 17) % 256).toDouble
        mins(d) + (c * (maxs(d) - mins(d))) / 255.0
      }
      (i.toLong, v)
    }
    val df = rows.toDF("id", "v")
    val enc = df.select($"id", sq.sqPack(sq.sqEncode($"v", mins, maxs), dims).as("packed"))
    val q = rows(5)._2
    val got = sq.sqTopK(enc, "packed", "id", q, mins, maxs, k = 10)
      .as[(Long, Double)].collect().toSeq
    // the dot-identity fold sqDistance computes (ascending, left-assoc —
    // NativeVec.dot's accumulation order)
    def dot(a: Seq[Double], b: Seq[Double]) = {
      var s = 0.0; (0 until dims).foreach(d => s += a(d) * b(d)); s
    }
    def l2(a: Seq[Double], b: Seq[Double]) =
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    val brute = rows.map { case (id, v) => (l2(v, q), id) }.sorted.take(10)
      .map { case (dist, id) => (id, dist) }
    assert(got == brute, "grid-aligned SQ8 must equal exact search bitwise")
    assert(got.head == (5L, 0.0), "self distance must be exactly zero")
  }

  test("sqPack: 8 codes per long, multiple-of-8 guard, unpack round-trips") {
    val df = Seq((1L, (0 until 16).map(d => (d * 16 + 3).toDouble))).toDF("id", "v")
    val (mins, maxs) = sq.sqTrain(df, "v")
    intercept[IllegalArgumentException](sq.sqPack(lit(null), 12))
    val packed = df.select(sq.sqPack(sq.sqEncode($"v", mins, maxs), 16))
      .collect().head.getSeq[Long](0)
    assert(packed.length == 2)
    // single row: every dim has zero span -> all codes 0 -> packed zeros
    assert(packed == Seq(0L, 0L))
  }

  test("saveSqIndex/loadSqIndex: a reloaded index searches identically, bounds bit-exact") {
    val rows = (0L until 40L).map(i =>
      (i, (0 until 16).map(d => math.sin(i * 0.37 + d * 1.13) * 3.0 + d)))
    val df = rows.toDF("id", "v")
    val (mins, maxs) = sq.sqTrain(df, "v")
    val enc = df.select($"id",
      sq.sqPack(sq.sqEncode($"v", mins, maxs), 16).as("pk"))
    val path = tempDir().resolve("sqidx").toString
    sq.saveSqIndex(enc, "id", "pk", mins, maxs, path)
    val idx = sq.loadSqIndex(spark, path)
    assert(idx.dims == 16)
    assert(idx.mins == mins && idx.maxs == maxs, "bounds must round-trip bit-exactly")
    val q = rows(7)._2
    val direct = sq.sqTopK(enc.localCheckpoint(), "pk", "id", q, mins, maxs, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reloaded = sq.sqTopK(idx.codes, "packed", "vec_id", q, idx.mins, idx.maxs, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(reloaded == direct, "reloaded index must search identically")
    // loud on a corrupted bounds table
    val bad = tempDir().resolve("sqbad").toString
    sq.saveSqIndex(enc, "id", "pk", mins, maxs, bad)
    spark.read.parquet(s"$bad/bounds").filter($"d" =!= 3)
      .write.mode("overwrite").parquet(s"$bad/bounds2")
    val fs = java.nio.file.Paths.get(bad)
    // swap in the truncated bounds
    org.apache.commons.io.FileUtils.deleteDirectory(fs.resolve("bounds").toFile)
    org.apache.commons.io.FileUtils.moveDirectory(
      fs.resolve("bounds2").toFile, fs.resolve("bounds").toFile)
    intercept[IllegalArgumentException](sq.loadSqIndex(spark, bad))
  }

  test("an SQ8 re-save whose input fails at run time leaves the committed index intact") {
    val rows = (0L until 40L).map(i =>
      (i, (0 until 16).map(d => math.cos(i * 0.53 + d * 0.71) * 2.0 + d)))
    val df = rows.toDF("id", "v")
    val (mins, maxs) = sq.sqTrain(df, "v")
    val enc = df.select($"id",
      sq.sqPack(sq.sqEncode($"v", mins, maxs), 16).as("pk"))
    val path = tempDir().resolve("sqresave").toString
    sq.saveSqIndex(enc, "id", "pk", mins, maxs, path)
    val q = rows(5)._2
    def search() = {
      val idx = sq.loadSqIndex(spark, path)
      sq.sqTopK(idx.codes, "packed", "vec_id", q, idx.mins, idx.maxs, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val before = search()
    // different bounds, and one row that raises in a task (checkpointed rows:
    // the optimizer cannot fold the expression over a local relation at plan
    // time) — neither the new codes nor the new bounds may replace the old
    val shifted = maxs.map(_ + 1.0)
    val failing = df.localCheckpoint().select($"id",
      when($"id" === 9L, raise_error(lit("corrupt vector")))
        .otherwise(sq.sqPack(sq.sqEncode($"v", mins, shifted), 16)).as("pk"))
    intercept[Exception](sq.saveSqIndex(failing, "id", "pk", mins, shifted, path))
    val idx = sq.loadSqIndex(spark, path)
    assert(idx.maxs == maxs && idx.codes.count() == 40L)
    assert(search() == before, "the old index must still search as before")
  }
}
