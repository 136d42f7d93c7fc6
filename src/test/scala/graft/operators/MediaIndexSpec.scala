package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.EventPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MediaIndexSpec extends SparkSpec {
  import spark.implicits._

  private def wavMedia(rows: (Long, Array[Short])*): DataFrame = {
    val df = rows.map { case (id, s) =>
      (id, Multimodal.encodeWav(s, 8000)) }.toDF("media_id", "payload")
    Multimodal.asMediaFrame(df, "media_id", "payload", "audio")
  }

  private def grayMedia(rows: (Long, Array[Int])*): DataFrame = {
    val df = rows.map { case (id, g) =>
      (id, Multimodal.encodePngGray(8, 8, g)) }.toDF("media_id", "payload")
    Multimodal.asMediaFrame(df, "media_id", "payload", "image")
  }

  private def gifMedia(rows: (Long, Array[Byte])*): DataFrame = Multimodal.asMediaFrame(
    rows.toSeq.toDF("media_id", "payload"), "media_id", "payload", "video")

  /** An arriving (media_id, payload, ts) stream, as the streaming ingests take it. */
  private def mediaStream(): DataFrame = {
    implicit val sc = spark.sqlContext
    MemoryStream[(Long, Array[Byte], Timestamp)].toDF().toDF("media_id", "payload", "ts")
  }

  private val baseClip = Array.tabulate(2048)(t => (((t * 37 + 11) % 1000) + 100).toShort)
  private val otherClip = Array.tabulate(2048)(t => (((t * t * 91 + 13 * t + 5) % 2000) - 1000).toShort)
  private val thirdClip = Array.tabulate(2048)(t => (((t * 131 + 7) % 4000) - 2000).toShort)

  test("audio: save + append, probe near-dups hit the indexed catalog with exact L1") {
    val path = tempDir().resolve("audioidx").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip, 4L -> otherClip), path)
    Multimodal.appendToAudioIndex(wavMedia(5L -> thirdClip), path)
    val idx = MediaIndex.load(spark, path)
    assert(idx.kind === "audio_energy_64" && idx.nItems === 3L)
    // probes: 102 = re-encode of 1; 103 = frame-0 nudge of 1; 106 unrelated
    val nudged = baseClip.clone()
    (0 until 32).foreach(t => nudged(t) = (nudged(t) + 192).toShort)
    val fresh = Array.tabulate(2048)(t => (((t * 997 + 3) % 3000) - 1500).toShort)
    val pairs = Multimodal.audioNearDupAgainstIndex(
        wavMedia(102L -> baseClip, 103L -> nudged, 106L -> fresh), path)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pairs((102L, 1L)) === ((0L, 0L)), "re-encode: hamming 0, L1 0")
    assert(pairs((103L, 1L))._2 === 32L * 192L, "exact energy delta")
    assert(!pairs.keySet.exists(p => p._1 == 106L), "unrelated probe must not pair")
    assert(!pairs.keySet.exists(p => p._2 == 4L || p._2 == 5L))
  }

  test("audio: append == full rebuild (probe results identical)") {
    val a = tempDir().resolve("audioidx_app").toString
    val b = tempDir().resolve("audioidx_full").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), a)
    Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip, 5L -> thirdClip), a)
    Multimodal.saveAudioIndex(
      wavMedia(1L -> baseClip, 4L -> otherClip, 5L -> thirdClip), b)
    val probes = wavMedia(102L -> baseClip, 104L -> otherClip)
    def res(p: String) = Multimodal.audioNearDupAgainstIndex(probes, p)
      .collect().map(_.toSeq).toSet
    assert(res(a) === res(b))
    assert(res(a).nonEmpty)
  }

  test("torn append is invisible; retry commits on a fresh generation") {
    val path = tempDir().resolve("audioidx_torn").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    // simulate a crash: a gen=1 fingerprint file landed, meta_g1 never did
    Seq((77L, 0L, Array.fill(64)(1L), 1))
      .toDF("media_id", "fp", "energies", "gen")
      .write.mode("append").partitionBy("gen").parquet(s"$path/fingerprints")
    val torn = MediaIndex.load(spark, path)
    assert(torn.nItems === 1L, "uncommitted generation leaked into meta")
    assert(torn.fingerprints.count() === 1L, "orphan rows leaked into the read")
    Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path)
    val retried = MediaIndex.load(spark, path)
    assert(retried.nItems === 2L)
    assert(retried.fingerprints.select("media_id").as[Long].collect().toSet
      === Set(1L, 4L))
    // vacuum drops the torn gen=1 orphan + the superseded meta_g0; probe
    // results identical before/after
    val probes = wavMedia(102L -> baseClip)
    val before = Multimodal.audioNearDupAgainstIndex(probes, path)
      .collect().map(_.toSeq).toSet
    val removed = MediaIndex.vacuum(spark, path)
    assert(removed >= 2, s"expected orphan + superseded dirs removed, got $removed")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/fingerprints/gen=1")))
    assert(MediaIndex.load(spark, path).nItems === 2L)
    assert(Multimodal.audioNearDupAgainstIndex(probes, path)
      .collect().map(_.toSeq).toSet === before)
  }

  test("vacuum racing an in-flight append refuses; the committed-next generation survives") {
    val path = tempDir().resolve("audioidx_lease").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    // simulate an append in flight: its writer lease is held and its gen=1
    // data landed, but meta_g1 has not committed yet — exactly the state a
    // racing vacuum would otherwise misread as a reclaimable orphan
    val tok = GenCommit.acquireLease(spark, path)
    Seq((77L, 0L, Array.fill(64)(1L), 1))
      .toDF("media_id", "fp", "energies", "gen")
      .write.mode("append").partitionBy("gen").parquet(s"$path/fingerprints")
    val refused = intercept[IllegalStateException](MediaIndex.vacuum(spark, path))
    assert(refused.getMessage.contains("lease"))
    val fs = GenCommit.fs(spark, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/fingerprints/gen=1")),
      "a refused vacuum must not have touched the in-flight generation")
    // a second appender is fenced by the same lease
    val second = intercept[IllegalStateException](
      Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path))
    assert(second.getMessage.contains("lease"))
    GenCommit.releaseLease(spark, path, tok)
    // writer released without committing (crash-equivalent): the gen=1 data
    // is now a true orphan and vacuum reclaims it
    assert(MediaIndex.vacuum(spark, path) >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/fingerprints/gen=1")))
    Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path)
    assert(MediaIndex.load(spark, path).nItems === 2L)
  }

  test("a stale lease (dead writer) ages out: append takes over, vacuum proceeds") {
    val path = tempDir().resolve("audioidx_stale").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    def plantStaleLease(): Unit = {
      val out = GenCommit.fs(spark, path)
        .create(new org.apache.hadoop.fs.Path(path, "_lease"), false)
      try out.write((System.currentTimeMillis() - 3600L * 1000L)
        .toString.getBytes("UTF-8")) finally out.close()
    }
    plantStaleLease()
    // older than the TTL: the next appender takes the lease over (and
    // releases its own on exit), so a crashed writer never wedges the index
    Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path)
    assert(MediaIndex.load(spark, path).nItems === 2L)
    assert(!GenCommit.fs(spark, path)
      .exists(new org.apache.hadoop.fs.Path(path, "_lease")))
    plantStaleLease()
    MediaIndex.vacuum(spark, path) // must not throw on a stale lease
    GenCommit.breakLease(spark, path)
  }

  test("lease hardening: an empty lease ages by mtime; save refuses while a lease is held") {
    val path = tempDir().resolve("audioidx_hardlease").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    val fs = GenCommit.fs(spark, path)
    val lp = new org.apache.hadoop.fs.Path(path, "_lease")
    // a writer died between create and write: the empty file must behave
    // like a fresh lease (refuse) rather than wedge or count as absent
    fs.create(lp, false).close()
    assert(intercept[IllegalStateException](
      Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path))
      .getMessage.contains("lease"))
    // ...and age out by its modification time like a written lease
    fs.setTimes(lp, System.currentTimeMillis() - 3600L * 1000L, -1)
    Multimodal.appendToAudioIndex(wavMedia(4L -> otherClip), path)
    assert(MediaIndex.load(spark, path).nItems === 2L)
    // a fresh save must not destroy an in-flight appender's lease and data
    val tok = GenCommit.acquireLease(spark, path)
    assert(intercept[IllegalStateException](
      Multimodal.saveAudioIndex(wavMedia(9L -> thirdClip), path))
      .getMessage.contains("lease"))
    assert(MediaIndex.load(spark, path).nItems === 2L,
      "a refused save must leave the committed index untouched")
    GenCommit.releaseLease(spark, path, tok)
    Multimodal.saveAudioIndex(wavMedia(9L -> thirdClip), path)
    assert(MediaIndex.load(spark, path).nItems === 1L)
  }

  test("lease ownership: a taken-over writer cannot delete the new holder's lease") {
    val path = tempDir().resolve("lease_tok").toString
    // an old writer whose lease aged past the TTL (slow, not dead)
    val oldTok = GenCommit.acquireLease(spark, path)
    Thread.sleep(5)
    // legitimate takeover: the taker's TTL says the 5 ms-old lease is stale
    val newTok = GenCommit.acquireLease(spark, path, ttlMs = 1L)
    // the slow old writer: its commit fence and its release both fail loudly
    // instead of deleting the new holder's lease (which would have let a
    // third writer interleave)
    intercept[IllegalStateException](GenCommit.assertHeld(spark, path, oldTok))
    intercept[IllegalStateException](GenCommit.releaseLease(spark, path, oldTok))
    assert(GenCommit.fs(spark, path)
      .exists(new org.apache.hadoop.fs.Path(path, "_lease")),
      "the new holder's lease must survive the old writer's exit")
    GenCommit.releaseLease(spark, path, newTok)
  }

  test("a failing save leaves the previously committed index intact") {
    val path = tempDir().resolve("audioidx_resave").toString
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    // re-save with a corrupt payload: the decode must fail BEFORE the old
    // index is deleted — one bad clip in a rebuild batch must not destroy
    // the committed catalog
    val corrupt = Multimodal.asMediaFrame(
      Seq((2L, Array.fill[Byte](16)(0x5a))).toDF("media_id", "payload"),
      "media_id", "payload", "audio")
    intercept[Exception](Multimodal.saveAudioIndex(corrupt, path))
    val idx = MediaIndex.load(spark, path)
    assert(idx.nItems === 1L, "failed save must leave the old index committed")
    assert(idx.fingerprints.select("media_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("contracts are loud: missing index, kind mismatch, id clash, schema drift") {
    val path = tempDir().resolve("audioidx_bad").toString
    intercept[IllegalArgumentException](
      Multimodal.appendToAudioIndex(wavMedia(1L -> baseClip), path))
    intercept[IllegalArgumentException](MediaIndex.load(spark, path))
    Multimodal.saveAudioIndex(wavMedia(1L -> baseClip), path)
    val clash = intercept[IllegalArgumentException](
      Multimodal.appendToAudioIndex(wavMedia(1L -> otherClip), path))
    assert(clash.getMessage.contains("already indexed"))
    assert(MediaIndex.load(spark, path).nItems === 1L, "failed append must not commit")
    // kind mismatch: the append and all six loaders reject with the one
    // shared message, naming the caller
    def kindError(caller: String, p: String, held: String, want: String)(f: => Any) =
      assert(intercept[IllegalArgumentException](f).getMessage ===
        s"requirement failed: $caller: index at $p holds '$held' fingerprints, not $want")
    val audio = "'audio_energy_64'"
    kindError("MediaIndex.append", path, "audio_energy_64", "'image_ahash_64'")(
      MediaIndex.append(Seq((9L, 1L)).toDF("media_id", "fp"), "image_ahash_64", path))
    val ipath = tempDir().resolve("imgidx_kind").toString
    Multimodal.saveImageIndex(grayMedia(1L -> Array.tabulate(64)(p => p * 3)), ipath)
    kindError("audioNearDupAgainstIndex", ipath, "image_ahash_64", audio)(
      Multimodal.audioNearDupAgainstIndex(wavMedia(2L -> baseClip), ipath))
    kindError("streamingAudioIngestDedup", ipath, "image_ahash_64", audio)(
      EventPipeline.streamingAudioIngestDedup(mediaStream(), ipath, "ts"))
    val images = "'image_ahash_64' or 'image_dhash_64'"
    kindError("imageNearDupAgainstIndex", path, "audio_energy_64", images)(
      Multimodal.imageNearDupAgainstIndex(grayMedia(2L -> Array.fill(64)(7)), path))
    kindError("streamingImageIngestDedup", path, "audio_energy_64", images)(
      EventPipeline.streamingImageIngestDedup(mediaStream(), path, "ts"))
    val video = "'video_frame_ahash_64'"
    val clip = Multimodal.encodeGifGray(Seq(Array.fill(64)(9)), 8, 8)
    kindError("videoNearDupAgainstIndex", path, "audio_energy_64", video)(
      Multimodal.videoNearDupAgainstIndex(gifMedia(2L -> clip), path))
    kindError("streamingVideoIngestDedup", path, "audio_energy_64", video)(
      EventPipeline.streamingVideoIngestDedup(mediaStream(), path, "ts"))
    val cols = intercept[IllegalArgumentException](
      MediaIndex.append(Seq((9L, 1L)).toDF("media_id", "fp"), "audio_energy_64", path))
    assert(cols.getMessage.contains("columns"))
    // same names, drifted TYPES (int fp, int energies) must also be loud —
    // a committed type-drifted generation would poison cross-gen reads
    val drift = intercept[IllegalArgumentException](
      MediaIndex.append(
        Seq((9L, 1, Array(1, 2))).toDF("media_id", "fp", "energies"),
        "audio_energy_64", path))
    assert(drift.getMessage.contains("columns"))
    intercept[IllegalArgumentException](
      MediaIndex.save(Seq((1L, 2L)).toDF("id", "fp"), "x", tempDir().resolve("nx").toString))
  }

  test("image: probe hash family comes from the index meta (dhash catalog catches curve edits)") {
    // strictly-decreasing rows; convex curve keeps gradient signs (dhash 0)
    // but moves the mean crossing past aHash banding (the PipelineOpsSpec pair)
    val row = Array(248, 232, 216, 200, 184, 168, 152, 32)
    val base = Array.tabulate(64)(p => row(p % 8))
    val curved = base.map(g => g * g / 255)
    val dpath = tempDir().resolve("imgidx_dhash").toString
    Multimodal.saveImageIndex(grayMedia(1L -> base), dpath, hashKind = "dhash")
    val viaD = Multimodal.imageNearDupAgainstIndex(grayMedia(50L -> curved), dpath)
      .collect()
    assert(viaD.length === 1 && viaD.head.getLong(0) === 50L
      && viaD.head.getLong(1) === 1L && viaD.head.getLong(2) === 0L)
    val apath = tempDir().resolve("imgidx_ahash").toString
    Multimodal.saveImageIndex(grayMedia(1L -> base), apath)
    assert(MediaIndex.load(spark, apath).kind === "image_ahash_64")
    assert(Multimodal.imageNearDupAgainstIndex(grayMedia(50L -> curved), apath)
      .collect().isEmpty, "ahash catalog must miss the curve edit")
    // exact L1 on a one-pixel variant against the ahash catalog
    val variant = base.clone(); variant(0) = base(0) - 48
    val v = Multimodal.imageNearDupAgainstIndex(grayMedia(51L -> variant), apath)
      .collect()
    assert(v.length === 1 && v.head.getLong(3) === 48L)
  }

  test("video: trimmed probe is fully contained in the indexed original") {
    def frames(ids: Range, seed: Int): Seq[Array[Int]] =
      ids.map(f => Array.tabulate(64)(p => (37 + 91 * p + p * p + 17 * f + seed) % 256))
    val full = Multimodal.encodeGifGray(frames(0 until 6, 0), 8, 8)
    val trimmed = Multimodal.encodeGifGray(frames(1 to 4, 0), 8, 8)
    val unrelated = Multimodal.encodeGifGray(frames(0 until 6, 131), 8, 8)
    val path = tempDir().resolve("vididx").toString
    Multimodal.saveVideoIndex(gifMedia(1L -> full), path)
    Multimodal.appendToVideoIndex(gifMedia(2L -> unrelated), path)
    val out = Multimodal.videoNearDupAgainstIndex(gifMedia(60L -> trimmed), path)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 60L && r.getLong(1) === 1L)
    assert(r.getDouble(6) === 1.0, "trimmed side must be fully contained")
  }

  test("a bad maxHamming fails before any Spark work: batch, index, streaming and SQL") {
    // undecodable payloads and a missing index: any hashing or index read
    // ahead of the check would fail with a different error
    val junk = Multimodal.asMediaFrame(
      Seq((1L, Array.fill[Byte](16)(0x5a))).toDF("media_id", "payload"),
      "media_id", "payload", "image")
    junk.createOrReplaceTempView("junk_media")
    graft.expressions.SqlFunctions.registerAll(spark)
    val missing = tempDir().resolve("no_index").toString
    Seq(-1, 2, 5).foreach { mh =>
      def rejects(f: => Any) = {
        val msg = intercept[IllegalArgumentException](f).getMessage
        assert(msg === "requirement failed: maxHamming must be one of 0, 1, 3, 7, 15, 31, 63 for " +
          s"64-bit fingerprints (maxHamming + 1 segments must split the bits evenly), got $mh")
      }
      rejects(Multimodal.imageNearDupPairs(junk, maxHamming = mh))
      rejects(Multimodal.audioNearDupPairs(junk, maxHamming = mh))
      rejects(Multimodal.videoNearDupPairs(junk, maxHamming = mh))
      rejects(Multimodal.imageNearDupAgainstIndex(junk, missing, maxHamming = mh))
      rejects(EventPipeline.streamingAudioIngestDedup(mediaStream(), missing, "ts",
        maxHamming = mh))
      rejects(spark.sql(s"SELECT * FROM graft_image_neardup('junk_media', $mh)"))
    }
  }
}
