package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: opaque `binary` payloads with
  * typed metadata, processed by per-partition batch transforms.
  *
  * Every kernel is a REAL in-JDK codec: PNG decode/encode/resize via
  * `javax.imageio` ([[decodePng]], [[encodePng]], [[resizePng]]), WAV PCM
  * decode/encode via `javax.sound.sampled` ([[decodeWav]], [[encodeWav]]), and
  * multi-frame GIF demux/frame-sampling via the `ImageReader` sequence API
  * ([[encodeGif]], [[sampleGifFrames]]). [[sampleFrames]] remains as the
  * codec-agnostic byte-chunk fallback. The Spark-side shape is the same everywhere:
  * binary column + metadata struct, `mapPartitions` batch processing with one
  * decoder init per partition (the Scala analog of `mapInPandas` batching),
  * partition sizing by byte budget.
  *
  * The media near-dup family is fingerprint → band → verify, each decision
  * in one place: the band rule is [[DedupSuite.HammingBands]]; the image
  * hash kinds (ahash/dhash ↔ bits function ↔ index kind) are
  * [[ImageHashKinds]]; the exact verify is [[l1Verified]] for images and
  * audio and [[containmentVerified]] (with [[requireMinOverlap]]) for video;
  * GIF clips demux through [[gifDemux]] into [[frameHashSets]]; a persisted
  * index is loaded and kind-checked by [[MediaIndex.loadKind]].
  */
object Multimodal {

  /** Typed metadata carried alongside every payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", IntegerType)))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", mediaMetaSchema)))

  /** Feature row produced by the decode/extract stage. */
  final case class MediaFeatures(media_id: Long, n_bytes: Long, sha_prefix: String,
                                 mean_byte: Double, feature: Array[Float])

  /** Wrap an id + binary payload into the canonical media frame. */
  def asMediaFrame(df: DataFrame, idCol: String, payloadCol: String,
                   mediaType: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(payloadCol).cast(BinaryType).as("payload"),
      struct(
        lit(mediaType).as("media_type"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("sample_rate"),
        lit(null).cast(IntegerType).as("n_frames")).as("meta"))

  /** Byte-level feature fallback for payloads with no in-JDK codec (video
    * containers): an 8-dim byte histogram fold. Deterministic; used only by the
    * generic [[extractFeatures]] plumbing path, never by the image/audio
    * kernels below. */
  def byteFoldFeature(payload: Array[Byte]): Array[Float] = {
    val f = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      f(i % 8) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    f
  }

  // ─── REAL image kernel (javax.imageio, in-JDK, lossless PNG round-trip) ─────

  /** Encode a two-tone RGB image as real PNG bytes: rows above `h/2` filled with
    * `topRgb`, the rest with `botRgb` (each 0xRRGGBB). Used by fixture
    * generators and specs to build a corpus whose decoded statistics have a
    * closed form an oracle can recompute. */
  def encodePng(w: Int, h: Int, topRgb: Int, botRgb: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val rgb = if (y < h / 2) topRgb else botRgb
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Decoded per-image statistics: dimensions + per-channel pixel means. */
  final case class ImageFeatures(media_id: Long, width: Int, height: Int,
                                 mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decode one PNG/GIF/BMP payload with the real `javax.imageio` codec and
    * reduce it to [[ImageFeatures]]. Returns null-means for empty payloads the
    * caller filtered in. */
  def decodePng(id: Long, payload: Array[Byte]): ImageFeatures = {
    val img = readImage(id, payload)
    val (r, g, b) = rgbMeans(img)
    ImageFeatures(id, img.getWidth, img.getHeight, r, g, b)
  }

  /** Decode one image payload with `javax.imageio`, loud on an undecodable
    * one. */
  private def readImage(id: Long, payload: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, s"media_id=$id: payload is not a decodable image")
    img
  }

  /** Per-channel pixel means of a decoded image (exact integer sums, one
    * division each). */
  private def rgbMeans(img: BufferedImage): (Double, Double, Double) = {
    val w = img.getWidth; val h = img.getHeight
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  /** Image decode / feature-extract stage: the real codec runs inside
    * `mapPartitions` — `ImageIO` caching is configured ONCE per partition (the
    * per-partition-init contract), then payloads stream through without
    * materializing the partition. */
  def decodeImages(media: DataFrame): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init: in-memory decode, no temp-file cache churn
        ImageIO.setUseCache(false)
        it.map { case (id, payload) => decodePng(id, payload) }
      }
  }

  /** Real image resize: decode with `javax.imageio`, repaint onto a `w`×`h`
    * canvas via `Graphics2D` bilinear scaling, re-encode as PNG. */
  def resizePng(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(payload))
    require(src != null, "payload is not a decodable image")
    val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(dst, "png", out)
    out.toByteArray
  }

  /** Distributed image resize with the real codec (same per-partition batch
    * shape as [[decodeImages]]). */
  def resizeImages(media: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false) // per-partition init
        it.map { case (id, payload) => ResizedMedia(id, w, h, resizePng(payload, w, h)) }
      }
  }

  /** Encode per-pixel grayscale values (row-major, 0..255) as a real PNG.
    * Fixture twin of [[encodePng]] for hash-bearing corpora: gray pixels give
    * the BT.601 luma a closed form (r=g=b ⇒ luma == gray exactly), so an
    * oracle can replay the whole perceptual-hash pipeline from the
    * construction arithmetic. */
  def encodePngGray(w: Int, h: Int, grays: Array[Int]): Array[Byte] = {
    require(w > 0 && h > 0 && grays.length == w * h,
      s"need $w*$h=${w * h} grays, got ${grays.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < grays.length) {
      val g = grays(p)
      require(g >= 0 && g <= 255, s"gray out of range at $p: $g")
      img.setRGB(p % w, p / w, (g << 16) | (g << 8) | g)
      p += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ─── image perceptual hashing (aHash/dHash) + banded near-dup ───────────────

  /** One image's perceptual fingerprint: the packed 64-bit hash plus the
    * normalized grayscale thumbnail it was computed from (the exact-verify
    * payload — 64 ints, bounded per row by construction). */
  final case class ImageHash(media_id: Long, fp: Long, gray: Array[Int])

  /** Integer BT.601 luma — exact on r=g=b pixels (returns the gray value). */
  private def luma(rgb: Int): Int =
    (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000

  /** Grayscale thumbnail of a decoded image: row-major integer lumas at
    * `w`×`h`, bilinear-resized first unless the image is already that size
    * (same-size resize is identity — pixel centers align — so closed-form
    * fixtures skip interpolation entirely). */
  private def grayThumb(img: BufferedImage, w: Int, h: Int): Array[Int] = {
    val scaled =
      if (img.getWidth == w && img.getHeight == h) img
      else {
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        dst
      }
    val out = new Array[Int](w * h)
    var p = 0
    while (p < out.length) {
      out(p) = luma(scaled.getRGB(p % w, p / w))
      p += 1
    }
    out
  }

  /** aHash bits of an 8×8 grayscale thumbnail: bit p (row-major, MSB-first:
    * bit 63−p) set iff 64·gray_p > Σ grays — the cross-multiplied integer
    * form of "pixel above mean", exact in both engines (no double
    * threshold). Shared by [[imageAHashes]] and the per-frame video path. */
  private def aHashBits(gray: Array[Int]): Long = {
    var sum = 0L
    var p = 0
    while (p < 64) { sum += gray(p); p += 1 }
    var fp = 0L
    p = 0
    while (p < 64) {
      if (64L * gray(p) > sum) fp |= (1L << (63 - p))
      p += 1
    }
    fp
  }

  /** aHash (average hash) over REAL decoded images: 8×8 grayscale thumbnail
    * through [[aHashBits]]. Invariant under global brightness shift (mean
    * shifts with the pixels) and under lossless recompression (same pixels ⇒
    * same thumbnail). Per-partition decoder init, scan-shaped. */
  def imageAHashes(media: DataFrame): Dataset[ImageHash] = imageHashesOf(media, "ahash")

  /** dHash bits of a 9×8 grayscale thumbnail: bit (row-major over the 8×8
    * grid, MSB-first) set iff gray(x,y) > gray(x+1,y) — a horizontal
    * gradient sign map. */
  private def dHashBits(gray: Array[Int]): Long = {
    var fp = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(y * 9 + x) > gray(y * 9 + x + 1)) fp |= (1L << (63 - (y * 8 + x)))
        x += 1
      }
      y += 1
    }
    fp
  }

  /** dHash (difference hash): 9×8 grayscale thumbnail through [[dHashBits]].
    * Like aHash it ignores global brightness; unlike aHash it also ignores
    * global contrast scaling (gradients scale with it). The carried `gray`
    * is the 72-int 9×8 thumbnail. */
  def imageDHashes(media: DataFrame): Dataset[ImageHash] = imageHashesOf(media, "dhash")

  /** One row of the image hash-kind table: the `hashKind` callers pass, the
    * [[MediaIndex]] kind its persisted fingerprints carry, and the
    * grayscale thumbnail size and bits function that compute it. */
  private final case class ImageHashKind(hashKind: String, indexKind: String,
                                         w: Int, h: Int, bitsOf: Array[Int] => Long)

  /** The one image hash-kind table (ahash/dhash ↔ thumbnail + bits function
    * ↔ index kind): every image hash, index save/append, index probe and
    * streaming image ingest looks its kind up here. */
  private val ImageHashKinds = Seq(
    ImageHashKind("ahash", "image_ahash_64", 8, 8, aHashBits),
    ImageHashKind("dhash", "image_dhash_64", 9, 8, dHashBits))

  private def imageHashKind(hashKind: String): ImageHashKind =
    ImageHashKinds.find(_.hashKind == hashKind).getOrElse(throw new IllegalArgumentException(
      s"hashKind must be ahash|dhash, got '$hashKind'"))

  /** [[imageAHashes]]/[[imageDHashes]] by table kind: one decode + thumbnail
    * + bits per image, per-partition decoder init. */
  private def imageHashesOf(media: DataFrame, hashKind: String): Dataset[ImageHash] = {
    val k = imageHashKind(hashKind)
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false) // per-partition init
        it.map { case (id, payload) =>
          val gray = grayThumb(readImage(id, payload), k.w, k.h)
          ImageHash(id, k.bitsOf(gray), gray)
        }
      }
  }

  /** One image's 64-bit perceptual fingerprint straight from its payload
    * bytes — the per-row core of [[imageAHashes]]/[[imageDHashes]], public
    * so a STREAMING ingest can hash in-scan while carrying its own extra
    * columns (event time). */
  def imageFingerprintOf(id: Long, payload: Array[Byte],
                         hashKind: String = "ahash"): Long = {
    val k = imageHashKind(hashKind)
    k.bitsOf(grayThumb(readImage(id, payload), k.w, k.h))
  }

  /** The one exact-L1 verify of the image/audio near-dup family: attach the
    * integer array `arr` (grayscale thumbnail or frame energies) of both
    * sides of each banded candidate (id_a, id_b, hamming) and sum |a − b|
    * over the zipped arrays. `left`/`right` are keyed by media_id — the
    * same hash frame for the self forms ([[imageNearDupPairs]],
    * [[audioNearDupPairs]]), probes and index fingerprints for the
    * against-index forms. Output (id_a, id_b, hamming, l1). */
  private def l1Verified(cand: DataFrame, left: DataFrame, right: DataFrame,
                         arr: String): DataFrame = {
    // side columns named after the array (_ga/_gb, _ea/_eb)
    val (va, vb) = (s"_${arr.head}a", s"_${arr.head}b")
    cand
      .join(left.select(col("media_id").as("id_a"), col(arr).as(va)), Seq("id_a"))
      .join(right.select(col("media_id").as("id_b"), col(arr).as(vb)), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        aggregate(zip_with(col(va), col(vb), (a, b) => abs(a - b).cast("long")),
          lit(0L), (acc, v) => acc + v).as("l1"))
  }

  /** Image near-duplicate pairs WITHOUT an external embedding model:
    * perceptual-hash fingerprints → Hamming-banded candidates
    * ([[DedupSuite.hammingBandedPairs]] — pigeonhole blocking, every
    * qualifying pair found with NO all-pairs comparison) → EXACT verify on
    * the decoded pixels (L1 distance over the two grayscale thumbnails,
    * pure integer). Output: (id_a, id_b, hamming, l1), hamming <= maxHamming.
    *
    * `hashKind` selects the fingerprint: "ahash" (default, [[imageAHashes]]
    * — brightness-shift invariant) or "dhash" ([[imageDHashes]] — gradient
    * signs, additionally invariant under global contrast scaling, so it
    * catches brightness-CURVE edits aHash misses).
    *
    * Scale shape: one decode+hash per image — the hash frame is
    * materialized (localCheckpoint) before the three joins that reference
    * it (band + two thumbnail re-attaches), so the PNG decode runs exactly
    * once per image rather than once per reference; the band join keys on
    * 16-bit segments; the verify joins re-attach the thumbnails for
    * CANDIDATE ids only — when near-dups are rare (the web-corpus case)
    * those joins carry a sliver of the corpus, and the bloom-prune regime
    * from [[DedupSuite]]'s verifiedIntersections applies unchanged if they
    * ever dominate. */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 3,
                        hashKind: String = "ahash"): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    val hashes = imageHashesOf(media, hashKind).toDF().localCheckpoint()
    l1Verified(bands.pairs(hashes, "media_id", "fp"), hashes, hashes, "gray")
  }

  // ─── REAL audio kernel (javax.sound.sampled, in-JDK WAV PCM round-trip) ─────

  /** Encode 16-bit signed PCM mono samples as a real WAV container. */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) { // little-endian 16-bit PCM
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decoded per-clip statistics from the real WAV parser: container-reported
    * sample rate and frame count, plus the mean sample amplitude. */
  final case class AudioFeatures(media_id: Long, sample_rate: Int, n_frames: Long,
                                 mean_amp: Double)

  /** Decode one WAV payload via `javax.sound.sampled` (real container parse —
    * a fake could not recover the sample rate from the RIFF header). */
  def decodeWav(id: Long, payload: Array[Byte]): AudioFeatures = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"media_id=$id: expected 16-bit mono PCM, got $fmt")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 2
      var sum = 0L
      var i = 0
      val bigEndian = fmt.isBigEndian
      while (i < n) {
        val lo = bytes(2 * i) & 0xff; val hi = bytes(2 * i + 1) & 0xff
        val s = if (bigEndian) ((lo << 8) | hi).toShort else ((hi << 8) | lo).toShort
        sum += s
        i += 1
      }
      AudioFeatures(id, fmt.getSampleRate.toInt, n.toLong,
        if (n == 0) 0.0 else sum.toDouble / n)
    } finally ais.close()
  }

  /** Audio decode stage: real WAV parsing inside the per-partition batch shape. */
  def decodeAudio(media: DataFrame): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeWav(id, payload) })
  }

  /** Energy fingerprint of one clip: per-frame |sample| sums (exact integer)
    * and the threshold bitmap. */
  final case class AudioHash(media_id: Long, fp: Long, energies: Array[Long])

  /** Lock-free RIFF/WAVE chunk walk for 16-bit mono little-endian PCM — the
    * decode fast path of [[audioEnergyHashes]]. `javax.sound`'s AudioSystem
    * consults its synchronized SPI provider registry on EVERY
    * getAudioInputStream call, which serializes a 32-thread decode scan at
    * ~8k clips/s regardless of cores (measured, `r13_audio_hash_scan.json`);
    * walking the container directly is pure per-task code with no global
    * state. Strict and loud: RIFF/WAVE magic, fmt must declare PCM(1),
    * mono, 16-bit; unknown chunks are skipped with even-byte padding. */
  private def riffFrameEnergies(id: Long, bytes: Array[Byte], frames: Int): Array[Long] = {
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    def tag(o: Int): String = new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"media_id=$id: not a RIFF/WAVE payload")
    var off = 12
    var fmtOk = false
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= bytes.length && (!fmtOk || dataOff < 0)) {
      val id4 = tag(off); val sz = u32(off + 4).toInt
      // untrusted size: a u32 >= 2^31 goes negative via .toInt and would make
      // the offset step non-advancing — hang the executor instead of failing
      require(sz >= 0, s"media_id=$id: corrupt chunk '$id4' with size ${u32(off + 4)}")
      if (id4 == "fmt ") {
        require(sz >= 16 && off + 8 + 16 <= bytes.length,
          s"media_id=$id: truncated fmt chunk")
        val audioFormat = u16(off + 8); val channels = u16(off + 10)
        val bits = u16(off + 22)
        require(audioFormat == 1 && channels == 1 && bits == 16,
          s"media_id=$id: expected 16-bit mono PCM, got fmt=$audioFormat ch=$channels bits=$bits")
        fmtOk = true
      } else if (id4 == "data") { dataOff = off + 8; dataLen = sz }
      // long arithmetic: a chunk size near Int.MaxValue would wrap the int
      // step negative (a non-advancing loop / bare StringIndexOutOfBounds);
      // an overlong chunk ends the walk and the post-loop require reports it
      val next = off.toLong + 8L + sz.toLong + (sz & 1)
      off = if (next > bytes.length) bytes.length else next.toInt
    }
    // long arithmetic here too: a declared data size near Int.MaxValue wraps
    // the int sum negative and the bound would pass vacuously
    require(fmtOk && dataOff >= 0 && dataOff.toLong + dataLen <= bytes.length,
      s"media_id=$id: missing or truncated fmt/data chunk")
    val n = dataLen / 2
    require(n >= frames, s"media_id=$id: $n samples < $frames frames")
    val e = new Array[Long](frames)
    var i = 0
    while (i < n) {
      val s = (((bytes(dataOff + 2 * i + 1) & 0xff) << 8) |
        (bytes(dataOff + 2 * i) & 0xff)).toShort
      e((i.toLong * frames / n).toInt) += math.abs(s.toLong)
      i += 1
    }
    e
  }

  /** The javax.sound fallback of [[audioEnergyHashes]] for non-RIFF payloads
    * (AIFF, AU, …): container-general but SPI-registry-serialized — the RIFF
    * fast path above is parse-equivalent on WAV (spec-pinned). */
  private[operators] def javaxFrameEnergies(id: Long, payload: Array[Byte],
                                            frames: Int): Array[Long] = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"media_id=$id: expected 16-bit mono PCM, got $fmt")
      val bytes = ais.readAllBytes()
      val n = bytes.length / 2
      require(n >= frames, s"media_id=$id: $n samples < $frames frames")
      val bigEndian = fmt.isBigEndian
      val e = new Array[Long](frames)
      var i = 0
      while (i < n) {
        val lo = bytes(2 * i) & 0xff; val hi = bytes(2 * i + 1) & 0xff
        val s = if (bigEndian) ((lo << 8) | hi).toShort else ((hi << 8) | lo).toShort
        e((i.toLong * frames / n).toInt) += math.abs(s.toLong)
        i += 1
      }
      e
    } finally ais.close()
  }

  /** Per-frame energy fingerprint over REAL decoded WAV PCM — the audio
    * analog of [[imageAHashes]]: the sample stream splits into `frames`
    * windows (sample i → frame ⌊i·frames/n⌋), each window's energy is the
    * exact integer Σ|s|, and bit f (MSB-first) is set iff
    * frames·energy(f) > Σ energies — the cross-multiplied mean threshold, so
    * the fingerprint is invariant under re-encoding and (like aHash's
    * brightness shift) under global gain scaling. One decode+hash per clip
    * in the scan; no shuffle. RIFF payloads take the lock-free chunk walk
    * ([[riffFrameEnergies]] — 19× the SPI path's scan throughput at 5M
    * clips, `r13_audio_hash_scan.json`); anything else falls back to
    * javax.sound. */
  /** Decode one clip's per-frame energies: RIFF fast path or javax fallback. */
  private def decodeEnergies(id: Long, payload: Array[Byte], frames: Int): Array[Long] =
    if (payload.length >= 12 && payload(0) == 'R' && payload(1) == 'I' &&
      payload(2) == 'F' && payload(3) == 'F')
      riffFrameEnergies(id, payload, frames)
    else javaxFrameEnergies(id, payload, frames)

  /** Threshold bitmap of an energy vector (MSB-first, cross-multiplied mean). */
  private def energyFp(e: Array[Long], frames: Int): Long = {
    var tot = 0L; var f = 0
    while (f < frames) { tot += e(f); f += 1 }
    var fp = 0L; f = 0
    while (f < frames) {
      if (frames.toLong * e(f) > tot) fp |= (1L << (63 - f))
      f += 1
    }
    fp
  }

  /** One clip's 64-bit energy fingerprint straight from its payload bytes —
    * the per-row core of [[audioEnergyHashes]], public so a STREAMING ingest
    * can hash in-scan while carrying its own extra columns (event time). */
  def audioFingerprintOf(id: Long, payload: Array[Byte], frames: Int = 64): Long = {
    require(frames >= 1 && frames <= 64, s"frames must be in [1, 64], got $frames")
    energyFp(decodeEnergies(id, payload, frames), frames)
  }

  def audioEnergyHashes(media: DataFrame, frames: Int = 64): Dataset[AudioHash] = {
    require(frames >= 1 && frames <= 64, s"frames must be in [1, 64], got $frames")
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val e = decodeEnergies(id, payload, frames)
        AudioHash(id, energyFp(e, frames), e)
      })
  }

  /** Audio near-duplicate pairs — the [[imageNearDupPairs]] chain over the
    * energy fingerprint: real WAV decode → 64-frame energy hash →
    * Hamming-banded candidates ([[DedupSuite.hammingBandedPairs]], pigeonhole
    * blocking on 16-bit segments, NO all-pairs) → EXACT integer-L1 verify on
    * the per-frame energies. Catches byte-identical re-encodes (Hamming 0)
    * and small local edits (amplitude nudges flip at most the touched
    * frames' bits). Output: (id_a, id_b, hamming, l1), hamming <= maxHamming.
    *
    * Scale shape: one decode+hash per clip — the hash frame is materialized
    * (localCheckpoint) before the band join and the two energy re-attach
    * joins, so the WAV parse runs exactly once per clip; payload bytes never
    * ride a join (the verify carries 64 longs per CANDIDATE id only). */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    val hashes = audioEnergyHashes(media, frames = 64).toDF().localCheckpoint()
    l1Verified(bands.pairs(hashes, "media_id", "fp"), hashes, hashes, "energies")
  }

  /** Codec-agnostic feature-extract over payload batches (byte stats + digest +
    * [[byteFoldFeature]]): one digest per partition, rows streamed through it
    * (never materializing the whole partition). For typed media use the real
    * kernels — [[decodeImages]] / [[decodeAudio]]. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init: the digest (and any codec) is set up ONCE here
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, payload) =>
          val bytes = if (payload == null) Array.emptyByteArray else payload
          val feat = byteFoldFeature(bytes)
          val mean =
            if (bytes.isEmpty) 0.0
            else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
          md.reset()
          MediaFeatures(id, bytes.length.toLong,
            md.digest(bytes).take(4).map("%02x".format(_)).mkString,
            mean, feat)
        }
      }
  }

  final case class ResizedMedia(media_id: Long, width: Int, height: Int,
                                payload: Array[Byte])

  // ─── REAL multi-frame kernel (javax.imageio GIF sequence demux) ─────────────

  /** Encode a sequence of solid-color frames as a real multi-frame GIF: the
    * JDK's GIF writer appends images with `writeToSequence`, and the reader
    * exposes them by frame index — an honest (if humble) in-JDK "video"
    * container. Solid colors survive the 256-color palette losslessly, so
    * decoded statistics have a closed form. */
  def encodeGif(frameRgbs: Seq[Int], w: Int, h: Int): Array[Byte] = {
    require(frameRgbs.nonEmpty && w > 0 && h > 0, "need frames and positive dims")
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameRgbs.foreach { rgb =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
        finally g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** One decoded, sampled frame: index + dims + channel means. */
  final case class VideoFrame(media_id: Long, frame_idx: Int, width: Int, height: Int,
                              mean_r: Double, mean_g: Double, mean_b: Double)

  /** The one GIF demux loop, behind [[sampleGifFrames]], [[gifFrameAHashes]]
    * and [[videoFrameFingerprintsOf]]: checks `every` at once, then per
    * (media_id, payload) opens one `ImageReader`, applies `frame` to every
    * `every`-th decoded frame (media_id, frame index, image) and disposes
    * the reader and its `ImageInputStream` in `finally`. EAGER per payload
    * — clips are small (a few dozen sampled frames), and a lazily-disposed
    * iterator would leak the reader whenever a downstream
    * `limit`/`take`/task-kill short-circuits before exhausting it. */
  private def gifDemux[T](every: Int)(frame: (Long, Int, BufferedImage) => T)
  : (Long, Array[Byte]) => IndexedSeq[T] = {
    require(every > 0, "every must be positive")
    (id, payload) => {
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      try {
        reader.setInput(iis)
        (0 until reader.getNumImages(true) by every).map(f => frame(id, f, reader.read(f)))
      } finally { reader.dispose(); iis.close() }
    }
  }

  /** [[gifDemux]] over every payload of `media`, with the per-partition
    * decoder init. */
  private def demuxGifs[T: Encoder](media: DataFrame, every: Int)(
      frame: (Long, Int, BufferedImage) => T): Dataset[T] = {
    val demux = gifDemux(every)(frame)
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false) // per-partition init
        it.flatMap { case (id, payload) => demux(id, payload) }
      }
  }

  /** Real frame sampling over multi-frame GIF payloads ([[gifDemux]]): every
    * `every`-th frame decoded and reduced to its channel means. */
  def sampleGifFrames(media: DataFrame, every: Int): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    demuxGifs(media, every) { (id, f, img) =>
      val (r, g, b) = rgbMeans(img)
      VideoFrame(id, f, img.getWidth, img.getHeight, r, g, b)
    }
  }

  /** Encode arbitrary GRAYSCALE frames as a real multi-frame GIF — the
    * pixel-level twin of [[encodeGif]] (which writes solid colors only).
    * Frames are written TYPE_BYTE_INDEXED over an explicit 256-entry gray
    * palette, so the indexed GIF round-trip is LOSSLESS by construction
    * (no writer-side quantization) and per-frame hashes have a closed form. */
  def encodeGifGray(frames: Seq[Array[Int]], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty && w > 0 && h > 0, "need frames and positive dims")
    require(frames.forall(_.length == w * h), s"every frame must be $w×$h grays")
    val palette = Array.tabulate(256)(identity)
    val icm = new java.awt.image.IndexColorModel(8, 256,
      palette.map(_.toByte), palette.map(_.toByte), palette.map(_.toByte))
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { grays =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
        var p = 0
        while (p < grays.length) {
          img.getRaster.setSample(p % w, p / w, 0, grays(p))
          p += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** One sampled frame's perceptual fingerprint. */
  final case class FrameHash(media_id: Long, frame_idx: Int, fp: Long)

  /** Per-frame aHash over multi-frame GIF payloads ([[gifDemux]], every
    * `every`-th frame): 8×8 grayscale thumbnail, [[aHashBits]] — ONE decode
    * pass per clip in the scan, the video twin of [[imageAHashes]]. */
  def gifFrameAHashes(media: DataFrame, every: Int = 1): Dataset[FrameHash] = {
    import media.sparkSession.implicits._
    demuxGifs(media, every)((id, f, img) => FrameHash(id, f, aHashBits(grayThumb(img, 8, 8))))
  }

  /** One clip's DISTINCT sampled-frame aHashes straight from its payload
    * bytes, ascending — the per-row core of [[frameHashSets]], public so a
    * STREAMING ingest can demux in-scan while carrying its own extra
    * columns (event time). The sorted order makes the array a
    * deterministic per-clip signature: two clips have equal arrays iff
    * their distinct frame-hash SETS are equal. */
  def videoFrameFingerprintsOf(id: Long, payload: Array[Byte],
                               every: Int = 1): Array[Long] =
    gifDemux(every)((_, _, img) => aHashBits(grayThumb(img, 8, 8)))(id, payload)
      .distinct.sorted.toArray

  /** The per-clip DISTINCT frame-hash relation (media_id, fp): what every
    * video near-dup path bands and verifies, and what the video index
    * stores. */
  private def frameHashSets(media: DataFrame, every: Int): DataFrame =
    gifFrameAHashes(media, every).toDF().select(col("media_id"), col("fp")).distinct()

  /** The `minOverlap` check of the video near-dup family (batch, index and
    * streaming). */
  private[graft] def requireMinOverlap(minOverlap: Double): Unit =
    require(minOverlap > 0.0 && minOverlap <= 1.0, s"bad minOverlap=$minOverlap")

  /** The one directional-containment verify of the video near-dup family
    * ([[videoNearDupPairs]], [[videoNearDupAgainstIndex]]). From the
    * frame-level banded pairs `framePairs` (id_a, id_b, …) it takes the
    * candidate clip pairs, attaches both clips' distinct frame hashes
    * (`left`/`right`: media_id, fp) and, per direction, counts the clip's
    * frames whose best match in the other is within `maxHamming` (m) out of
    * its distinct frames (n); a pair survives when the LARGER m/n reaches
    * `minOverlap` (max handles trims: a trimmed clip is fully contained in
    * its original while the reverse fraction reports the trim). A clip pair
    * that only shares a segment has no frame pair within maxHamming, so its
    * overlap 0 is below any minOverlap > 0 — taking candidates from the
    * verified frame pairs drops it early and changes no output row. Output
    * (id_a, id_b, m_a, n_a, m_b, n_b, overlap). */
  private def containmentVerified(framePairs: DataFrame, left: DataFrame,
                                  right: DataFrame, maxHamming: Int,
                                  minOverlap: Double): DataFrame = {
    val pf = framePairs.select(col("id_a"), col("id_b")).distinct()
      .join(left.select(col("media_id").as("id_a"), col("fp").as("_fpa")), Seq("id_a"))
      .join(right.select(col("media_id").as("id_b"), col("fp").as("_fpb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("_fpa"), col("_fpb"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).as("h"))
    def side(fpCol: String, mName: String, nName: String) = pf
      .groupBy(col("id_a"), col("id_b"), col(fpCol))
      .agg(min(col("h")).as("_mh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as(nName),
        sum(when(col("_mh") <= maxHamming, 1L).otherwise(0L)).as(mName))
    side("_fpa", "m_a", "n_a").join(side("_fpb", "m_b", "n_b"), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("m_a"), col("n_a"), col("m_b"), col("n_b"),
        greatest(col("m_a").cast("double") / col("n_a").cast("double"),
          col("m_b").cast("double") / col("n_b").cast("double")).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** VIDEO near-duplicate pairs — re-encoded, trimmed, and partially-edited
    * clips — without an external embedding model: per-frame aHash
    * fingerprints ([[gifFrameAHashes]]) → per-clip DISTINCT frame-hash sets
    * ([[frameHashSets]]) → Hamming-banded candidate clip pairs (the
    * [[DedupSuite.HammingBands]] self join applied at FRAME level: clips
    * with some frame pair within `maxHamming`, NO all-pairs comparison) →
    * EXACT directional-containment verify on the sampled frames
    * ([[containmentVerified]]).
    *
    * Output: (id_a, id_b, m_a, n_a, m_b, n_b, overlap) — matched/total
    * distinct frame hashes per side (exact integers) and the containment
    * score (one IEEE division per side + greatest, oracle-replayable).
    *
    * Scale shape: one demux+hash pass per clip (the frame table is
    * materialized once, localCheckpoint, before the band and verify joins —
    * payload bytes never ride any join); the band join keys on 16-bit
    * segments; the verify join carries candidate clips' frame hashes only
    * (#cand × frames² small rows — frames per clip are bounded by the
    * sampling, candidates by the banding). */
  def videoNearDupPairs(media: DataFrame, every: Int = 1, maxHamming: Int = 3,
                        minOverlap: Double = 0.5): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    requireMinOverlap(minOverlap)
    val vf = frameHashSets(media, every).localCheckpoint()
    containmentVerified(bands.pairs(vf, "media_id", "fp"), vf, vf, maxHamming, minOverlap)
  }

  // ─── persisted fingerprint indexes ([[MediaIndex]] compositions) ───────────
  //
  // The batch near-dup operators above re-decode every payload every run;
  // these persist the fingerprints once (decode is the expensive leg — the
  // fingerprint rows are ~100 bytes against multi-KB payloads) and near-dup
  // each ARRIVING batch against the index: hash the new clips in-scan, band
  // probe-vs-index (hammingBandedPairsAcross — no all-pairs, no re-decode of
  // the indexed side), exact-verify on the stored arrays. The q76/q150
  // incremental-ingest shape for the three media modalities.

  private[graft] val AudioIndexKind = "audio_energy_64"
  private[graft] val VideoIndexKind = "video_frame_ahash_64"

  /** Persist the audio energy-fingerprint index for `media` (one decode per
    * clip, then never again). */
  def saveAudioIndex(media: DataFrame, path: String): Unit =
    MediaIndex.save(audioEnergyHashes(media, frames = 64).toDF(),
      AudioIndexKind, path)

  /** Append new clips' fingerprints as a fresh committed generation
    * ([[MediaIndex.append]] contracts: disjoint ids, matching kind). */
  def appendToAudioIndex(media: DataFrame, path: String): Unit =
    MediaIndex.append(audioEnergyHashes(media, frames = 64).toDF(),
      AudioIndexKind, path)

  /** Near-dup NEW clips against the persisted index — [[audioNearDupPairs]]
    * with the catalog side read from parquet fingerprints instead of
    * re-decoded payloads. Output (id_a = new clip, id_b = indexed clip,
    * hamming, l1), the q153 verify arithmetic. */
  def audioNearDupAgainstIndex(newMedia: DataFrame, path: String,
                               maxHamming: Int = 3): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    val idx = MediaIndex.loadKind(newMedia.sparkSession, path,
      "audioNearDupAgainstIndex", AudioIndexKind)
    val probes = audioEnergyHashes(newMedia, frames = 64).toDF().localCheckpoint()
    l1Verified(bands.across(probes, idx.fingerprints, "media_id", "fp"),
      probes, idx.fingerprints, "energies")
  }

  /** Persist the image perceptual-hash index ("ahash" or "dhash" — the kind
    * rides the meta so probes always hash the same way). */
  def saveImageIndex(media: DataFrame, path: String,
                     hashKind: String = "ahash"): Unit =
    MediaIndex.save(imageHashesOf(media, hashKind).toDF(),
      imageHashKind(hashKind).indexKind, path)

  /** Append new images' fingerprints as a fresh committed generation. */
  def appendToImageIndex(media: DataFrame, path: String,
                         hashKind: String = "ahash"): Unit =
    MediaIndex.append(imageHashesOf(media, hashKind).toDF(),
      imageHashKind(hashKind).indexKind, path)

  /** Load an image index, rejecting a non-image kind, with the probe hash
    * family its kind maps to in [[ImageHashKinds]] — a caller cannot band
    * ahash probes into a dhash catalog. */
  private[graft] def loadImageIndex(spark: SparkSession, path: String,
                                    caller: String): (MediaIndex.Index, String) = {
    val idx = MediaIndex.loadKind(spark, path, caller, ImageHashKinds.map(_.indexKind): _*)
    (idx, ImageHashKinds.find(_.indexKind == idx.kind).get.hashKind)
  }

  /** Near-dup NEW images against the persisted index; the probe hash family
    * comes from the INDEX meta ([[loadImageIndex]]). Output (id_a = new,
    * id_b = indexed, hamming, l1). */
  def imageNearDupAgainstIndex(newMedia: DataFrame, path: String,
                               maxHamming: Int = 3): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    val (idx, hashKind) = loadImageIndex(newMedia.sparkSession, path,
      "imageNearDupAgainstIndex")
    val probes = imageHashesOf(newMedia, hashKind).toDF().localCheckpoint()
    l1Verified(bands.across(probes, idx.fingerprints, "media_id", "fp"),
      probes, idx.fingerprints, "gray")
  }

  /** Persist the video frame-hash index: per-clip DISTINCT frame aHashes
    * ([[frameHashSets]]) — the banding/verify relation of
    * [[videoNearDupPairs]], demuxed once. */
  def saveVideoIndex(media: DataFrame, path: String, every: Int = 1): Unit =
    MediaIndex.save(frameHashSets(media, every), VideoIndexKind, path)

  /** Append new clips' distinct frame hashes as a fresh committed generation. */
  def appendToVideoIndex(media: DataFrame, path: String, every: Int = 1): Unit =
    MediaIndex.append(frameHashSets(media, every), VideoIndexKind, path)

  /** Near-dup NEW clips against the persisted frame-hash index — the
    * [[videoNearDupPairs]] chain with the catalog side's frames read from
    * parquet: frame-level banding across probe/index, then
    * [[containmentVerified]] on both sides' distinct frame-hash sets. Output
    * (id_a = new clip, id_b = indexed clip, m_a, n_a, m_b, n_b, overlap). */
  def videoNearDupAgainstIndex(newMedia: DataFrame, path: String,
                               every: Int = 1, maxHamming: Int = 3,
                               minOverlap: Double = 0.5): DataFrame = {
    val bands = DedupSuite.HammingBands(64, maxHamming)
    requireMinOverlap(minOverlap)
    val idx = MediaIndex.loadKind(newMedia.sparkSession, path,
      "videoNearDupAgainstIndex", VideoIndexKind)
    val vfNew = frameHashSets(newMedia, every).localCheckpoint()
    containmentVerified(bands.across(vfNew, idx.fingerprints, "media_id", "fp"),
      vfNew, idx.fingerprints, maxHamming, minOverlap)
  }

  final case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Byte-chunk frame sampling — the codec-agnostic fallback for containers
    * with no in-JDK demuxer: emit every `every`-th fixed-size chunk of the
    * payload as a "frame" (the real GIF demux above is [[sampleGifFrames]]). */
  def sampleFrames(media: DataFrame, frameBytes: Int, every: Int): Dataset[MediaFrame] = {
    require(frameBytes > 0 && every > 0, "frameBytes and every must be positive")
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val bytes = if (payload == null) Array.emptyByteArray else payload
        val nFrames = bytes.length / frameBytes
        (0 until nFrames by every).iterator.map { f =>
          MediaFrame(id, f, java.util.Arrays.copyOfRange(bytes, f * frameBytes,
            (f + 1) * frameBytes))
        }
      }
  }
}
