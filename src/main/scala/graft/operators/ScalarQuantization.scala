package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization — the middle rung of the embedding-compression
  * ladder (FAISS `ScalarQuantizer` QT_8bit; raw float32 = 1×, SQ8 = 4×,
  * PQ 8×256 = 32×): each dimension is quantized INDEPENDENTLY to a uint8
  * against per-dimension [min, max] bounds learned in one pass. Unlike PQ
  * there is no codebook — decode is affine (min_d + code·span_d/255) — so
  * recall is far higher at 8× fewer bytes than raw, and search needs no
  * LUTs: the distance chain is plain arithmetic the optimizer codegens.
  *
  * Everything is built-ins (transform / round / least / greatest / shifts
  * via [[ProductQuantization.packCodes]]), deterministic, and
  * oracle-replayable: encode order is ((x − min)/span)·255 rounded HALF_UP
  * then clamped to [0, 255]; decode is min + (code·span)/255; distances
  * accumulate dimensions ascending left-assoc. A zero span (constant
  * dimension) encodes 0 and decodes to min — guarded, since ANSI mode
  * makes the naive division an error, not a NaN. */
object ScalarQuantization {

  /** Per-dimension (min, max) bounds in ONE aggregation pass
    * (posexplode → 64-group groupBy; train-time only). */
  def sqTrain(df: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val rows = df
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    require(rows.nonEmpty, "sqTrain over an empty/all-null corpus")
    val dims = rows.keys.max + 1
    ((0 until dims).map(d => rows(d)._1), (0 until dims).map(d => rows(d)._2))
  }

  /** uint8 code array for a vector column: code_d = clamp(round(((x −
    * min_d)/span_d)·255), 0, 255); zero-span dims encode 0. A null element
    * yields a null code ELEMENT, which nulls its packed long and then the
    * distance — so poisoning resolves where it matters, at [[sqTopK]]'s
    * isNotNull exclusion (the PQ family's observable contract). */
  def sqEncode(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(mins.length == maxs.length && mins.nonEmpty, "bad bounds")
    val mnLit = array(mins.map(lit): _*)
    val mxLit = array(maxs.map(lit): _*)
    transform(vec.cast("array<double>"), (x, d) => {
      val mn = element_at(mnLit, d + 1)
      val span = element_at(mxLit, d + 1) - mn
      // explicit null gate: greatest/least SKIP nulls (greatest(null, 0.0)
      // = 0.0), so without it the clamp silently encodes a null element as
      // code 0 instead of poisoning it — caught by the spec
      when(x.isNull, lit(null).cast("int"))
        .when(span > 0.0,
          least(greatest(round((x - mn) / span * lit(255.0), 0), lit(0.0)),
            lit(255.0)).cast("int"))
        .otherwise(lit(0))
    })
  }

  /** Pack a 64-code array into 8 longs (8 codes × 8 bits each) through the
    * same bit layout as [[ProductQuantization.packCodes]] — 64 bytes exact,
    * no parquet array-of-int overhead. Code count must be a multiple of 8. */
  def sqPack(codes: Column, dims: Int): Column = {
    require(dims > 0 && dims % 8 == 0, s"dims must be a multiple of 8: $dims")
    transform(sequence(lit(0), lit(dims / 8 - 1)), g =>
      ProductQuantization.packCodes(
        slice(codes, g * 8 + 1, lit(8)), m = 8, ksub = 256))
  }

  /** DECODED vector array from packed codes: dec_d = min_d +
    * (code_d·span_d)/255 — one native [[graft.expressions.SqDecode]]: the
    * composed built-in form (64 static element_at+shift+affine terms) grew
    * a generated method past Janino's 64 KB limit under CODEGEN_ONLY —
    * caught by the codegen-only sweep spec. */
  def sqDecode(packed: Column, mins: Seq[Double], maxs: Seq[Double]): Column =
    graft.expressions.SqDecode(packed, mins, maxs)

  /** L2² between the DECODED codes and a query vector via the dot identity
    * |dec|² − 2·dec·q + |q|² over NATIVE dot kernels (the exact-search
    * formulation every oracle here replays with ascending-dim chains).
    * NOT Σ(dec_d − q_d)² as 64 inlined terms: that builds a 63-deep `Add`
    * tree whose Catalyst canonicalization cost dominated the whole query
    * (measured ~16 s of pure planning at ANY data size) — the decode array
    * plus three constant-size dot kernels plans in milliseconds and
    * computes the same oracle-replayable IEEE shape. */
  def sqDistance(packed: Column, query: Seq[Double],
                 mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(query.length == mins.length && mins.length == maxs.length,
      s"query has ${query.length} dims but bounds have ${mins.length}")
    val dec = sqDecode(packed, mins, maxs)
    val qLit = array(query.map(lit): _*)
    var qq = 0.0
    query.foreach(x => qq += x * x)
    (graft.expressions.NativeVec.dot(dec, dec)
      - lit(2.0) * graft.expressions.NativeVec.dot(dec, qLit) + lit(qq))
  }

  /** Top-k by SQ8 distance over a packed-code frame: scan-side arithmetic
    * into TakeOrderedAndProject (no global sort). (idCol, sq_dist)
    * ascending, ties by id; null-poisoned rows are excluded.
    *
    * Search a MATERIALIZED code frame (parquet / checkpoint — an index is a
    * dataset): if `encoded` is the unevaluated encode+pack projection, the
    * optimizer inlines the whole pack chain into each of the dims decode
    * references here — measured 16.5 s vs 0.9 s on identical data at
    * sf0.1. */
  def sqTopK(encoded: DataFrame, packedCol: String, idCol: String,
             query: Seq[Double], mins: Seq[Double], maxs: Seq[Double],
             k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    encoded
      .select(col(idCol),
        sqDistance(col(packedCol), query, mins, maxs).as("sq_dist"))
      .filter(col("sq_dist").isNotNull)
      .orderBy(col("sq_dist"), col(idCol))
      .limit(k)
  }

  /** A reloaded SQ8 index: per-dim bounds + the packed-code frame
    * (normalized to (vec_id, packed) on disk). */
  final case class SqIndex(mins: Seq[Double], maxs: Seq[Double], dims: Int,
                           codes: DataFrame)

  /** Persist an SQ8 index — the [[ProductQuantization.savePqIndex]] contract
    * for the scalar rung, through the same [[GenCommit]] store: codes under
    * `codes/gen=0`, the per-dimension bounds as a static table (PQ's
    * `coarse`) and `meta_g0` (dims, gens) as the single commit point, so a
    * failed save can never leave new codes under old bounds. Doubles
    * round-trip parquet bit-exactly, so a reloaded index searches
    * identically (spec-pinned); and because the reloaded code frame IS a
    * parquet scan, [[sqTopK]]'s materialize-before-search contract holds by
    * construction — no caller-side checkpoint (the q135 lesson
    * institutionalized). */
  def saveSqIndex(encoded: DataFrame, idCol: String, packedCol: String,
                  mins: Seq[Double], maxs: Seq[Double], path: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    require(mins.length == maxs.length && mins.nonEmpty, "bad bounds")
    GenCommit.save(encoded.select(col(idCol).as("vec_id"), col(packedCol).as("packed")),
        path) { staged =>
      GenCommit.writeGen(staged, path, "codes", 0)
      GenCommit.writeTable(mins.indices.map(d => (d, mins(d), maxs(d)))
        .toDF("d", "mn", "mx"), s"$path/bounds")
      Seq(Tuple1(mins.length)).toDF("dims")
    }
  }

  /** Load a [[saveSqIndex]] index. Bounds collect driver-side (dims rows);
    * the code frame stays a lazy parquet scan of the committed generation.
    * Loud on a bounds table whose dimensions disagree with meta. */
  def loadSqIndex(spark: org.apache.spark.sql.SparkSession, path: String): SqIndex = {
    import spark.implicits._
    val meta = GenCommit.requireMeta(spark, path, "loadSqIndex")
    val dims = meta.row.getAs[Int]("dims")
    val bounds = spark.read.parquet(s"$path/bounds")
      .select(col("d"), col("mn"), col("mx"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    require(bounds.length == dims && bounds.map(_._1).toSeq == (0 until dims),
      s"bounds table (${bounds.length} rows) disagrees with meta dims=$dims")
    SqIndex(bounds.map(_._2).toSeq, bounds.map(_._3).toSeq, dims,
      GenCommit.readGens(spark, path, "codes", meta.gens))
  }
}
