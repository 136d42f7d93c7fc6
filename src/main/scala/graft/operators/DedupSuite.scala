package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._

/** Document deduplication at training-data scale: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard.
  *
  * Scale shapes (the point of each design):
  *   - signatures (MinHash, SimHash) are PER-ROW higher-order-function folds over
  *     the document's own shingles/tokens — zero shuffle, computed during the scan;
  *   - candidate generation shuffles only (id, band/block) pairs — bytes per doc,
  *     not the documents themselves;
  *   - candidate verification joins are equi-joins on band/block keys, never a
  *     cross join; pair output is bounded by bucket collisions (tunable bands);
  *   - exact dedup is one hash aggregate on a 16-byte digest.
  *
  * Hamming near-dup family (SimHash here; the media fingerprints of
  * [[Multimodal]] and the streaming ingests): the `maxHamming` check, band
  * keys, within test and band join live once, in [[HammingBands]].
  *
  * Text near-dup family (MinHash, n-gram Jaccard and containment,
  * [[Decontamination]], [[HeavyHitters]] and the streaming twins): the
  * per-doc shingle relation ([[shingled]]), the MinHash band rule
  * ([[MinHashBands]]), the first-matching-band predicate shared with the
  * Hamming join ([[firstMatchingBand]]), the PPJoin prefix ([[prefixGrams]])
  * and the verify regime ([[GramVerify]]) each live once, here.
  */
object DedupSuite {

  // ── exact ──────────────────────────────────────────────────────────────────

  /** Exact dedup: group by content digest, keep the minimum id as canonical.
    * Output: (digest, canonical_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  // ── MinHash + LSH ──────────────────────────────────────────────────────────

  /** The one MinHash band rule of the text near-dup family (batch
    * [[minHashBandKeys]], the SQL `graft_minhash`/`graft_lsh_bands` and the
    * streaming ingest): `numHashes` seeded minima cut into `bands` equal
    * slices of `rows` consecutive hashes. Constructing it is the
    * `numHashes % bands` check — every entry point builds its rule before
    * any hashing. */
  private[graft] final case class MinHashBands(numHashes: Int, bands: Int) {
    require(numHashes % bands == 0, s"numHashes $numHashes not divisible by bands $bands")
    private val rows = numHashes / bands

    /** One key per band: `key` over the band's slice, `h(i)` the i-th hash. */
    def keys(h: Int => Column, key: Seq[Column] => Column): Column =
      array((0 until bands).map(b => key((0 until rows).map(r => h(b * rows + r)))): _*)
  }

  object MinHashBands {
    /** Seed `i` of the hash family over one md5 per shingle (Broder's
      * 2-universal construction): h_i = (a + i·b) mod 2³², where a/b are the
      * digest's first two big-endian 32-bit hex words ([[md5Word]]). The
      * independence across i is the standard pairwise guarantee MinHash
      * sketches assume, and the family is DuckDB-expressible. */
    def seeded(a: Column, b: Column, i: Int): Column =
      (a + lit(i.toLong) * b) % lit(4294967296L)
  }

  /** Per-row MinHash signature: array of `numHashes` minima over the
    * document's shingles under the [[MinHashBands.seeded]] family. Shingles
    * are md5'd ONCE (inner transform); the per-seed passes reread the staged
    * digests. No shuffle. */
  def minHashSignature(shingles: Column, numHashes: Int): Column = {
    val digests = transform(shingles, s => md5(s))
    array((0 until numHashes).map(i => array_min(transform(digests, d =>
      MinHashBands.seeded(md5Word(d, 0), md5Word(d, 1), i)))): _*)
  }

  /** LSH banding: split the signature into `bands` equal groups; band key = md5 of
    * the concatenated group. Docs sharing ANY band key become candidate pairs. */
  def lshBands(signature: Column, numHashes: Int, bands: Int): Column =
    MinHashBands(numHashes, bands).keys(i => element_at(signature, i + 1),
      slice => md5(concat_ws("|", slice: _*)))

  /** Exploded LSH band keys per document: (id, bnd, band_idx, band_key), where
    * `bnd` is the full band-key array (carried so joins can do first-matching-band
    * emission). This is the INDEX side of incremental dedup — at scale it is
    * computed once per corpus and persisted, then each new batch joins against it.
    *
    * Shape: explode shingles → hash-aggregate `numHashes` minima per doc (map-side
    * partial agg; shuffles only (id, shingle-hash) bytes) → band keys from the
    * signature attributes. The per-row-HOF alternative re-evaluates the
    * tokenizer inside every lambda element (interpreted, O(shingles × tokens)
    * per seed per row) — measurably pathological even at 5k docs, hence the
    * explicit staging here. One md5 per shingle, staged into its two 32-bit
    * words BEFORE the aggregate (an md5 inside each min() would be
    * re-evaluated once per seed — common subexpression elimination does not
    * span aggregate buffers); the seeded minima are then integer affine maps
    * of the staged words. */
  def minHashBandKeys(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val rule = MinHashBands(numHashes, bands)
    // widen first: tokenize + shingle + per-shingle md5 is the heavy per-row
    // leg, and a single-row-group corpus file plans as a 1-task scan
    val sh = shingled(Spread.widen(df.select(col(idCol), col(textCol))),
        Seq(col(idCol).as("id")), textCol, shingleSize)(explode(_).as("s"))
      .select(col("id"), md5(col("s")).as("d"))
      .select(col("id"), md5Word(col("d"), 0).as("a"), md5Word(col("d"), 1).as("b"))
    val aggs = (0 until numHashes).map(i =>
      min(MinHashBands.seeded(col("a"), col("b"), i)).as(s"h$i"))
    val sig = sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    // Band key: 8-byte xxhash64 of the band's signature slice. Only band-key
    // EQUALITY matters (keys never reach the output), so this produces the same
    // pair set as the oracle's md5-hex band keys while shuffling 8 bytes/band
    // instead of 32-char strings and skipping an md5+concat per band.
    val bandArr = rule.keys(i => col(s"h$i"), slice => xxhash64(slice: _*))
    sig.select(col("id"), bandArr.as("bnd"), posexplode(bandArr))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
  }

  /** Candidate near-duplicate pairs via MinHash LSH over word shingles.
    * Output: (id_a, id_b) with id_a < id_b, distinct. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame =
    pairsFromBandKeys(
      minHashBandKeys(df, idCol, textCol, shingleSize, numHashes, bands), bands)

  /** The one first-matching-band predicate of both band joins ([[pairsFromBandKeys]]
    * and [[HammingBands.across]]): a row joined on band `idx` survives iff
    * `differs(p)` holds for every earlier band p, so a pair colliding in k
    * bands is emitted once, from its FIRST matching band, and the output
    * needs NO distinct() — at scale that removes a full shuffle of the
    * candidate set (candidates >> output). */
  private[graft] def firstMatchingBand(bands: Int, idx: Column,
                                       differs: Int => Column): Column =
    (0 until bands).map { b =>
      (idx === b) && (0 until b).map(differs).foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)

  /** Candidate pairs from a PRECOMPUTED [[minHashBandKeys]] frame — split out so
    * callers holding a persisted or checkpointed index don't recompute
    * signatures ([[incrementalDedup]], or a 100 TB corpus index read from
    * parquet). Carries the whole band-key array through the join (bands×8
    * bytes/row) for the [[firstMatchingBand]] emission. */
  def pairsFromBandKeys(banded: DataFrame, bands: Int): DataFrame = {
    val l = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_a"), col("bnd").as("bnd_a"))
    val r = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_b"), col("bnd").as("bnd_b"))
    val firstBandOnly = firstMatchingBand(bands, col("band_idx"), p =>
      element_at(col("bnd_a"), p + 1) =!= element_at(col("bnd_b"), p + 1))
    l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b") && firstBandOnly)
      .select(col("id_a"), col("id_b"))
  }

  /** Incremental dedup: the continuous-ingestion pattern. A new batch survives
    * only where it is (1) not a near-dup of anything ALREADY IN the corpus and
    * (2) internally deduplicated. Two stages:
    *   - left-anti join of the batch's band keys against the corpus's band keys
    *     on (band_idx, band_key) — an incoming doc colliding with the index in
    *     ANY band is dropped (same candidate rule as [[minHashLshPairs]]);
    *   - [[canonicalByCluster]] over the remainder (within-batch near-dup
    *     clusters keep their min id).
    *
    * Scale shape: the corpus side is `bands` rows of (idx, 8-byte key) per doc —
    * at 100 TB this is the PRECOMPUTED index read back from storage, not a
    * recompute ([[minHashBandKeys]] is public precisely so the index can be
    * persisted); each batch then costs signatures over the batch only plus two
    * bounded equi-joins. Nothing ever rescans corpus text. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String,
                       shingleSize: Int = 3, numHashes: Int = 8,
                       bands: Int = 4): DataFrame = {
    val exKeys = minHashBandKeys(existing, idCol, textCol, shingleSize, numHashes, bands)
      .select(col("band_idx"), col("band_key"))
    // Batch signatures are computed ONCE and materialized: they feed the
    // corpus-collision probe, the fresh-key derivation, and both sides of the
    // within-batch pair join — recomputing a signature pass per consumer
    // (the previous shape called minHashLshPairs over the fresh TEXT) was the
    // dominant cost. The batch is the small side by definition, so the
    // checkpoint is batch-sized, never corpus-sized.
    val inKeys = minHashBandKeys(incoming, idCol, textCol, shingleSize, numHashes, bands)
      .localCheckpoint(true)
    val hitIds = inKeys.join(exKeys, Seq("band_idx", "band_key"), "left_semi")
      .select(col("id")).distinct()
    val freshKeys = inKeys.join(hitIds, Seq("id"), "left_anti")
    val pairs = pairsFromBandKeys(freshKeys, bands)
    val fresh = incoming.join(hitIds.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    canonicalByCluster(fresh, idCol, pairs)
  }

  // ── SimHash ────────────────────────────────────────────────────────────────

  /** SimHash bit source: bit `b` (MSB-first, b < 64) of the token's md5, read as
    * two big-endian 32-bit words parsed from hex chars 1-8 and 9-16. One md5 and
    * two hex→long parses per token yield all 64 bits as integer shift/mask ops —
    * the earlier per-bit `ascii(substring(digest,…))` form cost 64 string ops per
    * token INSIDE the aggregate, which pushed the vote aggregation out of
    * efficient evaluation entirely. DuckDB-expressible:
    * `('0x' || substr(md5(t), 1+8j, 8))::BIGINT`. */
  def md5Word(digest: Column, j: Int): Column =
    conv(substring(digest, 8 * j + 1, 8), 16, 10).cast("long")

  /** 0/1 bit `b` of the (up to 2) staged md5 words `w0`,`w1`. */
  private def wordBit(words: Seq[Column], b: Int): Column =
    shiftrightunsigned(words(b / 32), 31 - b % 32).bitwiseAND(lit(1L))

  /** Per-row SimHash fingerprint as a '0'/'1' string of length `bits` (string
    * form keeps the oracle trivial). Per-bit signed token votes folded per row —
    * no shuffle. Same bit definition as the aggregate path ([[md5Word]]). */
  def simHash(text: Column, bits: Int = 16): Column = {
    require(bits <= 64, s"simHash needs bits <= 64, got $bits")
    val nWords = (bits + 31) / 32
    val words = transform(TextFunctions.tokens(text), t =>
      array((0 until nWords).map(j => md5Word(md5(t), j)): _*))
    val contrib = transform(words, w =>
      array((0 until bits).map(b =>
        wordBit((0 until nWords).map(j => element_at(w, j + 1)), b) * 2 - 1): _*))
    val sums = aggregate(contrib,
      array(Seq.fill(bits)(lit(0L)): _*),
      (acc, v) => zip_with(acc, v, (a, x) => a + x))
    concat((0 until bits).map(b =>
      when(element_at(sums, b + 1) > 0L, "1").otherwise("0")): _*)
  }

  /** Lane width: each 64-bit sum buffer carries four 16-bit set-bit counters, so
    * `bits` votes need bits/4 aggregates instead of `bits` — with the token count
    * that is 17 integer-typed aggregate buffers for a 64-bit fingerprint. Lanes
    * hold counts of SET bits; vote_b = 2·count_b − n. A document must have at
    * most 65535 tokens or lanes would carry into each other — enforced with an
    * explicit post-aggregation guard rather than silent corruption. */
  private val LaneBits = 16
  private val LanesPerWord = 64 / LaneBits
  private val MaxTokens = (1 << LaneBits) - 1

  /** Per-doc packed vote-lane sums: explode tokens, md5+parse each token ONCE,
    * then bits/4 packed-counter sums + a token count (map-side partial agg;
    * shuffles one short row of longs per doc). */
  private def simHashLaneSums(df: DataFrame, idCol: String, textCol: String,
                              bits: Int): DataFrame = {
    require(bits % LanesPerWord == 0 && bits <= 64, s"bits must be <=64, multiple of 4: $bits")
    val nWords = (bits + 31) / 32
    val nLanes = bits / LanesPerWord
    val tok = Spread.widen(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), md5(col("t")).as("d"))
      .select(col("id") +: (0 until nWords).map(j => md5Word(col("d"), j).as(s"w$j")): _*)
    val words = (0 until nWords).map(j => col(s"w$j"))
    val lanes = (0 until nLanes).map { g =>
      sum((0 until LanesPerWord).map(i =>
        shiftleft(wordBit(words, g * LanesPerWord + i), LaneBits * i))
        .reduce(_ + _)).as(s"lane$g")
    }
    val agg = tok.groupBy(col("id")).agg(lanes.head, (lanes.tail :+ count(lit(1)).as("n")): _*)
    agg.filter(when(col("n") > MaxTokens,
      raise_error(lit(s"simHash: document exceeds $MaxTokens tokens"))).otherwise(lit(true)))
  }

  /** Set-bit count for bit `b` extracted from the packed lane sums. */
  private def laneCount(b: Int): Column =
    shiftrightunsigned(col(s"lane${b / LanesPerWord}"), LaneBits * (b % LanesPerWord))
      .bitwiseAND(lit((1L << LaneBits) - 1))

  /** SimHash fingerprints packed into a long, MSB-first so bit (bits-1-b) set ⇔
    * the per-row [[simHash]] string has '1' at position b (bit set ⇔
    * 2·count_b > n) — the hamming distance between two fingerprints is one
    * xor+popcount instead of 2×bits substring compares over the string form.
    * Requires bits <= 64 (bit 0 of a 64-bit fingerprint lands on the sign bit;
    * OR-combining keeps that safe). */
  def simHashFingerprintsPacked(df: DataFrame, idCol: String, textCol: String,
                                bits: Int): DataFrame = {
    require(bits <= 64, s"packed fingerprint needs bits <= 64, got $bits")
    simHashLaneSums(df, idCol, textCol, bits)
      .select(col("id"), (0 until bits).map(b =>
        when(laneCount(b) * 2 > col("n"), lit(1L << (bits - 1 - b))).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)).as("fp"))
  }

  /** SimHash near-duplicate pairs: block on `bands` fingerprint segments
    * (pigeonhole: hamming <= maxHamming pairs share >= 1 of maxHamming+1 segments),
    * verify exact hamming on candidates. Output (id_a, id_b, hamming), distinct.
    *
    * Verification runs on packed-long fingerprints — one xor+popcount per
    * candidate pair (the candidate set is O(collisions), orders of magnitude
    * larger than the output, so per-pair cost dominates). Block keys are the
    * numeric segment values (bijective with the string form's substrings). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 64, maxHamming: Int = 3): DataFrame =
    hammingBandedPairs(simHashFingerprintsPacked(df, idCol, textCol, bits),
      "id", "fp", bits, maxHamming)

  /** The one pigeonhole band rule of the Hamming near-dup family (SimHash,
    * image, audio and video fingerprints; batch, index and streaming): two
    * `bits`-bit fingerprints within `maxHamming` agree on at least one of
    * `bands` = maxHamming+1 equal segments, so a band join finds every
    * qualifying pair with NO all-pairs comparison. Constructing it is the
    * family's `maxHamming` check — every public entry point builds its rule
    * before any hashing. */
  private[graft] final case class HammingBands(bits: Int, maxHamming: Int) {
    require(maxHamming >= 0 && bits % (maxHamming + 1) == 0,
      s"maxHamming must be one of ${(1 to bits).filter(bits % _ == 0).map(_ - 1)
        .mkString(", ")} for $bits-bit fingerprints (maxHamming + 1 segments " +
        s"must split the bits evenly), got $maxHamming")
    val bands: Int = maxHamming + 1
    private val seg = bits / bands
    // seg == 64 (maxHamming = 0, exact-dup mode): 1L << 64 wraps to 1 on the
    // JVM and a zero mask would collapse every band key to 0
    private val segMask = if (seg == 64) -1L else (1L << seg) - 1

    /** Segment `b` of `fp`, MSB-first. */
    def segOf(fp: Column, b: Int): Column =
      shiftrightunsigned(fp, (bands - 1 - b) * seg).bitwiseAND(lit(segMask))

    /** All `bands` segments of `fp` as one array, band index = position. */
    def keys(fp: Column): Column = array((0 until bands).map(segOf(fp, _)): _*)

    def within(fpA: Column, fpB: Column): Column =
      bit_count(fpA.bitwiseXOR(fpB)) <= maxHamming

    /** The self form: [[across]] of `fps` with itself, kept where
      * `id_a < id_b` — each qualifying pair of rows exactly once (an item
      * with several rows, e.g. a clip's frame hashes, pairs row by row). */
    def pairs(fps: DataFrame, idCol: String, fpCol: String): DataFrame =
      across(fps, fps, idCol, fpCol).filter(col("id_a") < col("id_b"))

    /** The band join: every (left row, right row) pair within `maxHamming`,
      * each exactly once — [[firstMatchingBand]] emission (segments
      * recomputed from the carried fp), so no distinct() shuffle. Output (id_a from left, id_b from right,
      * hamming). */
    def across(left: DataFrame, right: DataFrame,
               idCol: String, fpCol: String): DataFrame = {
      def banded(df: DataFrame, ida: String, fpa: String) = df
        .select(col(idCol).as(ida), col(fpCol).as(fpa))
        .select(col(ida), col(fpa), posexplode(keys(col(fpa))))
        .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_key")
      val firstBlockOnly = firstMatchingBand(bands, col("block_idx"), p =>
        segOf(col("fp_a"), p) =!= segOf(col("fp_b"), p))
      banded(left, "id_a", "fp_a")
        .join(banded(right, "id_b", "fp_b"), Seq("block_idx", "block_key"))
        .filter(firstBlockOnly)
        .select(col("id_a"), col("id_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
  }

  /** [[HammingBands.pairs]] over ONE fingerprint frame of (idCol, fpCol)
    * rows. Output (id_a, id_b, hamming), id_a < id_b. */
  def hammingBandedPairs(fps: DataFrame, idCol: String, fpCol: String,
                         bits: Int = 64, maxHamming: Int = 3): DataFrame =
    HammingBands(bits, maxHamming).pairs(fps, idCol, fpCol)

  /** Hamming-banded pairs across TWO fingerprint frames — the probe-vs-index
    * shape ([[MediaIndex]]'s near-dup-against-index): the [[HammingBands]]
    * join with no `id_a < id_b` canonicalization (the sides are distinct id
    * spaces — the append contract keeps probe ids disjoint from indexed
    * ids). Output (id_a from left, id_b from right, hamming). */
  def hammingBandedPairsAcross(left: DataFrame, right: DataFrame,
                               idCol: String, fpCol: String,
                               bits: Int = 64, maxHamming: Int = 3): DataFrame =
    HammingBands(bits, maxHamming).across(left, right, idCol, fpCol)

  // ── shingles ───────────────────────────────────────────────────────────────

  /** The one per-doc shingle relation of the text near-dup family (n-gram
    * Jaccard and containment, MinHash, decontamination, heavy grams and their
    * streaming twins): `keep` plus the single column `perDoc(grams)`, where
    * `grams` is the doc's word n-gram shingle array. Tokens are STAGED into a
    * column first — HOF lambdas re-evaluate their child tree per element, so
    * an inlined tokens() would re-tokenize per shingle (O(n²)).
    *
    * `tokenUnigrams`: for n = 1, read the token array itself instead of
    * shingling it. The two agree on every non-null text; null text has no
    * grams on the token path and one null shingle through `wordShinglesOf`,
    * so each caller keeps the form its answers are defined by (the n-gram
    * verify and heavy grams take the token path). */
  private[graft] def shingled(df: DataFrame, keep: Seq[Column], textCol: String,
                              n: Int, tokenUnigrams: Boolean = false)
                             (perDoc: Column => Column): DataFrame = {
    val staged = df.select(keep :+ TextFunctions.tokens(col(textCol)).as("_toks"): _*)
    val toks = col("_toks")
    val grams = if (tokenUnigrams && n == 1) toks else TextFunctions.wordShinglesOf(toks, n)
    staged.select(staged.columns.toSeq.filter(_ != "_toks").map(col) :+ perDoc(grams): _*)
  }

  // ── n-gram Jaccard and containment ───────────────────────────────────────

  /** The verify regime of [[ngramJaccardPairs]] and [[ngramContainmentPairs]]:
    * one pure decision over counts the verify measures anyway, and the one
    * seam ([[GramVerify.forcing]]) that specs and `LocalClusterVerify` force
    * a regime through. Results are byte-identical in every regime
    * (spec-pinned); only cost moves. */
  private[graft] object GramVerify {
    sealed trait Regime
    /** The two-join tail over the whole gram index — zero added jobs. */
    case object Plain extends Regime
    /** The gram index bloom-pruned to the candidate ids before each join. */
    case object Pruned extends Regime
    /** Candidate docs cover the corpus: verify the checkpointed pair set in
      * `k` disjoint hash slices (k = 1: one pass); `estimate` is the
      * evidence when the measured decision sized k. */
    final case class Dense(k: Int, estimate: Option[Estimate] = None) extends Regime

    /** Bytes entering the two verify joins: each candidate pair carries both
      * docs' sorted 8-byte gram arrays between the joins. */
    final case class Estimate(pairs: Long, meanGramSz: Double, budget: Long) {
      val bytes: Double = 2.0 * pairs * meanGramSz * 8.0
      val k: Int = math.min(64L, math.ceil(bytes / budget).toLong).toInt
      override def toString: String = String.format(java.util.Locale.ROOT,
        "pairs=%d meanGramSz=%.1f estBytes=%.2e budget=%d -> k=%d",
        Long.box(pairs), Double.box(meanGramSz), Double.box(bytes),
        Long.box(budget), Int.box(k))
    }

    /** What the verify measures. Each count is one Spark job, run the first
      * time a decision reads it (the docs count is the only one every
      * measured decision pays). */
    final class Counts(docs0: => Long, candidateDocs0: => Long,
                       candidatePairs0: => Long, meanGramSz0: => Double) {
      lazy val docs: Long = docs0
      lazy val candidateDocs: Long = candidateDocs0
      lazy val candidatePairs: Long = candidatePairs0
      lazy val meanGramSz: Double = meanGramSz0
    }

    /** Docs below which the verify never measures candidate selectivity: the
      * gram index shuffles fine as-is and the count jobs would be pure
      * overhead (no record measures this bound). */
    val MinDocs = 200000L
    /** The prune engages below this candidate-doc coverage: on a dense
      * near-dup corpus (coverage ≈ 1) the unconditional prune doubled q45
      * (26.1 → 49.9 s at ×100: two 8 MB bloom literals in every task binary,
      * ~zero rows pruned), gated 28.0 s ≈ plain, while sparse corpora
      * (coverage ≈ 0.05) engage it — bench/results/README.md, "Addendum —
      * selectivity-gated verify prune" and the r7_prune_* table. */
    val MaxCoverage = 0.25
    /** Pair sets below this never segment: the estimate's extra aggregate
      * would cost more than the join (no record measures this bound). */
    val MinSegmentPairs = 1000000L
    /** Executor-disk budget for one verify pass: dense q84 at ×1000
      * (1.46e10 B estimated) stays one pass, 286.9 s, where a forced 2 GiB
      * budget took 7 passes and 554.6 s, while dense q45 (~226 GB) must
      * segment on a 75 GB disk — r8_q45_dense_x1000 and
      * r9_q84_dense_{default_clean,budget2g}. */
    val DiskBudget: Long = 24L << 30
    /** Input estimate (Catalyst `sizeInBytes`, compressed parquet bytes for
      * a scan) below which the gram index is always checkpointed: the n = 1
      * recompute win (241 → 171 s) was measured on a 5M-doc corpus of ~890 MB
      * parquet (r7_gmat_{mat,nomat}), while sf0.1-class corpora are tens of
      * MB, where four recomputes cost q45 ~1.3×. */
    val SmallInputBytes: BigInt = BigInt(256L << 20)

    def prunes(docs: Long, candidateDocs: Long): Boolean =
      candidateDocs.toDouble < MaxCoverage * docs

    /** The dense branch: one pass unless the estimate exceeds `budget`. */
    def dense(c: Counts, budget: Long = DiskBudget): Regime =
      if (c.candidatePairs < MinSegmentPairs) Dense(1)
      else {
        val e = Estimate(c.candidatePairs, c.meanGramSz, budget)
        Dense(math.max(1, e.k), Some(e))
      }

    def regime(c: Counts, budget: Long = DiskBudget): Regime =
      if (c.docs < MinDocs) Plain
      else if (prunes(c.docs, c.candidateDocs)) Pruned
      else dense(c, budget)

    /** Checkpoint the gram index once, or recompute it per consuming
      * subtree. n ≥ 2 shingles (a string concat per shingle before the hash)
      * always checkpoint — recompute lost 4.4× at 5M docs (304 → 1,337 s,
      * r7_gmat); n = 1 token hashes recompute unless the input is small. */
    def checkpointGrams(n: Int, inputBytes: => Option[BigInt]): Boolean =
      n > 1 || inputBytes.exists(_ < SmallInputBytes)

    private val policy = new scala.util.DynamicVariable[(Counts => Regime, Option[Boolean])](
      (regime(_), None))

    /** The seam: run `body` with `regime` in place of the measured decision
      * and, when set, `checkpointGrams` in place of the gram-index one.
      * Scoped to the calling thread, so a forced regime never reaches
      * another query. */
    def forcing[T](regime: Counts => Regime = GramVerify.regime(_),
                   checkpointGrams: Option[Boolean] = None)(body: => T): T =
      policy.withValue((regime, checkpointGrams))(body)

    private[operators] def decide(c: Counts): Regime = policy.value._1(c)

    private[operators] def decideCheckpoint(n: Int, inputBytes: => Option[BigInt]): Boolean =
      policy.value._2.getOrElse(checkpointGrams(n, inputBytes))
  }

  /** Verify candidate id pairs against the gram index: attach both docs'
    * sorted hash arrays and the exact `inter` count, score each pair as
    * `metric` and keep those at or above `threshold` (inside the regime, so
    * the segmented path materializes only surviving rows). Output (id_a,
    * id_b, inter, size_a, size_b, metric).
    *
    * The naive `cand ⋈ gramArr ⋈ gramArr` shuffles the FULL gram index — the
    * corpus's arrays, the widest frame in the whole pipeline — twice, even
    * when only a sliver of docs appears in any candidate pair (the common
    * web-corpus case: near-dups are rare). [[GramVerify.Pruned]] filters the
    * gram index IN-SCAN with a bloom filter over the candidate id set before
    * each join (no false negatives, so pruned-join ≡ join — the same q97
    * identity [[BloomJoin]] rests on). [[GramVerify.Dense]] with k > 1
    * bounds peak disk on a dense corpus instead: the pair×gram-array join
    * intermediate (2·pairs·meanGram bytes, the [[GramVerify.Estimate]]) is
    * split into k eagerly-materialized passes. The regime is chosen
    * DRIVER-SIDE by [[GramVerify.regime]] from actual counts. */
  private def verifiedIntersections(cand: DataFrame, gramArr: DataFrame, metric: String,
                                    score: Column, threshold: Double): DataFrame = {
    import GramVerify.{Counts, Dense, Plain, Pruned}
    def finish(pairs: DataFrame): DataFrame =
      pairs.withColumn(metric, score).filter(col(metric) >= threshold)
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
          col(metric))
    // Candidate pairs are consumed up to four times off the plain path
    // (distinct-id count, two bloom aggregates, the verify join) —
    // materialized once, pair-count sized (ids only). DISK_ONLY: on a dense
    // corpus the pair set reaches 10⁸–10⁹ rows (×1000 measured 6.1×10⁸) and
    // a MEMORY_AND_DISK put competes with the distinct's execution memory —
    // the r8 dense leg OOM'd a 48g heap exactly there.
    lazy val c2 = cand.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // one docs count: gramArr may be unmaterialized (checkpointGrams), so a
    // second count() could re-run the whole scan+tokenize+hash pipeline
    val counts = new Counts(gramArr.count(), candidateDocs(c2), c2.count(),
      gramArr.agg(avg(col("sz"))).collect()(0).getDouble(0))
    val chosen = GramVerify.decide(counts)
    if (chosen != Plain) {
      // driver-side state that never appears in a plan or result: logged so
      // scale-leg logs carry the decision (Locale.ROOT: the scrapers grep it)
      System.err.println(s"[graft.dedup] verify-prune gate: docs=${counts.docs} " +
        s"candidateDocs=${counts.candidateDocs} coverage=${String.format(
          java.util.Locale.ROOT, "%.4f",
          Double.box(counts.candidateDocs.toDouble / counts.docs))} " +
        s"engaged=${chosen == Pruned}")
    }
    chosen match {
      case Plain => finish(intersections(cand, gramArr, gramArr))
      case Pruned =>
        val (ga, gb) = bloomPruned(c2, counts.candidateDocs, gramArr)
        finish(intersections(c2, ga, gb))
      case Dense(k, estimate) =>
        // logged for k = 1 too: a leg that stays unsegmented still shows the
        // estimate ran
        estimate.foreach(e =>
          System.err.println(s"[graft.dedup] segmented verify estimate: $e"))
        if (k <= 1) finish(intersections(c2, gramArr, gramArr))
        else segmentedVerify(c2, gramArr, k, counts.docs, finish)
    }
  }

  /** Pairs with both docs' gram arrays and sizes and their exact `inter`. */
  private def intersections(c: DataFrame, ga: DataFrame, gb: DataFrame): DataFrame =
    c.join(ga.select(col("id").as("id_a"), col("harr").as("harr_a"),
        col("sz").as("size_a")), Seq("id_a"))
      .join(gb.select(col("id").as("id_b"), col("harr").as("harr_b"),
        col("sz").as("size_b")), Seq("id_b"))
      .withColumn("inter",
        graft.expressions.NativeArr.sortedIntersectSize(col("harr_a"), col("harr_b")))

  /** Distinct doc ids over a candidate pair set — one count job. */
  private def candidateDocs(c: DataFrame): Long =
    c.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct().count()

  /** `gram` filtered in-scan, once per pair side, by a bloom filter over the
    * candidate ids: ~16 bits/key at `nKeys`, clamped to [1 MB, 16 MB]. */
  private def bloomPruned(c: DataFrame, nKeys: Long,
                          gram: DataFrame): (DataFrame, DataFrame) = {
    import graft.expressions.BloomFilters
    val numBits = math.min(1L << 27, math.max(1L << 23,
      java.lang.Long.highestOneBit(math.max(1L, nKeys * 16)) << 1)).toInt
    def side(idCol: String): DataFrame = {
      val bytes = c
        .agg(BloomFilters.bloomAgg(xxhash64(col(idCol)), numBits, 5).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      gram.filter(BloomFilters.mightContain(lit(bytes), xxhash64(col("id"))))
    }
    (side("id_a"), side("id_b"))
  }

  /** The k-pass verify of [[GramVerify.Dense]]: on a one-box ×1000 dense
    * corpus the unsegmented verify spills past local disk (~185 GB
    * extrapolated vs 75 GB available). Each pass verifies one disjoint hash
    * slice of the pair set as its own eagerly-materialized unit, so the
    * dominant pair×gram-array intermediate scales with 1/k (the two
    * gram-index shuffles repeat per pass at corpus size). A doc-sparse slice
    * re-arms the bloom prune under the same coverage rule. `finish` runs
    * inside the pass, so pass results are output-sized; each pass's own
    * shuffles are deleted synchronously once its result is materialized,
    * which is what bounds peak disk. Results are byte-identical to the
    * unsegmented join (spec-pinned): the slices partition the pair set. */
  private def segmentedVerify(c2: DataFrame, gramArr: DataFrame, k: Int, docs: Long,
                              finish: DataFrame => DataFrame): DataFrame = {
    val spark = c2.sparkSession
    System.err.println(s"[graft.dedup] segmented verify: k=$k")
    // The gram index feeds 2k pass subtrees — DISK_ONLY: ~250 B/doc of
    // blocks vs heap. Filtering the outer (possibly unmaterialized) index
    // instead would recompute scan+tokenize+shingle twice per pass.
    val gramM = gramArr.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val passes = (0 until k).map { i =>
      // Deterministic per-pass reclaim — the r8 dense leg died of disk
      // exhaustion at pass 12/18 relying on GC-triggered ContextCleaner
      // waves alone. The pass runs under a tracked-shuffle scope (job-group
      // listener ∩ registration delta — a concurrent query's live shuffle
      // never lands in the reclaim set); once `out` is materialized nothing
      // re-reads its shuffles (cs/gramM are checkpointed blocks, and each
      // pass is its own execution).
      val (out, passShuffles) =
        ColumnBridge.withTrackedShuffles(spark, s"verify-pass-$i") {
          val cs = c2.filter(
            pmod(xxhash64(col("id_a"), col("id_b")), lit(k)) === i)
            .localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val csIds = candidateDocs(cs)
          val slicePrune = GramVerify.prunes(docs, csIds)
          val (ga, gb) = if (slicePrune) bloomPruned(cs, csIds, gramM) else (gramM, gramM)
          System.err.println(s"[graft.dedup] segmented verify pass $i/$k: " +
            s"sliceDocs=$csIds prune=$slicePrune")
          // DISK_ONLY: on an adversarially dense corpus "output-sized" is
          // join-sized (4.4 GB/pass × 18 passes measured at dense ×1000);
          // serialized disk blocks honor spark.rdd.compress (~3×)
          val o = finish(intersections(cs, ga, gb)).localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
          ColumnBridge.unpersistFrame(cs, blocking = true)
          o
        }
      ColumnBridge.cleanupShuffles(spark, passShuffles)
      out
    }
    ColumnBridge.unpersistFrame(gramM, blocking = true)
    passes.reduce(_ union _)
  }

  /** The gram index shared by [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: (id, block, harr, sz) where `harr` is the
    * sorted array of distinct xxhash64 gram hashes. Grams are carried as
    * 8-byte hashes, never strings: shuffle rows stay narrow and set
    * intersection compares longs. A cross-doc hash collision would need two
    * DIFFERENT grams of the same block to collide in 64 bits (~n²/2⁶⁵) —
    * negligible at any corpus size this targets, and it only perturbs one
    * `inter` count by 1. The index feeds four subtrees (two candidate sides,
    * two verify joins); [[GramVerify.checkpointGrams]] decides whether it is
    * materialized once. */
  private def gramIndex(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int): DataFrame = {
    val idx = shingled(Spread.widen(df.select(col(idCol), col(blockCol), col(textCol))),
        Seq(col(idCol).as("id"), col(blockCol).as("block")), textCol, n,
        tokenUnigrams = true)(g =>
        array_sort(array_distinct(transform(g, x => xxhash64(x)))).as("harr"))
      .withColumn("sz", size(col("harr")).cast("long"))
    val inputBytes =
      try Some(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      catch { case scala.util.control.NonFatal(_) => None }
    if (GramVerify.decideCheckpoint(n, inputBytes)) idx.localCheckpoint(true) else idx
  }

  /** PPJoin-style prefix filter (exact, no false negatives): under ANY global
    * gram order — here the hash order itself, so no frequency pass is needed
    * — a set whose overlap with a partner must reach t·|A| shares a gram with
    * it inside its first |A| − ceil(t·|A|) + 1 grams. One (id, block, sz, gh)
    * row per prefix gram. */
  private def prefixGrams(gramArr: DataFrame, threshold: Double): DataFrame =
    gramArr.select(col("id"), col("block"), col("sz"),
      explode(slice(col("harr"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))).as("gh"))

  /** Jaccard similarity over distinct word n-grams, blocked by `blockCol` (only
    * same-block pairs are compared — at scale the block is an LSH bucket or a
    * cheap partition key; a cross join is never formed).
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard) filtered to >= threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
                        n: Int = 1, threshold: Double = 0.8): DataFrame = {
    val gramArr = gramIndex(df, idCol, textCol, blockCol, n)
    // Two sets with Jaccard >= t share a gram inside both prefixes, so only
    // prefixes are exploded and joined: high-frequency grams stop generating
    // O(block²) candidate rows unless they land in a prefix. (Measured
    // alternative: carrying prefix arrays through the join and keeping only
    // the min-shared-prefix-gram row — "emit once, no distinct" — is 2×
    // SLOWER here: array_intersect allocates a per-row hash set on every
    // collision row, while distinct() pays one narrow shuffle of id pairs.)
    val pref = prefixGrams(gramArr, threshold)
    val l = pref.select(col("block"), col("gh"), col("id").as("id_a"))
    val r = pref.select(col("block"), col("gh"), col("id").as("id_b"))
    val cand = l.join(r, Seq("block", "gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifiedIntersections(cand, gramArr, "jaccard", col("inter").cast("double") /
      (col("size_a") + col("size_b") - col("inter")).cast("double"), threshold)
  }

  /** One-sided CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold —
    * catches a short doc embedded in a longer one (quote farms, page-plus-
    * boilerplate wrappers), which symmetric Jaccard misses because the union
    * term punishes the size gap. Same blocked, hashed-gram machinery as
    * [[ngramJaccardPairs]]; the prefix filter is ASYMMETRIC: only the smaller
    * set's prefix bounds the pair (containment is measured against it), while
    * the containing side cannot prune (its bound would depend on the unknown
    * partner size), so one side explodes prefixes and the other all grams.
    * Output: (id_a, id_b, inter, size_a, size_b, containment) with id_a < id_b. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, n: Int = 3,
                            threshold: Double = 0.8): DataFrame = {
    val gramArr = gramIndex(df, idCol, textCol, blockCol, n)
    val pref = prefixGrams(gramArr, threshold)
    // (smaller-set prefix) × (any doc's full gram list); only rows where the
    // prefix side IS the smaller (or equal) doc can witness a qualifying pair,
    // so the size guard halves the candidate volume with zero recall loss.
    val cand = pref.select(col("block"), col("gh"), col("id").as("id_pref"),
        col("sz").as("sz_pref"))
      .join(gramArr.select(col("block"), explode(col("harr")).as("gh"),
        col("id").as("id_other"), col("sz").as("sz_other")), Seq("block", "gh"))
      .filter(col("id_pref") =!= col("id_other") &&
        col("sz_pref") <= col("sz_other"))
      .select(least(col("id_pref"), col("id_other")).as("id_a"),
        greatest(col("id_pref"), col("id_other")).as("id_b"))
      .distinct()
    verifiedIntersections(cand, gramArr, "containment", col("inter").cast("double") /
      least(col("size_a"), col("size_b")).cast("double"), threshold)
  }

  // ── cluster resolution ─────────────────────────────────────────────────────

  /** Connected components over an undirected candidate-pair graph
    * (`id_a`, `id_b`) — the step that turns any of the pair generators above
    * into dedup CLUSTERS ("keep one doc per duplicate group"). Returns
    * (id, component) for every vertex in the pair set, component = min
    * reachable id.
    *
    * Two regimes, identical results:
    *   - pair sets up to `maxDriverEdges` (the common case — candidate pairs
    *     are near-dups, a sliver of the corpus) resolve with a driver-side
    *     union-find: one collect of id PAIRS (16 bytes each, never documents),
    *     the same bounded-small-side discipline as the HeavyHitters candidate
    *     collect;
    *   - larger graphs run distributed min-label propagation with path
    *     shortcutting — each round every vertex takes the min label in its
    *     neighborhood, then labels chase their own label's label (pointer
    *     halving), O(log n) rounds on chains; the classic MapReduce
    *     connected-components shape (Kiveris et al., "Connected Components in
    *     MapReduce and Beyond"). Each round is two equi-joins + one aggregate,
    *     lineage truncated per round with `localCheckpoint` (mandatory for
    *     iterative DataFrame loops); converges when a round changes no label,
    *     `maxIters` bounds pathological inputs. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
                          maxDriverEdges: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the pair set ONCE — candidate generation is the expensive
    // upstream (LSH joins); count, collect, and the iterative loop all reread
    // the checkpointed edges instead of recomputing it
    val p2 = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst")).distinct()
      .localCheckpoint(true)
    if (p2.count() <= maxDriverEdges) {
      // driver union-find (min root wins), path compression
      val es = p2.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
      }
      import spark.implicits._
      return parent.keys.toSeq.sorted.map(v => (v, find(v))).toDF("id", "component")
    }
    val edges = p2
      .unionByName(p2.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      iters += 1
      // 1. neighborhood min
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("dst_comp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("dst_comp")).as("nbr_min"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
      // 2. pointer halving: follow my label's label
      val next = stepped
        .join(stepped.select(col("id").as("component"), col("component").as("parent_comp")),
          Seq("component"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("parent_comp"), col("component"))).as("component"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("component", "prev"), Seq("id"))
        .filter(col("component") =!= col("prev"))
        .isEmpty
      labels = next
    }
    labels
  }

  /** Keep one canonical document per duplicate cluster: docs in the pair graph
    * survive only if they ARE their cluster's min id; docs in no pair survive
    * as their own singletons. Output: the canonical subset of `df`. */
  /** Canonical-member selection against an already-computed component frame —
    * the shared core of the two canonicalization variants below (takes `comp`
    * rather than `pairs` so a caller needing components twice computes them
    * once). Output keeps the `component` column. */
  private def canonicalsOf(df: DataFrame, idCol: String, comp: DataFrame): DataFrame =
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))

  def canonicalByCluster(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    canonicalsOf(df, idCol, connectedComponents(pairs)).drop("component")

  /** SOFT dedup — [[canonicalByCluster]] plus a `weight` column carrying the
    * duplicate-cluster size (1 for singletons): count-preserving dedup for
    * loss re-weighting ("this document was seen n times in the crawl"), the
    * middle ground between keeping duplicates (skews training) and discarding
    * multiplicity entirely (loses the popularity signal). Canonical = min-id
    * member, as everywhere in the dedup family. Weights come from a
    * component-keyed count — candidate-pair-sized, not corpus-sized. */
  def canonicalWithWeight(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs) // computed once, feeds both consumers
    val weights = comp.groupBy(col("component")).agg(count(lit(1)).as("_csize"))
    canonicalsOf(df, idCol, comp)
      .join(weights, Seq("component"), "left")
      .withColumn("weight", coalesce(col("_csize"), lit(1L)))
      .drop("component", "_csize")
  }
}
