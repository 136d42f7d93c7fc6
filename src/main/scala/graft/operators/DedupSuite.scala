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
  */
object DedupSuite {

  // ── exact ──────────────────────────────────────────────────────────────────

  /** Exact dedup: group by content digest, keep the minimum id as canonical.
    * Output: (digest, canonical_id, n_dups). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  // ── MinHash + LSH ──────────────────────────────────────────────────────────

  /** Seeded shingle hash used by the MinHash signature. `md5` keeps the oracle
    * SQL-expressible; swap for an xxhash64-based fn in production for speed. */
  def md5SeededHash(shingle: Column, seed: Int): Column =
    md5(concat(lit(s"$seed:"), shingle))

  /** Seeded 32-bit shingle hash family from ONE md5 (Broder's 2-universal
    * construction): h_i = (a + i·b) mod 2³², where a/b are the digest's first
    * two big-endian 32-bit hex words ([[md5Word]]). One md5 per shingle instead
    * of `numHashes` — the independence across i is the standard pairwise
    * guarantee, which is what MinHash sketches assume. DuckDB-expressible. */
  def md5AffineHash(shingle: Column, seed: Int): Column = {
    val d = md5(shingle)
    (md5Word(d, 0) + lit(seed.toLong) * md5Word(d, 1)) % lit(4294967296L)
  }

  /** Per-row MinHash signature: array of `numHashes` minima over the document's
    * shingles under the [[md5AffineHash]] family. Shingles are md5'd ONCE (inner
    * transform); the per-seed passes reread the staged digests. No shuffle. */
  def minHashSignature(shingles: Column, numHashes: Int): Column = {
    val digests = transform(shingles, s => md5(s))
    array((0 until numHashes).map(i => array_min(transform(digests, d =>
      (md5Word(d, 0) + lit(i.toLong) * md5Word(d, 1)) % lit(4294967296L)))): _*)
  }

  /** LSH banding: split the signature into `bands` equal groups; band key = md5 of
    * the concatenated group. Docs sharing ANY band key become candidate pairs. */
  def lshBands(signature: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, s"numHashes $numHashes not divisible by bands $bands")
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r => element_at(signature, b * rows + r + 1)): _*))
    }: _*)
  }

  /** Candidate near-duplicate pairs via MinHash LSH over word shingles.
    * Output: (id_a, id_b) with id_a < id_b, distinct.
    *
    * Shape: explode shingles → hash-aggregate `numHashes` minima per doc (map-side
    * partial agg; shuffles only (id, shingle-hash) bytes) → band keys from the
    * signature attributes → equi-join on (band_idx, band_key). The per-row-HOF
    * alternative re-evaluates the tokenizer inside every lambda element
    * (interpreted, O(shingles × tokens) per seed per row) — measurably pathological
    * even at 5k docs, hence the explicit staging here. */
  /** Exploded LSH band keys per document: (id, bnd, band_idx, band_key), where
    * `bnd` is the full band-key array (carried so joins can do first-matching-band
    * emission). This is the INDEX side of incremental dedup — at scale it is
    * computed once per corpus and persisted, then each new batch joins against it.
    *
    * One md5 per shingle, staged into its two 32-bit words BEFORE the aggregate
    * (an md5 inside each min() would be re-evaluated once per seed — common
    * subexpression elimination does not span aggregate buffers); the seeded
    * minima are then integer affine maps of the staged words. */
  def minHashBandKeys(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, s"numHashes $numHashes not divisible by bands $bands")
    val rows = numHashes / bands
    // widen first: tokenize + shingle + per-shingle md5 is the heavy per-row
    // leg, and a single-row-group corpus file plans as a 1-task scan
    val sh = Spread.widen(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(TextFunctions.wordShinglesOf(col("toks"), shingleSize)).as("s"))
      .select(col("id"), md5(col("s")).as("d"))
      .select(col("id"), md5Word(col("d"), 0).as("a"), md5Word(col("d"), 1).as("b"))
    val aggs = (0 until numHashes).map(i =>
      min((col("a") + lit(i.toLong) * col("b")) % lit(4294967296L)).as(s"h$i"))
    val sig = sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    // Band key: 8-byte xxhash64 of the band's signature slice. Only band-key
    // EQUALITY matters (keys never reach the output), so this produces the same
    // pair set as the oracle's md5-hex band keys while shuffling 8 bytes/band
    // instead of 32-char strings and skipping an md5+concat per band.
    val bandArr = array((0 until bands).map { b =>
      xxhash64((0 until rows).map(r => col(s"h${b * rows + r}")): _*)
    }: _*)
    sig.select(col("id"), bandArr.as("bnd"), posexplode(bandArr))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
  }

  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame =
    pairsFromBandKeys(
      minHashBandKeys(df, idCol, textCol, shingleSize, numHashes, bands), bands)

  /** Candidate pairs from a PRECOMPUTED [[minHashBandKeys]] frame — split out so
    * callers holding a persisted or checkpointed index don't recompute
    * signatures ([[incrementalDedup]], or a 100 TB corpus index read from
    * parquet).
    *
    * Carries the whole band-key array through the join (bands×8 bytes/row) so a
    * pair colliding in k bands can be emitted from its FIRST matching band only:
    * `band_idx = b` survives iff bands 0..b-1 differ. Each pair then appears
    * exactly once and the output needs NO distinct() — at scale that removes a
    * full shuffle of the candidate set (candidates >> output). */
  def pairsFromBandKeys(banded: DataFrame, bands: Int): DataFrame = {
    val l = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_a"), col("bnd").as("bnd_a"))
    val r = banded.select(col("band_idx"), col("band_key"),
      col("id").as("id_b"), col("bnd").as("bnd_b"))
    val firstBandOnly = (0 until bands).map { b =>
      (col("band_idx") === b) && (0 until b)
        .map(p => element_at(col("bnd_a"), p + 1) =!= element_at(col("bnd_b"), p + 1))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
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

  /** Hamming distance between two equal-length '0'/'1' fingerprint strings. */
  def hammingStr(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(substring(a, i + 1, 1) === substring(b, i + 1, 1), 0L).otherwise(1L))
      .reduce(_ + _)

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

  /** SimHash fingerprints as '0'/'1' strings (human-readable form).
    * Same values as the per-row [[simHash]] fold: bit set ⇔ 2·count_b > n. */
  def simHashFingerprints(df: DataFrame, idCol: String, textCol: String,
                          bits: Int): DataFrame =
    simHashLaneSums(df, idCol, textCol, bits)
      .select(col("id"), concat((0 until bits).map(b =>
        when(laneCount(b) * 2 > col("n"), "1").otherwise("0")): _*).as("fp"))

  /** SimHash fingerprints packed into a long, MSB-first so bit (bits-1-b) set ⇔
    * string form has '1' at position b — hamming distances are identical to
    * [[hammingStr]] over the string form but cost one xor+popcount instead of
    * 2×bits substring compares per pair. Requires bits <= 64 (bit 0 of a
    * 64-bit fingerprint lands on the sign bit; OR-combining keeps that safe). */
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

  /** Hamming-banded candidate pairs over an EXISTING packed fingerprint column
    * — the blocking core of [[simHashPairs]], factored out so any 64-bit-or-
    * less fingerprint family (SimHash, image aHash/dHash) shares one
    * pigeonhole path: hamming <= maxHamming pairs agree on at least one of
    * maxHamming+1 segments, so the band join finds every qualifying pair with
    * NO all-pairs comparison; verification is one xor+popcount per candidate.
    * Input `fps`: one row per item, (idCol, fpCol). Output (id_a, id_b,
    * hamming), each qualifying pair exactly once. */
  def hammingBandedPairs(fps: DataFrame, idCol: String, fpCol: String,
                         bits: Int = 64, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bits $bits not divisible by bands $bands")
    val seg = bits / bands
    val segMask = if (seg == 64) -1L else (1L << seg) - 1
    def segOf(fp: Column, b: Int): Column =
      shiftrightunsigned(fp, (bands - 1 - b) * seg).bitwiseAND(lit(segMask))
    val fp = fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val banded = fp.select(col("id"), col("fp"), posexplode(
      array((0 until bands).map(segOf(col("fp"), _)): _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_key")
    val l = banded.select(col("block_idx"), col("block_key"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val r = banded.select(col("block_idx"), col("block_key"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    // First-matching-band emission (segments recomputed from the carried fp):
    // block b survives iff blocks 0..b-1 differ, so each qualifying pair is
    // emitted exactly once and no distinct() shuffle is needed.
    val firstBlockOnly = (0 until bands).map { b =>
      (col("block_idx") === b) && (0 until b)
        .map(p => segOf(col("fp_a"), p) =!= segOf(col("fp_b"), p))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    l.join(r, Seq("block_idx", "block_key"))
      .filter(col("id_a") < col("id_b") && firstBlockOnly)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[hammingBandedPairs]] across TWO fingerprint frames — the probe-vs-
    * index shape ([[MediaIndex]]'s near-dup-against-index, incremental media
    * ingest): every (left item, right item) pair within `maxHamming` agrees
    * on at least one of maxHamming+1 segments, found with NO all-pairs
    * comparison and no `id_a < id_b` canonicalization (the sides are
    * distinct id spaces — the append contract keeps probe ids disjoint from
    * indexed ids). First-matching-band emission as in the self-join form,
    * so no distinct() shuffle. Output (id_a from left, id_b from right,
    * hamming). */
  def hammingBandedPairsAcross(left: DataFrame, right: DataFrame,
                               idCol: String, fpCol: String,
                               bits: Int = 64, maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(bits % bands == 0, s"bits $bits not divisible by bands $bands")
    val seg = bits / bands
    val segMask = if (seg == 64) -1L else (1L << seg) - 1
    def segOf(fp: Column, b: Int): Column =
      shiftrightunsigned(fp, (bands - 1 - b) * seg).bitwiseAND(lit(segMask))
    def banded(df: DataFrame, ida: String, fpa: String) = df
      .select(col(idCol).as(ida), col(fpCol).as(fpa))
      .select(col(ida), col(fpa), posexplode(
        array((0 until bands).map(segOf(col(fpa), _)): _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_key")
    val firstBlockOnly = (0 until bands).map { b =>
      (col("block_idx") === b) && (0 until b)
        .map(p => segOf(col("fp_a"), p) =!= segOf(col("fp_b"), p))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    banded(left, "id_a", "fp_a")
      .join(banded(right, "id_b", "fp_b"), Seq("block_idx", "block_key"))
      .filter(firstBlockOnly)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ── n-gram Jaccard ─────────────────────────────────────────────────────────

  /** Verify candidate id pairs against the materialized gram index: attach both
    * docs' sorted hash arrays and the exact `inter` count. Shared tail of
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]] (they differ only in
    * the score computed from `inter`/`size_a`/`size_b`).
    *
    * The naive `cand ⋈ gramArr ⋈ gramArr` shuffles the FULL gram index — the
    * corpus's arrays, the widest frame in the whole pipeline — twice, even
    * when only a sliver of docs appears in any candidate pair (the common
    * web-corpus case: near-dups are rare). When that sliver is small, the
    * gram index is pruned IN-SCAN with a bloom filter over the candidate id
    * set before each join (no false negatives, so pruned-join ≡ join — the
    * same q97 identity [[BloomJoin]] rests on; false positives only cost a
    * little pruning efficiency), and the verify shuffles carry candidate-doc
    * arrays only.
    *
    * The regime is chosen DRIVER-SIDE from actual counts, not assumed: below
    * `pruneMinDocs` docs the plain two-join tail runs untouched (zero added
    * jobs at oracle scale); above it, one exact distinct-id count over the
    * materialized candidate pairs measures selectivity, and the prune engages
    * only when candidate docs cover less than a quarter of the corpus —
    * measured on a dense near-dup corpus (×100 synthetic, candidate ids ≈
    * every doc) the unconditional prune DOUBLED q45 (26 → 50 s: two 8 MB
    * bloom literals in every task binary, extra driver jobs, ~zero rows
    * pruned), while on sparse corpora it removes the dominant shuffle
    * entirely. Results are byte-identical on every path (spec-pinned). */
  private def verifiedIntersections(cand: DataFrame, gramArr: DataFrame,
                                    pruneMinDocs: Long,
                                    finish: DataFrame => DataFrame = identity)
  : DataFrame = {
    import graft.expressions.BloomFilters
    val spark = cand.sparkSession
    val conf = spark.conf
    // Session-conf override for the docs gate — the A/B experimentation knob
    // (set it above the corpus size to force the plain two-join tail, e.g. to
    // measure the prune's win on a sparse corpus). Results are identical on
    // every path, so this only moves the regime choice.
    val minDocs = conf.getOption("graft.verifyPruneMinDocs").map(_.toLong)
      .getOrElse(pruneMinDocs)
    // Coverage bound for the prune gate (default: engage below 1/4 coverage,
    // the measured break-even). The second A/B knob: 0 disables the prune
    // while KEEPING the dense-branch machinery, so "no prune under a capped
    // disk budget" (segmented passes over the full gram index) is measurable
    // against "prune, unsegmented" on the same sparse corpus — the knob
    // verifyPruneMinDocs cannot express (it short-circuits to the plain
    // unbudgeted two-join before the regime logic).
    val covMax = conf.getOption("graft.verifyPruneCoverageMax").map(_.toDouble)
      .getOrElse(0.25)
    def join3(c: DataFrame, ga: DataFrame, gb: DataFrame): DataFrame =
      c.join(ga.select(col("id").as("id_a"), col("harr").as("harr_a"),
          col("sz").as("size_a")), Seq("id_a"))
        .join(gb.select(col("id").as("id_b"), col("harr").as("harr_b"),
          col("sz").as("size_b")), Seq("id_b"))
        .withColumn("inter",
          graft.expressions.NativeArr.sortedIntersectSize(col("harr_a"), col("harr_b")))
    // ~16 bits/key at the candidate-id cardinality, clamped to [1 MB, 16 MB]
    def bloomBits(nKeys: Long): Int = math.min(1L << 27, math.max(1L << 23,
      java.lang.Long.highestOneBit(math.max(1L, nKeys * 16)) << 1)).toInt
    // `gram` defaults to the outer (possibly unmaterialized) index; the
    // segmented branch passes its DISK_ONLY checkpoint instead — filtering
    // the outer frame there would recompute the full scan+tokenize+shingle
    // gram pipeline twice per pass, defeating the reason the checkpoint
    // exists on exactly the ×1000 corpora that branch targets.
    def prunedBy(c: DataFrame, numBits: Int, side: String,
                 gram: DataFrame = gramArr): DataFrame = {
      val bytes = c
        .agg(BloomFilters.bloomAgg(xxhash64(col(side)), numBits, 5).as("bf"))
        .collect()(0).getAs[Array[Byte]](0)
      gram.filter(BloomFilters.mightContain(lit(bytes), xxhash64(col("id"))))
    }
    // One count job only: gramArr may or may not be materialized (the
    // shape-dependent maybeMaterializeGrams default skips the checkpoint for
    // n=1 grams), so a second count() could re-run the whole
    // scan+tokenize+hash pipeline — compute docsN once and reuse it for both
    // the gate and the coverage ratio.
    val docsN = gramArr.count()
    if (docsN < minDocs) finish(join3(cand, gramArr, gramArr))
    else {
      // candidate pairs are consumed up to four times on this path (distinct-id
      // count, two bloom aggregates, the verify join) — materialize once;
      // pair-count sized (ids only), far narrower than the gram index.
      // DISK_ONLY: above the gate the pair set can reach 10⁸–10⁹ rows (dense
      // ×1000 measured 6.1×10⁸), and the default MEMORY_AND_DISK put competes
      // with the distinct's execution memory for the same unified pool — the
      // r8 dense leg OOM'd a 48g heap exactly there. Sequential disk re-reads
      // of 16-byte pairs are cheap; heap is the scarce resource.
      val c2 = cand.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val dIds = c2.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct().count()
      val engaged = dIds.toDouble < covMax * docsN
      // The regime choice is driver-side state that never appears in a plan or
      // result; record it so scale-leg logs carry the decision as evidence.
      // Locale.ROOT: "%.4f" under a comma-decimal locale would break the
      // scale-leg log scrapers that grep this line.
      System.err.println(s"[graft.dedup] verify-prune gate: docs=$docsN " +
        s"candidateDocs=$dIds coverage=${String.format(java.util.Locale.ROOT,
          "%.4f", Double.box(dIds.toDouble / docsN))} " +
        s"engaged=$engaged")
      if (engaged)
        finish(join3(c2, prunedBy(c2, bloomBits(dIds), "id_a"),
          prunedBy(c2, bloomBits(dIds), "id_b")))
      else {
        // DENSE regime: candidate docs cover the corpus, so the bloom prune
        // cannot shrink the verify joins — on a one-box ×1000 dense corpus
        // the verify stages spill past local disk (~185 GB extrapolated vs
        // 75 GB available, the round-7 open cell). SEGMENTED verify bounds
        // peak disk instead: split the pair set into K disjoint hash slices
        // and run the verify join per slice as its own eagerly-materialized
        // pass. The term that actually scales with K is the dominant one —
        // the pair×gram-array join intermediate (each pair carries a full
        // sorted hash array between the two joins, 2·pairs·meanGram bytes;
        // the verifySegmentCount estimate is exactly this term) — while the
        // two gram-index shuffles repeat per pass at full size (bounded: the
        // index is corpus-sized, not pair-sized). On low-degree corpora a
        // slice can also be doc-sparse; the per-slice bloom prune re-arms
        // under the SAME coverage gate as the global one (on high-degree
        // dense corpora every doc lands in ~every slice, and skipping the
        // prune avoids its measured 16 MB-filter-per-task overhead).
        // `finish` (the caller's threshold filter) runs inside the pass, so
        // only surviving near-dup rows are checkpointed — pass results are
        // output-sized, not join-sized. Between passes an explicit GC lets
        // the ContextCleaner drop the finished pass's shuffle files, which
        // is what bounds peak disk. Results are byte-identical to the
        // unsegmented join (spec-pinned): the slices partition the pair set.
        val k = verifySegmentCount(conf, c2, gramArr, docsN)
        if (k <= 1) finish(join3(c2, gramArr, gramArr))
        else {
          System.err.println(s"[graft.dedup] segmented verify: k=$k")
          // The gram index feeds 2k pass subtrees — the recompute-vs-
          // materialize trade that favored recompute at 4 subtrees flips
          // decisively here. DISK_ONLY: ~250 B/doc of blocks vs heap.
          val gramM = gramArr.localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
          val passes = (0 until k).map { i =>
            // Deterministic per-pass reclaim — the r8 dense leg died of disk
            // exhaustion at pass 12/18 relying on GC-triggered ContextCleaner
            // waves alone (async; lagged the pass rate). Run the pass under a
            // tracked-shuffle scope (job-group listener ∩ registration
            // delta — so a concurrent query's live shuffle can never land in
            // the reclaim set), eagerly checkpoint its (output-sized)
            // result, then synchronously delete exactly the shuffles this
            // pass created: once `out` is materialized nothing can re-read
            // them (cs/gramM are checkpointed blocks, not shuffles, and each
            // pass is its own execution — no cross-pass exchange reuse).
            val (out, passShuffles) =
              ColumnBridge.withTrackedShuffles(spark, s"verify-pass-$i") {
                val cs = c2.filter(
                  pmod(xxhash64(col("id_a"), col("id_b")), lit(k)) === i)
                  .localCheckpoint(true,
                    org.apache.spark.storage.StorageLevel.DISK_ONLY)
                val csIds = cs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
                  .distinct().count()
                val slicePrune = csIds.toDouble < covMax * docsN
                val (ga, gb) = if (slicePrune) {
                  val nb = bloomBits(csIds)
                  (prunedBy(cs, nb, "id_a", gramM), prunedBy(cs, nb, "id_b", gramM))
                } else (gramM, gramM)
                System.err.println(s"[graft.dedup] segmented verify pass $i/$k: " +
                  s"sliceDocs=$csIds prune=$slicePrune")
                // DISK_ONLY: pass results are retained until the final union is
                // consumed, and on an adversarially dense corpus "output-sized"
                // is join-sized (nearly every candidate pair survives the
                // threshold — measured 4.4 GB/pass × 18 passes at dense ×1000,
                // itself a disk wall). Serialized disk blocks honor
                // spark.rdd.compress (the scale legs set it), cutting the
                // retained bytes ~3×; the default deserialized level would also
                // compete with the join stages for the 48g heap.
                val o = finish(join3(cs, ga, gb)).localCheckpoint(true,
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
      }
    }
  }

  /** Segment count for the dense-regime verify: conf `graft.verifySegments`
    * forces a value (1 disables); otherwise the estimated bytes entering the
    * two verify joins (2 · pairs · mean gram bytes) are divided by the
    * executor-disk budget `graft.verifyDiskBudgetBytes` (default 24 GiB —
    * comfortably under this box's 75 GB free, leaving room for the pass's own
    * sort spill). Small pair sets (<1M) never segment: the estimate itself
    * would cost more than the join. The mean-size aggregate is one extra pass
    * over the gram index — accepted only here, where the alternative is a
    * disk-wall abort. */
  private def verifySegmentCount(conf: org.apache.spark.sql.RuntimeConfig,
                                 c2: DataFrame, gramArr: DataFrame,
                                 docsN: Long): Int =
    conf.getOption("graft.verifySegments").map(_.toInt).getOrElse {
      val candN = c2.count()
      if (candN < 1000000L) 1
      else {
        val budget = conf.getOption("graft.verifyDiskBudgetBytes").map(_.toLong)
          .getOrElse(24L << 30)
        val meanSz = gramArr.agg(avg(col("sz"))).collect()(0).getDouble(0)
        val estBytes = 2.0 * candN * meanSz * 8.0
        val k = math.min(64L, math.ceil(estBytes / budget).toLong).toInt
        // Logged for k=1 too: a leg that stays unsegmented should still show
        // the gate saw it (est under budget), not that the gate never ran.
        System.err.println(String.format(java.util.Locale.ROOT,
          "[graft.dedup] segmented verify estimate: pairs=%d meanGramSz=%.1f estBytes=%.2e budget=%d -> k=%d",
          Long.box(candN), Double.box(meanSz), Double.box(estBytes),
          Long.box(budget), Int.box(k)))
        math.max(1, k)
      }
    }

  /** Docs-count gate below which the verify tail never even measures
    * candidate selectivity: the corpus' gram index shuffles fine as-is and
    * the extra count jobs would be pure overhead. Above it, selectivity
    * decides (see [[verifiedIntersections]]). */
  private val VerifyPruneMinDocs = 200000L

  /** Gram-index materialization policy: localCheckpoint once, or recompute
    * the gram pipeline per consuming subtree. SHAPE-DEPENDENT, measured at
    * 5M docs (r7_gmat_{mat,nomat}.json): for n=1 grams (xxhash64 of the
    * token itself — ~6 s for the whole corpus, commit f571be4) the block-store
    * write path costs more than four recomputes, and skipping it wins 1.4×
    * (241 → 171 s); for n≥2 shingles (per-shingle string concat before the
    * hash) recompute loses 4.4× (304 → 1,337 s). Callers pass the
    * shape-derived default (`n > 1`); `graft.gramIndexMaterialize` overrides
    * both ways for A/B. Results are identical on every path.
    *
    * SCALE-AWARE refinement (r8): the n=1 recompute win only exists when the
    * checkpoint blocks are big enough for the block-store write to dominate —
    * at oracle scale the same default cost q45 ~1.3× (r8 vs r6 series: four
    * recomputes of a pipeline whose checkpoint would have been ~15 MB).
    * Below [[SmallCorpusBytes]] of optimizer-estimated input the checkpoint
    * is always taken; the estimate comes from Catalyst plan stats (driver
    * metadata, zero jobs — for a parquet scan this is the COMPRESSED file
    * size, so the bound is deliberately conservative: the 5M-doc corpus where
    * recompute won measures ~890 MB of parquet). */
  private def maybeMaterializeGrams(df: DataFrame, default: Boolean): DataFrame =
    if (df.sparkSession.conf.getOption("graft.gramIndexMaterialize")
        .map(_.toBoolean).getOrElse(default)) df.localCheckpoint(true)
    else df

  /** Input-size bound (Catalyst `sizeInBytes` estimate) below which the gram
    * index is checkpointed regardless of gram shape: the r7 5M-doc corpora
    * where n=1 recompute won were multi-GB; sf0.1-class corpora are tens of
    * MB and the checkpoint is strictly cheaper there. */
  private val SmallCorpusBytes = BigInt(256L << 20)

  private def isSmallCorpus(df: DataFrame): Boolean =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes < SmallCorpusBytes
    catch { case scala.util.control.NonFatal(_) => false }

  /** The gram index shared by [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: (id, block, harr, sz) where `harr` is the
    * sorted array of distinct xxhash64 gram hashes. Grams are carried as
    * 8-byte hashes, never strings: shuffle rows stay narrow and set
    * intersection compares longs. A cross-doc hash collision would need two
    * DIFFERENT grams of the same block to collide in 64 bits (~n²/2⁶⁵) —
    * negligible at any corpus size this targets, and it only perturbs one
    * `inter` count by 1. Materialization is shape- and scale-dependent — see
    * [[maybeMaterializeGrams]]; extracting the builder keeps that policy in
    * ONE place so a change cannot half-land across the two callers. */
  private def gramIndex(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int): DataFrame =
    Spread.widen(df.select(col(idCol), col(blockCol), col(textCol)))
    .select(col(idCol).as("id"), col(blockCol).as("block"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    .select(col("id"), col("block"),
      array_sort(array_distinct(transform(
        if (n == 1) col("toks")
        else TextFunctions.wordShinglesOf(col("toks"), n), g => xxhash64(g)))).as("harr"))
    .withColumn("sz", size(col("harr")).cast("long"))
    .transform(maybeMaterializeGrams(_, default = n > 1 || isSmallCorpus(df)))

  /** Jaccard similarity over distinct word n-grams, blocked by `blockCol` (only
    * same-block pairs are compared — at scale the block is an LSH bucket or a
    * cheap partition key; a cross join is never formed).
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard) filtered to >= threshold. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
                        n: Int = 1, threshold: Double = 0.8,
                        verifyPruneMinDocs: Long = VerifyPruneMinDocs): DataFrame = {
    // The gram index feeds four subtrees (two candidate sides, two
    // verification joins); whether to MATERIALIZE it once or recompute per
    // subtree is shape-dependent — see maybeMaterializeGrams for the 5M-doc
    // measurements (n=1 token-hash grams: recompute wins; n≥2 shingles:
    // materialize wins 4.4×). At full corpus scale persist the frame to
    // storage instead (the incrementalDedup pattern).
    val gramArr = gramIndex(df, idCol, textCol, blockCol, n)
    // PPJoin-style prefix filter (exact, no false negatives): under ANY global
    // gram order — here the hash order itself, so no frequency pass is needed —
    // two sets with Jaccard >= t must share a gram inside their first
    // (|A| - ceil(t·|A|) + 1) grams. Only prefixes are exploded and joined, so
    // high-frequency grams stop generating O(block²) candidate rows unless they
    // land in a prefix; the full co-occurrence groupBy disappears entirely.
    // (Measured alternative: carrying prefix arrays through the join and keeping
    // only the min-shared-prefix-gram row — "emit once, no distinct" — is 2×
    // SLOWER here: array_intersect allocates a per-row hash set on every
    // collision row, while distinct() pays one narrow shuffle of id pairs.)
    val pref = gramArr.select(col("id"), col("block"),
      explode(slice(col("harr"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))).as("gh"))
    val l = pref.select(col("block"), col("gh"), col("id").as("id_a"))
    val r = pref.select(col("block"), col("gh"), col("id").as("id_b"))
    val cand = l.join(r, Seq("block", "gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // Verify candidates per-row: |A∩B| via sorted-array intersection —
    // candidates are few (near-dups + prefix collisions), so the per-pair set
    // intersection replaces a shuffle of every co-occurrence row; above the
    // docs gate the gram index is bloom-pruned to candidate ids first.
    // the metric filter travels INTO the verify as `finish` so the segmented
    // path materializes only surviving rows, never raw join output
    verifiedIntersections(cand, gramArr, verifyPruneMinDocs, _
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold))
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        col("jaccard"))
  }

  /** One-sided CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) >= threshold —
    * catches a short doc embedded in a longer one (quote farms, page-plus-
    * boilerplate wrappers), which symmetric Jaccard misses because the union
    * term punishes the size gap. Same blocked, hashed-gram machinery as
    * [[ngramJaccardPairs]]; the prefix filter is ASYMMETRIC: only the
    * candidate's own size bounds its prefix (containment is measured against
    * the smaller set, and the smaller set must share a gram within its first
    * |S| − ceil(t·|S|) + 1 sorted grams — pigeonhole), while the containing
    * side cannot prune (its bound would depend on the unknown partner size),
    * so one side explodes prefixes and the other explodes all grams. Output:
    * (id_a, id_b, inter, size_a, size_b, containment) with id_a < id_b. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            blockCol: String, n: Int = 3,
                            threshold: Double = 0.8,
                            verifyPruneMinDocs: Long = VerifyPruneMinDocs): DataFrame = {
    // same four-subtree gram index as ngramJaccardPairs; the default n=3
    // shingle shape materializes (measured 7.9 s → 1.2 s at sf0.1, and 4.4×
    // at 5M docs — see maybeMaterializeGrams)
    val gramArr = gramIndex(df, idCol, textCol, blockCol, n)
    val pref = gramArr.select(col("id"), col("block"), col("sz"),
      explode(slice(col("harr"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int"))).as("gh"))
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
    verifiedIntersections(cand, gramArr, verifyPruneMinDocs, _
      .withColumn("containment",
        col("inter").cast("double") / least(col("size_a"), col("size_b")).cast("double"))
      .filter(col("containment") >= threshold))
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        col("containment"))
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
