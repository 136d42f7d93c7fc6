package graft.streaming

import java.sql.Timestamp

import graft.operators.DedupSuite.HammingBands
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.8).
  *
  * The reference has no true streams — its closest analog is the orchestrator's
  * 60-second poll loop over job-completion events
  * (`bulk_orchestrator_production_diskGuard.bash:299-452`). Here that becomes:
  *   - [[windowedCounts]] — the streaming twin of batch query q33 (event-time
  *     windows + watermark; same plan runs on `readStream` sources), and
  *   - [[projectStateMachine]] — the orchestrator's per-project status tracking as
  *     `flatMapGroupsWithState`: step completions arrive as events, state holds the
  *     per-project progress, transitions are emitted downstream (what the reference
  *     does with marker files + associative arrays, `:60-67,266-283`).
  *
  * Scale: state is partitioned by project id (thousands of keys, tiny payloads);
  * watermarked windows bound the state store; both run identically on a real
  * cluster with checkpointed exactly-once sinks.
  *
  * Streaming near-dup family: band keys and the within-`maxHamming` test come
  * from `DedupSuite.HammingBands`, the index kind check from
  * `MediaIndex.loadKind`; the in-window min-id election is
  * [[minIdBandElection]] and the stateless index probe is
  * [[saltedBandLookup]], each written once here. The video ingest's
  * containment verify stays a per-row function over two arrays (the batch
  * one is a join + aggregate) and shares only the band rule and
  * `Multimodal.requireMinOverlap`.
  */
object EventPipeline {

  /** Event-time windowed counts with late-data bound. Works on batch or
    * streaming frames with (ts: timestamp, event_type: string, value: double). */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-user sessionization with an inactivity gap — the streaming twin of
    * batch query q66. `session_window` merges each event's [ts, ts+gap) window
    * while they overlap; a session closes (and, in Append mode, emits) once the
    * watermark passes its end. State per live session only — bounded by the
    * watermark horizon, not by history. */
  def sessionCounts(events: DataFrame,
                    gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("total_value"))

  /** One step-completion event from a pipeline run. */
  final case class StepEvent(project: String, step: String, ok: Boolean, ts: Timestamp)

  /** Per-project progress (the orchestrator's associative arrays). */
  final case class ProjectProgress(project: String, completed: Seq[String],
                                   failed: Boolean)

  /** Emitted on every state change. `status` follows the orchestrator's lifecycle:
    * RUNNING → COMPLETE (all of step1, step2) or FAILED (any !ok). */
  final case class ProjectTransition(project: String, status: String,
                                     completed: Seq[String], at: Timestamp)

  val RequiredSteps: Seq[String] = Seq("step1", "step2")

  /** The orchestrator state machine. Use with
    * `events.groupByKey(_.project).flatMapGroupsWithState(...)(projectStateMachine)`. */
  def projectStateMachine(project: String, events: Iterator[StepEvent],
                          state: GroupState[ProjectProgress]): Iterator[ProjectTransition] = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    if (sorted.isEmpty) return Iterator.empty
    var cur = state.getOption.getOrElse(ProjectProgress(project, Nil, failed = false))
    val out = Seq.newBuilder[ProjectTransition]
    sorted.foreach { e =>
      if (!cur.failed) {
        cur =
          if (!e.ok) cur.copy(failed = true)
          else cur.copy(completed = (cur.completed :+ e.step).distinct)
        val status =
          if (cur.failed) "FAILED"
          else if (RequiredSteps.forall(cur.completed.contains)) "COMPLETE"
          else "RUNNING"
        out += ProjectTransition(project, status, cur.completed, e.ts)
      }
    }
    state.update(cur)
    out.result().iterator
  }

  /** Wire the state machine over a (possibly streaming) Dataset of events. */
  def trackProjects(events: Dataset[StepEvent]): Dataset[ProjectTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.project)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        projectStateMachine)
  }

  /** Streaming exact dedup for a document ingest stream: keep the first arrival
    * of each content digest (md5 of `textCol`), dropping re-deliveries that
    * arrive within the watermark. State is one digest per distinct document
    * BOUNDED by the watermark horizon (`dropDuplicatesWithinWatermark`), so the
    * store does not grow with total corpus size — the unbounded-state
    * alternative (`dropDuplicates` sans watermark) is exactly what a 100 TB
    * ingest cannot afford. The batch twin of this semantics is
    * [[graft.operators.DedupSuite.exact]]. */
  def streamingExactDedup(docs: DataFrame, textCol: String,
                          tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming URL frontier dedup — the crawl-ingest twin of
    * [[graft.operators.UrlDedup.dedupByCanonicalUrl]]: canonicalize in-scan
    * ([[graft.functions.TextFunctions.canonicalUrl]], pure column work), keep
    * the FIRST arrival per canonical URL within the watermark horizon. State
    * is one canonical key per live URL, bounded by the watermark — refetches
    * of the same page under tracking/fragment/case variants are dropped at
    * the frontier before any fetch/parse cost is paid downstream. */
  def streamingUrlDedup(docs: DataFrame, urlCol: String,
                        tsCol: String, watermark: String = "1 hour"): DataFrame = {
    import graft.functions.TextFunctions
    docs
      .withColumn("canonical_url", TextFunctions.canonicalUrl(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canonical_url")
  }

  /** Streaming decontamination — the streaming twin of
    * [[graft.operators.Decontamination.decontaminate]]: drop arriving docs that
    * share any word n-gram shingle with the STATIC eval set. The eval-set
    * shingles are collected once at query-build time (eval sets are benchmark-
    * sized — the same small-side discipline as the batch path's broadcast) and
    * checked per row with `arrays_overlap` — completely STATELESS: no
    * watermark, no state store, works in any output mode at any stream rate.
    * If the eval set ever outgrew a literal, the check becomes a stream-static
    * broadcast join on exploded grams — same shape, still stateless. */
  def streamingDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                             textCol: String, n: Int = 3): DataFrame = {
    import graft.operators.{Decontamination, DedupSuite}
    val evalSpark = evalDocs.sparkSession
    import evalSpark.implicits._
    val grams = Decontamination.evalGrams(evalDocs, textCol, n)
      .as[String].collect().toSeq
    DedupSuite.shingled(docs, docs.columns.toSeq.map(col), textCol, n)(g =>
        array_distinct(g).as("_grams"))
      .filter(!arrays_overlap(col("_grams"), typedlit(grams)))
      .drop("_grams")
  }

  /** Streaming twin of [[graft.operators.LineDedup.removeRepeatedLines]]'s
    * rewrite pass: strip a STATIC boilerplate-line set (mined from the
    * historical corpus by `LineDedup.repeatedLines`, refreshed out-of-band)
    * from every arriving document. The offending set is collected once at
    * query-build time and applied as a per-row HOF filter — STATELESS like
    * [[streamingDecontaminate]]: no watermark, no state store, any output
    * mode. Discovering NEW boilerplate needs corpus-wide counts, which is
    * inherently a batch job; the streaming path applies the latest mined set. */
  def streamingLineFilter(docs: DataFrame, textCol: String,
                          repeatedLines: Seq[String]): DataFrame = {
    // Same O(log B)-per-line membership as the batch twin: the set rides as a
    // sorted xxhash64 array (hashed with catalyst's own XxHash64Function — the
    // exact algorithm the in-plan xxhash64 call applies to each line), not as
    // a literal string array scanned linearly per line.
    val bad = repeatedLines.map { s =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType, 42L)
    }.toArray
    docs
      .withColumn("_lines", split(col(textCol), "\n"))
      .withColumn(textCol,
        array_join(filter(col("_lines"), l =>
          !graft.expressions.SortedLongSetContains.contains(xxhash64(l), bad)), "\n"))
      .drop("_lines")
  }

  /** One retained entry of a windowed grouped top-k — state per live
    * (window, group) is a ≤k list of these, nothing else. */
  final case class TopKEntry(id: Long, score: Double)
  private[streaming] final case class TopKState(entries: List[TopKEntry])

  /** Emitted once per (closed window, group, kept row). */
  final case class WindowGroupTopK(window_start: Timestamp, group: String,
                                   id: Long, score: Double, rank: Int)

  /** Per-(window, group) bounded top-k selection: merge the batch into the ≤k
    * kept entries (descending score, id tie-break — a TOTAL order, so the
    * boundary is deterministic), re-arm the event-time timeout at the window
    * end, and emit nothing until the watermark closes the window — then rank
    * and flush. State never exceeds k entries per live (window, group). */
  private[streaming] def topKStateMachine(k: Int)(
      key: (Long, Long, String),
      rows: Iterator[((Timestamp, Timestamp), String, Long, Double)],
      state: GroupState[TopKState]): Iterator[WindowGroupTopK] = {
    val (wsMs, weMs, group) = key
    if (state.hasTimedOut) {
      val entries = state.get.entries
      state.remove()
      entries.sortBy(e => (-e.score, e.id)).zipWithIndex.iterator.map {
        case (e, i) => WindowGroupTopK(new Timestamp(wsMs), group, e.id, e.score, i + 1)
      }
    } else {
      val prev = state.getOption.map(_.entries).getOrElse(Nil)
      val merged = (prev ++ rows.map(r => TopKEntry(r._3, r._4)))
        .sortBy(e => (-e.score, e.id)).take(k)
      state.update(TopKState(merged))
      // the window closes when the event-time watermark passes its end; the
      // max() guards the (late-but-allowed data) case where the end is already
      // behind the watermark — Spark rejects a timeout in the past
      state.setTimeoutTimestamp(math.max(weMs, state.getCurrentWatermarkMs() + 1))
      Iterator.empty
    }
  }

  /** Streaming twin of the [[graft.plans.GroupTopK]] bounded-heap operator —
    * the one batch operator family that had no streaming analog: top-k rows
    * per (event-time window, group) by score.
    *
    * On a STREAMING frame: `flatMapGroupsWithState` keyed by (window, group)
    * with an event-time timeout. State per live key is the ≤k best entries so
    * far (the same bounded-selection invariant as the batch operator's heaps —
    * nothing proportional to window row count is ever stored), and results
    * emit in Append mode exactly once, when the watermark closes the window.
    *
    * On a BATCH frame the same call routes through the batch operator itself
    * ([[graft.plans.GroupTopK.topK]] on (window_start, group), ranks assigned
    * over the ≤ groups×k survivors) — the twin identity the spec asserts and
    * q116 oracle-checks.
    *
    * Output: (window_start, group: string, id: long, score: double, rank 1..k)
    * ordered by (-score, id) within each (window, group). */
  def streamingGroupTopK(events: DataFrame, groupCol: String, idCol: String,
                         scoreCol: String, tsCol: String, k: Int,
                         windowLen: String = "10 minutes",
                         watermark: String = "1 hour"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val spark = events.sparkSession
    import spark.implicits._
    // keep the watermarked `window` STRUCT intact into groupByKey — the
    // watermark delay tag lives on that column's metadata, and projecting
    // `_w.start` would strip it, failing the event-time-timeout analysis check
    val windowed = events
      .withWatermark(tsCol, watermark)
      .select(window(col(tsCol), windowLen).as("_w"),
        col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("id"),
        col(scoreCol).cast("double").as("score"))
    if (events.isStreaming) {
      windowed.as[((Timestamp, Timestamp), String, Long, Double)]
        .groupByKey { case ((ws, we), g, _, _) => (ws.getTime, we.getTime, g) }
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(topKStateMachine(k))
        .toDF()
    } else {
      val kept = graft.plans.GroupTopK.topK(
        windowed.select(col("_w.start").as("window_start"),
          col("group"), col("id"), col("score")),
        Seq("window_start", "group"), Seq(("score", false), ("id", true)), k)
      // ranking runs over at most groups × k survivors — the full-corpus sort
      // the operator exists to avoid never happens
      kept.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start"), col("group"))
          .orderBy(col("score").desc, col("id"))).cast("int"))
    }
  }

  /** Streaming Gopher repetition gate — the [[graft.operators
    * .RepetitionStats.repetitionFilter]] thresholds applied to an ARRIVING
    * document stream. Every signal is a pure per-row column expression over
    * the document's own text (the batch operator's defining property), so
    * the identical plan runs on a stream COMPLETELY STATELESS: no watermark,
    * no state store, any output mode, verdict-identical to the batch gate
    * (spec-pinned across micro-batches). */
  def streamingRepetitionFilter(docs: DataFrame, textCol: String = "text",
      th: graft.operators.RepetitionStats.RepetitionThresholds =
        graft.operators.RepetitionStats.RepetitionThresholds(),
      topN: Int = 2, dupN: Int = 5): DataFrame =
    graft.operators.RepetitionStats.repetitionFilter(docs, textCol, th, topN, dupN)

  /** Streaming MEDIA ingest dedup — the [[streamingNearDupDedup]] shape for
    * an arriving audio stream, near-dup'd against the PERSISTED fingerprint
    * index ([[graft.operators.MediaIndex]], the q161 batch twin) plus
    * watermark-bounded in-window banding for same-window duplicates:
    *
    *   1. hash in-scan: each arriving clip decodes ONCE to its 64-bit energy
    *      fingerprint ([[graft.operators.Multimodal.audioFingerprintOf]]) —
    *      payload bytes never survive past this projection;
    *   2. index check, STATELESS ([[saltedBandLookup]]): each probe row
    *      looks up its maxHamming+1 band keys in the committed index's
    *      bucket table via stream-static left joins — a clip drops iff any
    *      bucket holds an index fingerprint within `maxHamming` (the
    *      q153/q161 near-dup criterion; the exact-L1 report stays a batch
    *      concern);
    *   3. in-window banding ([[minIdBandElection]]): min-id winner per
    *      (window, band segment), survive iff all bands won — same-window
    *      re-encodes and nudges collapse to the minimum id, emitted when
    *      the watermark closes the window.
    *
    * Recall contract (inherited): in-window banding only pairs clips within
    * one `windowLen` of each other; the index catches everything CATALOGED
    * regardless of arrival time. State: one id per live band bucket.
    * Output: (window_start, media_id) of surviving clips.
    *
    * Crawl catalog loop: the committed index is SNAPSHOTTED at query start
    * (the band bucket table materializes once, not per micro-batch) —
    * appending accepted survivors (`appendToAudioIndex`, under the writer
    * lease) becomes visible at the next query (re)start, the normal crawl
    * cadence; spec-pinned. */
  def streamingAudioIngestDedup(media: DataFrame, indexPath: String,
                                tsCol: String, watermark: String = "1 hour",
                                windowLen: String = "10 minutes",
                                maxHamming: Int = 3,
                                maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    import graft.operators.{MediaIndex, Multimodal}
    val bands = HammingBands(64, maxHamming)
    val spark = media.sparkSession
    import spark.implicits._
    val idx = MediaIndex.loadKind(spark, indexPath, "streamingAudioIngestDedup",
      Multimodal.AudioIndexKind)
    val hashed = media.select(col("media_id"), col(tsCol).as("_ts"), col("payload"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions(_.map { case (id, ts, payload) =>
        (id, ts, Multimodal.audioFingerprintOf(id, payload))
      }).toDF("media_id", "_ts", "fp")
    scalarFpIngestDedup(hashed, idx.fingerprints, watermark, windowLen, bands, maxBucket)
  }

  /** Streaming IMAGE ingest dedup — [[streamingAudioIngestDedup]]'s shape
    * for an arriving image stream: each image decodes ONCE in-scan to its
    * 64-bit perceptual hash (the hash FAMILY — ahash or dhash — comes from
    * the index meta, so probes always hash the way the catalog was built),
    * drops statelessly if any band bucket of the persisted [[graft.operators
    * .MediaIndex]] holds a fingerprint within `maxHamming` (q164's
    * near-dup criterion; the exact-L1 report stays a batch concern), then
    * runs the watermark-bounded in-window band election for same-window
    * duplicates. Output: (window_start, media_id) of surviving images. */
  def streamingImageIngestDedup(media: DataFrame, indexPath: String,
                                tsCol: String, watermark: String = "1 hour",
                                windowLen: String = "10 minutes",
                                maxHamming: Int = 3,
                                maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    import graft.operators.Multimodal
    val bands = HammingBands(64, maxHamming)
    val spark = media.sparkSession
    import spark.implicits._
    val (idx, hashKind) = Multimodal.loadImageIndex(spark, indexPath,
      "streamingImageIngestDedup")
    val hashed = media.select(col("media_id"), col(tsCol).as("_ts"), col("payload"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition init
        it.map { case (id, ts, payload) =>
          (id, ts, Multimodal.imageFingerprintOf(id, payload, hashKind))
        }
      }.toDF("media_id", "_ts", "fp")
    scalarFpIngestDedup(hashed, idx.fingerprints, watermark, windowLen, bands, maxBucket)
  }

  /** Per-row candidate cap for the streaming twins' static band-bucket
    * tables: a bucket whose (deduped) candidate list tops this splits into
    * salt sub-buckets, so one degenerate band key — a fingerprint shared by
    * a large catalog slice — can never balloon a single row's array past
    * executor comfort. 4096 64-bit payloads ≈ 32 KB per row. */
  val DefaultMaxBandBucket: Int = 4096

  /** Salt-split band buckets to a hard per-row bound: `exploded` carries one
    * row per (band `_bidx`, key `_bkey`, candidate `_pay`); output groups
    * them into (`_bidx`, `_bkey`, `_salt`, `_cands` array) rows of at most
    * `maxBucket` candidates each, with `nSalt` = how many sub-buckets the
    * HOTTEST bucket needed (1 = healthy catalog, zero plan change). Salting
    * is LOSSLESS — every candidate lands in exactly one sub-bucket
    * (row_number round-robin, deterministic `_pay` order), the probe side
    * simply joins all `nSalt` slots — and LOUD: hot buckets are counted and
    * reported on stderr, not silently truncated. The sizing pass and the
    * window sort run ONCE on the static (batch) index side at query start. */
  private def saltedBandBuckets(exploded: DataFrame, maxBucket: Int,
                                what: String): (Int, DataFrame) = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val sizes = exploded.groupBy(col("_bidx"), col("_bkey"))
      .agg(count(lit(1)).as("_n"))
    val maxSize = sizes.agg(max(col("_n"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val nSalt = math.max(1L, (maxSize + maxBucket - 1) / maxBucket).toInt
    if (nSalt > 1) {
      val hot = sizes.filter(col("_n") > maxBucket).count()
      System.err.println(s"[graft] $what band index: $hot hot bucket(s) over " +
        s"maxBucket=$maxBucket (largest $maxSize) — salting into $nSalt " +
        "sub-buckets per key; lossless, arrays stay bounded")
    }
    val salted =
      if (nSalt == 1) exploded.withColumn("_salt", lit(0))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_bidx"), col("_bkey")).orderBy(col("_pay"))
        exploded.withColumn("_salt", pmod(row_number().over(w) - 1, lit(nSalt)))
      }
    (nSalt, salted.groupBy(col("_bidx"), col("_bkey"), col("_salt"))
      .agg(collect_list(col("_pay")).as("_cands")))
  }

  /** The one salted stream-static band lookup of the streaming media
    * ingests: the static `catalog` (a frame with an `fp` column) explodes to
    * one row per band segment carrying `payload`, groups into salt-split
    * per-(band, key) candidate arrays ([[saltedBandBuckets]], materialized
    * once at query start, not per micro-batch), and each `probes` row looks
    * up its band keys with one stateless left join per (band, salt)
    * sub-bucket. Each join is 1:1 on the unique (band, key, salt) key, so a
    * probe stays ONE ROW (no stateful re-aggregation) with every candidate
    * array bounded; nSalt is 1 for healthy catalogs — the plan is then
    * exactly the unsalted one. Returns the joined probes and the candidate
    * array columns (null where a band key has no bucket). */
  private def saltedBandLookup(probes: DataFrame, catalog: DataFrame, payload: Column,
                               bands: HammingBands,
                               maxBucket: Int, what: String): (DataFrame, Seq[Column]) = {
    val exploded = catalog.select(payload.as("_pay"),
      posexplode(bands.keys(col("fp"))).as(Seq("_bidx", "_bkey")))
    val (nSalt, buckets0) = saltedBandBuckets(exploded, maxBucket, what)
    val buckets = buckets0.localCheckpoint()
    val slots = for { b <- 0 until bands.bands; s <- 0 until nSalt } yield (b, s)
    val joined = slots.foldLeft(probes) { case (acc, (b, s)) =>
      acc.join(buckets.filter(col("_bidx") === b && col("_salt") === s)
        .select(col("_bkey").as(s"_k${b}_$s"), col("_cands").as(s"_c${b}_$s")),
        bands.segOf(col("fp"), b) === col(s"_k${b}_$s"), "left_outer")
    }
    (joined, slots.map { case (b, s) => col(s"_c${b}_$s") })
  }

  /** The shared scalar-fingerprint ingest-dedup chain behind the audio and
    * image streaming twins: a [[saltedBandLookup]] against the persisted
    * index (drop iff any bucket holds a catalog fingerprint within
    * `maxHamming`), then the [[minIdBandElection]] for same-window
    * duplicates.
    *
    * Recall contract: in-window banding only pairs items within one
    * `windowLen` of each other; the index catches everything CATALOGED
    * regardless of arrival time. State: one id per live band bucket. */
  private def scalarFpIngestDedup(hashed: DataFrame, idxFps: DataFrame,
                                  watermark: String, windowLen: String,
                                  bands: HammingBands,
                                  maxBucket: Int): DataFrame = {
    // the catalog fingerprints DEDUP first (a degenerate catalog slice
    // sharing one fingerprint — all-black frames, silence — is one set
    // entry as far as the within-maxHamming verdict cares)
    val (joined, cands) = saltedBandLookup(hashed, idxFps.select(col("fp")).distinct(),
      col("fp"), bands, maxBucket, "scalar-fp")
    val idxHit = cands.map(c =>
      coalesce(exists(c, f => bands.within(f, col("fp"))), lit(false))).reduce(_ || _)
    val clean = joined.filter(!idxHit).select(col("media_id"), col("_ts"), col("fp"))
    minIdBandElection(clean.select(col("media_id"), col("_ts"),
      posexplode(bands.keys(col("fp"))).as(Seq("band_idx", "band_key"))),
      "media_id", "_ts", watermark, windowLen, bands.bands)
  }

  /** Streaming VIDEO ingest dedup — the modality-completing twin: each
    * arriving clip demuxes ONCE in-scan to its sorted DISTINCT frame-aHash
    * array ([[graft.operators.Multimodal.videoFrameFingerprintsOf]] —
    * payload bytes never survive the projection), then:
    *
    *   1. index check, STATELESS and pinned to q163's batch arithmetic
    *      ([[graft.operators.Multimodal.videoNearDupAgainstIndex]]): frame-
    *      level band lookups against the persisted frame-hash index find
    *      every candidate catalog clip with a frame within `maxHamming`
    *      (pigeonhole — no recall loss), and the per-(probe, candidate)
    *      directional containment verify runs per ROW over the two frame
    *      arrays (the probe carries its own; the candidate's rides a
    *      stream-static join) — a clip drops iff any catalog pair reaches
    *      `minOverlap` on max(m_a/n_a, m_b/n_b), the exact batch criterion;
    *   2. in-window election: surviving clips group by (window, frame-SET
    *      signature) and collapse to the min id — same-window exact copies
    *      and lossless re-encodes (identical distinct-frame-hash sets)
    *      dedup; same-window NEAR-dups are out of contract (catalog each
    *      accepted batch via appendToVideoIndex and the index catches them
    *      next window).
    *
    * Zero-frame payloads drop (nothing to fingerprint or verify). Output:
    * (window_start, media_id) of surviving clips. */
  def streamingVideoIngestDedup(media: DataFrame, indexPath: String,
                                tsCol: String, watermark: String = "1 hour",
                                windowLen: String = "10 minutes",
                                every: Int = 1, maxHamming: Int = 3,
                                minOverlap: Double = 0.5,
                                maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    import graft.operators.{MediaIndex, Multimodal}
    val bands = HammingBands(64, maxHamming)
    Multimodal.requireMinOverlap(minOverlap)
    val spark = media.sparkSession
    import spark.implicits._
    val idx = MediaIndex.loadKind(spark, indexPath, "streamingVideoIngestDedup",
      Multimodal.VideoIndexKind)
    // static verify side: per-clip distinct frame arrays
    val idxClips = idx.fingerprints
      .groupBy(col("media_id").as("id_b"))
      .agg(collect_list(col("fp")).as("_fps_b"))
      .localCheckpoint()
    val hashed = media.select(col("media_id"), col(tsCol).as("_ts"), col("payload"))
      .as[(Long, Timestamp, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition init
        it.map { case (id, ts, payload) =>
          (id, ts, Multimodal.videoFrameFingerprintsOf(id, payload, every))
        }
      }.toDF("media_id", "_ts", "fps")
    // frame-level band probes; every frame row keeps the clip's full array
    // so the verify below is a per-row HOF, not another aggregation. The
    // static candidate buckets carry (id_b, fp) per catalog FRAME — salt-split
    // so a degenerate frame hash shared by a large catalog slice
    // (all-black frames) cannot balloon one bucket row past `maxBucket`
    val frames = hashed.select(col("media_id"), col("_ts"), col("fps"),
      explode(col("fps")).as("fp"))
    val (withCands, cands) = saltedBandLookup(frames, idx.fingerprints,
      struct(col("media_id").as("id_b"), col("fp")), bands, maxBucket, "video-frame")
    // candidate catalog clips for THIS frame: ids whose bucketed frame is
    // within maxHamming (null band joins drop out of the flatten)
    val perBand = cands.map(c => transform(
      filter(c, st => bands.within(st.getField("fp"), col("fp"))), st => st.getField("id_b")))
    val candIds = array_distinct(flatten(
      filter(array(perBand: _*), a => a.isNotNull)))
    // pair-level dedup FIRST (the batch twin's cand.distinct() discipline):
    // a re-encode band-matches its catalog clip on EVERY frame, so verifying
    // per (frame, candidate) row would run the O(|fps_a|·|fps_b|) containment
    // |fps_a| redundant times — aggregate to one row per (window, clip,
    // candidate) before the verify joins the catalog arrays in
    val pairs = withCands
      .select(col("media_id"), col("_ts"), col("fps"),
        xxhash64(col("fps")).as("_sig"), explode_outer(candIds).as("id_b"))
      .withWatermark("_ts", watermark)
      .groupBy(window(col("_ts"), windowLen), col("media_id"), col("_sig"),
        col("id_b"))
      .agg(first(col("fps")).as("fps"))
      .join(idxClips, Seq("id_b"), "left_outer")
    // per-pair containment verify, q163's exact arithmetic: m/n per side
    // over the two distinct frame-hash arrays, IEEE divisions, greatest
    // (candidate-less clips ride the null-id_b row with overlap 0)
    val mA = size(filter(col("fps"), fa => exists(col("_fps_b"), fb => bands.within(fa, fb))))
    val mB = size(filter(col("_fps_b"), fb => exists(col("fps"), fa => bands.within(fa, fb))))
    val overlap = when(col("id_b").isNull, lit(0.0)).otherwise(
      greatest(mA.cast("double") / size(col("fps")).cast("double"),
        mB.cast("double") / size(col("_fps_b")).cast("double")))
    // survivors: no catalog pair reached minOverlap; then the in-window
    // frame-SET election (sorted distinct array ⇒ hash equality iff set
    // equality). Three chained stateful aggs over one event-time window.
    pairs
      .select(col("window"), col("media_id"), col("_sig"), overlap.as("_ov"))
      .groupBy(col("window"), col("media_id"), col("_sig"))
      .agg(max(col("_ov")).as("_mx"))
      .filter(col("_mx") < minOverlap)
      .groupBy(col("window"), col("_sig"))
      .agg(min(col("media_id")).as("winner"))
      .select(col("window.start").as("window_start"), col("winner").as("media_id"))
  }

  /** Streaming BPE encode — [[graft.operators.BpeTrainer.encodeToIds]]
    * applied to an ARRIVING document stream: the trained merges + vocabulary
    * ride the [[graft.expressions.BpeApply]] codegen reference object, the
    * encode is a pure scan-side projection (no shuffle, no state, any
    * output mode), so the identical plan runs on a stream and is
    * token-identical to the batch encode (spec-pinned across
    * micro-batches). Train on the accumulated BATCH corpus; encode the
    * stream. */
  def streamingBpeEncode(docs: DataFrame, textCol: String,
                         merges: DataFrame, vocabDf: DataFrame,
                         byteLevel: Boolean = false): DataFrame =
    graft.operators.BpeTrainer.encodeToIds(docs, textCol, merges, vocabDf,
      byteLevel = byteLevel)

  /** Streaming unigram-LM encode — [[graft.operators.UnigramLm
    * .encodeUnigramToIds]] on an ARRIVING stream: the trained model
    * broadcasts, the per-partition Viterbi (with its Zipf segmentation
    * memo) is a stateless mapPartitions — verdict-identical to the batch
    * encode (spec-pinned across micro-batches). */
  def streamingUnigramEncode(docs: DataFrame, idCol: String, textCol: String,
                             model: DataFrame, maxPieceLen: Int = 4): DataFrame =
    graft.operators.UnigramLm.encodeUnigramToIds(docs, idCol, textCol,
      model, maxPieceLen)

  /** Streaming NEAR-dup ingest dedup — the streaming twin of
    * `DedupSuite.incrementalDedup`, with each event-time window as the
    * dedup scope. Two chained stateful windowed aggregations (Append mode):
    *
    *   1. each doc's MinHash band keys (computed per-row with the pure
    *      column-fold signature — no mid-stream aggregate, unlike the batch
    *      path's staged groupBy) explode to (band_idx, band_key) rows;
    *   2. [[minIdBandElection]] keeps the docs that won ALL `bands` of their
    *      keys. Survivors emit as (window_start, doc id).
    *
    * The min-id winner makes same-batch (and same-window) near-dup clusters
    * safe; an arbitrary-order first-seen dedup
    * (`dropDuplicatesWithinWatermark`) could instead split a cluster's bands
    * across two same-batch arrivals and drop EVERY copy.
    *
    * Recall contract: near-dups are only detected within one `windowLen`
    * window of each other; a copy arriving in a later window is kept. (The
    * watermark bounds state and lateness, as everywhere else.) */
  def streamingNearDupDedup(docs: DataFrame, idCol: String, textCol: String,
                            tsCol: String, watermark: String = "1 hour",
                            windowLen: String = "10 minutes",
                            shingleSize: Int = 3, numHashes: Int = 8,
                            bands: Int = 4): DataFrame = {
    import graft.operators.DedupSuite
    val banded = DedupSuite.shingled(docs, Seq(col(idCol), col(tsCol)), textCol,
        shingleSize)(g => DedupSuite.lshBands(
        DedupSuite.minHashSignature(g, numHashes), numHashes, bands).as("bnd"))
      .select(col(idCol), col(tsCol), posexplode(col("bnd"))
        .as(Seq("band_idx", "band_key")))
    minIdBandElection(banded, idCol, tsCol, watermark, windowLen, bands)
  }

  /** The one in-window min-id band election of the streaming near-dup
    * family ([[streamingNearDupDedup]] and the audio/image ingests): over
    * (idCol, tsCol, band_idx, band_key) rows, a windowed aggregation elects
    * a DETERMINISTIC winner per band key — the minimum id seen in the
    * window; bounded state (one id per live band key), finalized when the
    * watermark closes the window — then a second windowed count keeps the
    * ids that won ALL `bands` of their keys. Output (window_start, idCol).
    *
    * Within a window, every band bucket of a near-dup cluster's minimum-id
    * item holds only ids >= it, so that item wins all its bands and
    * survives — the batch twin's min-id canonical
    * (`DedupSuite.canonicalByCluster`). */
  private def minIdBandElection(banded: DataFrame, idCol: String, tsCol: String,
                                watermark: String, windowLen: String,
                                bands: Int): DataFrame =
    banded
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("band_idx"), col("band_key"))
      .agg(min(col(idCol)).as("winner"))
      .groupBy(col("window"), col("winner"))
      .agg(count(lit(1)).as("n_won"))
      .filter(col("n_won") === bands)
      .select(col("window.start").as("window_start"), col("winner").as(idCol))
}
