package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the composition every 100 TB text
  * pipeline runs before tokenization:
  *
  *   1. quality gate ([[TextFunctions.qualityScore]] ≥ threshold),
  *   2. language filter ([[TextFunctions.langIdEn]]),
  *   3. near-duplicate removal: MinHash-LSH candidate pairs over the SURVIVORS
  *      ([[DedupSuite.minHashLshPairs]]) resolved into clusters
  *      ([[DedupSuite.connectedComponents]]), keeping each cluster's min-id
  *      document ([[DedupSuite.canonicalByCluster]]).
  *
  * Scale shape: steps 1–2 are scan-side column predicates (zero shuffle, and
  * they shrink the corpus BEFORE the dedup shuffles — filter-first ordering is
  * the point); step 3 shuffles only (id, band) pairs and id-pair edges.
  */
object CurationPipeline {

  /** CCNet-style LM quality gate config ([[NgramLm.oovBigramRate]]): keep
    * documents whose OOV-bigram rate against the TRAINED count table
    * `bigrams` (a (w1, w2, c) frame, typically [[NgramLm.bigramCounts]] over
    * trusted text) is at most `maxOovRate`; a bigram counts OOV below
    * `minCount`. Documents with no bigrams (0/1 tokens) score 0 and pass —
    * the length gates own degenerate docs. `maxOovRate` must be ≥ 0. */
  final case class LmFilter(bigrams: DataFrame, minCount: Long = 1L,
                            maxOovRate: Double = 0.5) {
    require(maxOovRate >= 0.0, s"maxOovRate must be >= 0, got $maxOovRate")
  }

  /** Unigram-LM perplexity gate config ([[UnigramLm.bitSurprisal]]): keep
    * documents whose average per-token INTEGER BIT-SURPRISAL under the
    * trained `model` (a (piece, cnt) frame, [[UnigramLm.trainUnigram]] over
    * trusted text) is at most `maxAvgBits` — the oracle-exact stand-in for
    * the CCNet per-token NLL gate (base-2 floor quantization instead of
    * libm `ln`; see bitSurprisal's scaladoc). Documents with no tokens
    * score 0 and pass — the length gates own degenerate docs. */
  final case class UnigramNllFilter(model: DataFrame, maxPieceLen: Int = 4,
                                    maxAvgBits: Double = 8.0,
                                    byteLevel: Boolean = false)

  /** Kneser–Ney trigram perplexity gate config ([[NgramLm.knTrigramBits]]):
    * keep documents whose average per-trigram integer bit-surprisal under
    * the interpolated-KN model over the trained `trigrams` count table
    * ([[NgramLm.trigramCounts]] over trusted text) is at most `maxAvgBits`
    * — the closest oracle-exact analog of CCNet's smoothed-KenLM gate.
    * Documents with no trigrams (<3 tokens) score 0 and pass — the length
    * gates own degenerate docs. `maxAvgBits` must be ≥ 0. */
  final case class KnFilter(trigrams: DataFrame, maxAvgBits: Double = 8.0) {
    require(maxAvgBits >= 0.0, s"maxAvgBits must be >= 0, got $maxAvgBits")
  }

  /** Diversity-stage config ([[Sampling.diversitySample]]): `embeddings`
    * carries ONE row per document keyed by the SAME id column the pipeline
    * uses, with the vector in `vecCol`; each Voronoi cell of `centroids`
    * keeps at most `perCell` deterministic survivors. Documents with no
    * embedding row are dropped by the stage (no vector — no cell). */
  final case class DiversitySpec(embeddings: DataFrame, vecCol: String,
                                 centroids: Seq[Seq[Double]], perCell: Int)

  /** Curate `docs`: returns the kept subset (same schema as the input).
    * Optional `repetitionGate` adds the Gopher repetition thresholds
    * ([[RepetitionStats.repetitionFilter]]) to the scan-side predicates —
    * still zero-shuffle, same stage as quality/language. Optional `lmFilter`
    * inserts the CCNet bigram-LM gate between the scan-side predicates and
    * the LSH dedup shuffles — the count-table joins are vocabulary-sized
    * (AQE broadcasts them), so the corpus shrinks again BEFORE the only
    * expensive stage. Precondition: `idCol` is non-null (the LM gates are
    * id-keyed joins; see the anti-join note below). */
  def curate(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             minQuality: Double = 0.5,
             shingleSize: Int = 3, numHashes: Int = 8, bands: Int = 4,
             lmFilter: Option[LmFilter] = None,
             unigramFilter: Option[UnigramNllFilter] = None,
             knFilter: Option[KnFilter] = None,
             repetitionGate: Option[RepetitionStats.RepetitionThresholds] = None): DataFrame = {
    // NO repartition at the head: the quality/langid gates are scan-side
    // column predicates that shrink the corpus BEFORE any shuffle
    // (filter-first is the point of the stage order) — a head repartition
    // would round-robin the FULL text payload ahead of the filters (measured
    // a 1.3-1.8x pessimization in r16).
    val gated0 = docs.filter(
      TextFunctions.qualityScore(col(textCol)) >= minQuality &&
        TextFunctions.langIdEn(col(textCol)) === "en")
    val gated = repetitionGate.fold(gated0)(th =>
      RepetitionStats.repetitionFilter(gated0, textCol, th))
    // Gate via the FAILING-id complement (anti-join): a doc with no bigrams
    // scores rate 0.0 and can never fail the (non-negative) threshold, so the
    // failing set needs no 0/1-token restore join — one full pass over the
    // gated corpus fewer per curate call, and the anti-join's build side is
    // the (small) failure set instead of the survivor set. Exact row
    // complement of the keep-side filter (same IEEE division, same per-id
    // pooling) PROVIDED `idCol` is non-null: a NULL-id doc never equi-matches
    // the failing set, so it survives the anti-join.
    val filtered0 = lmFilter.fold(gated) { lf =>
      gated.join(
        NgramLm.oovFailingIds(gated, idCol, textCol, lf.bigrams,
          lf.minCount, lf.maxOovRate),
        Seq(idCol), "left_anti")
    }
    // unigram-NLL gate: one broadcast-model scan over the survivors (the
    // bitSurprisal frame is per-doc-sized, so the semi-join stays cheap) —
    // like the bigram gate, it shrinks the corpus BEFORE the LSH shuffles
    val filtered1 = unigramFilter.fold(filtered0) { uf =>
      filtered0.join(
        UnigramLm.bitSurprisal(filtered0, idCol, textCol, uf.model,
            uf.maxPieceLen, uf.byteLevel)
          .filter(col("avg_bits") <= uf.maxAvgBits)
          .select(col(idCol)),
        Seq(idCol), "left_semi")
    }
    // Kneser–Ney gate: the count-table joins are vocabulary-sized (AQE
    // broadcasts them), the score frame per-doc-sized — same stage shape
    // and the same shrink-before-LSH ordering as the other LM gates.
    // Same failing-id anti-join shape (and non-null `idCol` precondition) as
    // the bigram gate above: <3-token docs score avg 0.0 and never fail the
    // threshold, so the restore join (a full corpus pass) drops out.
    val filteredLazy = knFilter.fold(filtered1) { kf =>
      filtered1.join(
        NgramLm.knTrigramFailingIds(filtered1, idCol, textCol, kf.trigrams,
          kf.maxAvgBits),
        Seq(idCol), "left_anti")
    }
    // The survivor frame feeds BOTH dedup subtrees (LSH pairs + canonicals):
    // left lazy, each reference re-runs every LM scoring pass above. With any
    // LM gate engaged, materialize the surviving ID SET once (ids only —
    // 8 bytes/doc, never the corpus) and rebuild the survivors as the
    // scan-side-gated corpus semi-joined to it: the scoring join tree runs
    // exactly once, downstream passes pay one cheap id semi-join instead.
    // Exact-equivalence argument: every LM gate is already an id-keyed
    // semi-join (scores aggregate per id), so gated ⋉ ids ≡ the gate chain
    // row-for-row — including duplicate-id inputs, which pool per id in both
    // shapes.
    // Scale note: the id set is survivor-count-sized (8 bytes/doc, unbounded
    // by doc COUNT) — localCheckpoint blocks are MEMORY_AND_DISK, so at 10⁹+
    // survivors the executors spill it to local disk rather than OOM; ~8 GB
    // of block-store per 10⁹ docs is the audit number.
    val filtered =
      if (lmFilter.isEmpty && unigramFilter.isEmpty && knFilter.isEmpty) filteredLazy
      else {
        val keptIds = filteredLazy.select(col(idCol)).localCheckpoint(true)
        gated.join(keptIds, Seq(idCol), "left_semi")
      }
    val pairs = DedupSuite
      .minHashLshPairs(filtered, idCol, textCol, shingleSize, numHashes, bands)
      .select(col("id_a"), col("id_b"))
    DedupSuite.canonicalByCluster(filtered, idCol, pairs)
  }

  /** The FULL training-data prep composition, corpus in → sharded parquet out:
    *
    *  -1. (optional, `htmlInput`) markup-to-text extraction
    *      ([[HtmlExtract.extract]]) — crawled pages arrive as HTML; tag strip,
    *      entity decode and the C4 line rules run scan-side before anything
    *      else, and pages with no surviving line drop here,
    *   0. (optional) C4-style boilerplate-line removal
    *      ([[LineDedup.removeRepeatedLines]], `lineDedupMaxDocs`) — run FIRST,
    *      as in C4: repeated nav/footer lines would otherwise drag quality
    *      scores and manufacture false near-dup pairs downstream; docs
    *      emptied by the strip are dropped,
    *   1. [[curate]] (quality gate → language filter → optional CCNet
    *      bigram-LM gate via `lmFilter` → near-dup canonicals),
    *   2. benchmark decontamination against `evalDocs`
    *      ([[Decontamination.decontaminate]] — broadcast eval shingles),
    *  2b. (optional, `diversity`) Voronoi density flattening over the
    *      survivors' embeddings ([[Sampling.diversitySample]] — at most
    *      `perCell` docs per embedding-space cell),
    *   3. PII redaction in-scan ([[TextFunctions.redactPii]]),
    *   4. chunking to context windows ([[Chunker.chunkByTokens]]),
    *   5. deterministic shard assignment ([[TextFunctions.hashBucket]] on the
    *      doc id — chunks of one doc co-shard for sequence packing) and a
    *      partitioned, record-capped parquet write
    *      ([[graft.io.Sinks.writePartitionedParquet]]).
    *
    * Stage ORDER is the scale argument: the line strip, scan-side filters and
    * the broadcast decontamination shrink the corpus before the only expensive
    * shuffles (LSH dedup); redaction and chunking are zero-shuffle column
    * work on survivors; the final write is the only wide output. Returns the
    * chunk frame it wrote.
    *
    * `zorderBy` (empty = the plain hash layout) lists chunk-frame columns to
    * Z-ORDER cluster the shards on ([[Layout.zValue]] within each shard
    * before the record-capped file roll): a mixture-sampling training scan
    * (per-source + length-band predicates) then prunes files/row groups on
    * ALL listed dimensions instead of reading whole shards. Input columns
    * named here (e.g. `source`) ride [[Chunker.chunkByTokens]]'s explode
    * onto every chunk; string dimensions are hash-bucketed, numeric ones
    * clamp-bucketed, 10 bits each. Same shuffle count as the hash layout —
    * the clustering sort is task-local. `passthroughCols` carries input
    * columns onto the chunks WITHOUT clustering on them (metadata a training
    * reader filters or weights by). */
  def curateForTraining(docs: DataFrame, evalDocs: DataFrame, outPath: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        minQuality: Double = 0.5, decontaminationGrams: Int = 3,
                        chunkSize: Int = 256, stride: Int = 192,
                        numShards: Int = 16,
                        lineDedupMaxDocs: Option[Int] = None,
                        zorderBy: Seq[String] = Nil,
                        passthroughCols: Seq[String] = Nil,
                        maxRecordsPerFile: Long = 5000000L,
                        htmlInput: Boolean = false,
                        lmFilter: Option[LmFilter] = None,
                        unigramFilter: Option[UnigramNllFilter] = None,
                        knFilter: Option[KnFilter] = None,
                        diversity: Option[DiversitySpec] = None,
                        repetitionGate: Option[RepetitionStats.RepetitionThresholds] = None): DataFrame = {
    val passthrough = (zorderBy ++ passthroughCols).distinct
      .filter(docs.columns.contains)
      .filterNot(Seq(idCol, textCol).contains)
    // optional stage 0: the corpus arrives as crawled MARKUP — strip it to
    // C4-rule text first (scan-side; pages with no surviving line drop here
    // rather than limping through the quality gate as empty strings)
    val textual =
      if (!htmlInput) docs
      else HtmlExtract.extract(docs, idCol, textCol, keepCols = passthrough)
        .filter(col("text") =!= "")
        .select(col(idCol) +: col("text").as(textCol) +: passthrough.map(col): _*)
    val cleaned = lineDedupMaxDocs.fold(textual) { maxDocs =>
      LineDedup.removeRepeatedLines(textual, idCol, textCol, maxDocs)
        .filter(col("clean_text") =!= "")
        .select(col(idCol) +: col("clean_text").as(textCol) +:
          passthrough.map(col): _*)
    }
    val kept = Decontamination.decontaminate(
      curate(cleaned, idCol, textCol, minQuality = minQuality,
        lmFilter = lmFilter, unigramFilter = unigramFilter,
        knFilter = knFilter, repetitionGate = repetitionGate),
      evalDocs, idCol, textCol, decontaminationGrams)
    // optional diversity stage (SemDeDup's density-flattening complement):
    // scope the embedding frame to the survivors FIRST (semi-join — vectors
    // of dropped docs never reach the cell assignment), Voronoi-cap per
    // cell, keep the sampled ids
    val diversified = diversity.fold(kept) { d =>
      val scoped = d.embeddings.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
      val sampled = Sampling.diversitySample(scoped, d.vecCol, idCol,
        d.centroids, d.perCell)
      kept.join(sampled.select(col(idCol)), Seq(idCol), "left_semi")
    }
    val redacted = diversified.withColumn(textCol, TextFunctions.redactPii(col(textCol)))
    val chunks = Chunker.chunkByTokens(redacted, idCol, textCol, chunkSize, stride,
        keepCols = passthrough)
      .withColumn("shard", TextFunctions.hashBucket(col(idCol), numShards))
    if (zorderBy.isEmpty)
      graft.io.Sinks.writePartitionedParquet(chunks, outPath, Seq("shard"),
        maxRecordsPerFile)
    else {
      val missing = zorderBy.filterNot(chunks.columns.contains)
      require(missing.isEmpty,
        s"zorderBy columns $missing exist neither on the input docs nor the chunk frame")
      val bits = 10
      val dims = zorderBy.map { c =>
        chunks.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            TextFunctions.hashBucket(col(c), 1 << bits)
          case _ => Layout.bucket(col(c), bits)
        }
      }
      graft.io.Sinks.writePartitionedParquetClustered(
        chunks, outPath, Seq("shard"), Layout.zValue(dims, bits),
        maxRecordsPerFile)
    }
    chunks
  }

  /** Curation survival report: per-stage kept counts (one pass per stage). */
  def report(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
             minQuality: Double = 0.5): DataFrame = {
    import docs.sparkSession.implicits._
    val total = docs.count()
    val q = docs.filter(TextFunctions.qualityScore(col(textCol)) >= minQuality)
    val nQ = q.count()
    val l = q.filter(TextFunctions.langIdEn(col(textCol)) === "en")
    val nL = l.count()
    val nFinal = curate(docs, idCol, textCol, minQuality).count()
    Seq(
      ("input", total),
      ("quality_gate", nQ),
      ("language_filter", nL),
      ("near_dup_canonical", nFinal)).toDF("stage", "n_docs")
  }
}
