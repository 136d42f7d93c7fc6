package graft.io

import java.io.StringWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.StandardOpenOption.CREATE_NEW
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Writers for the reference's text output contracts (SURVEY §2.1 S9–S11, §7.4-1).
  *
  * The reference publishes small, single-file, header-first TSV reports atomically
  * (`pSTARQC_v1.sh:46,99` tmp + mv). The four single-file sinks ([[writeTsvReport]],
  * [[writeMatrix]], [[writeBed]], [[writeJsonl]]) share one publish path:
  *
  *   - the frame is computed as one final partition ([[ColumnBridge.inOneTask]]):
  *     a root global sort (`df.orderBy(...)`, how callers ask for a row order)
  *     becomes a task-local sort over it, so no range-partition sample job and no
  *     sort exchange run. The publish adds ONE Spark job, whose last stage is one
  *     task, to whatever exchanges the caller's plan already holds; a frame that
  *     ends in an aggregation (a pivoted matrix) adds one more exchange and job,
  *     into that partition, so the aggregation's final merge is not run by the
  *     one task.
  *   - that partition's lines stream to the driver (`toLocalIterator`) into a
  *     uniquely named `<out>.<uuid>.tmp` beside the target (missing parent
  *     directories are created), which is then `ATOMIC_MOVE`d over the target. If
  *     the job or the write fails, the staged file is deleted and an existing
  *     target is left untouched.
  *
  * Bounds: the single partition reaches the driver as one task result, so one
  * serialized copy of the file is held there at a time and must fit under
  * `spark.driver.maxResultSize`; and `<out>` must be a driver-local path (the
  * publish is java.nio). Both suit report-shaped artifacts — reports, per-project
  * matrices, per-sample BEDs. `coalesce(1)` is confined to these FINAL sinks, never
  * mid-pipeline (SURVEY §7.4-6).
  * Big data (matrices at corpus scale, coverage bins) goes to partitioned parquet
  * via [[writePartitionedParquet]] instead.
  */
object Sinks {

  /** S9 — atomic single-file TSV report: tab sep, header row, nulls rendered as the
    * reference's `NA` sentinel. Rows are `to_csv` and the header is the CSV
    * generator's own header line, so quoting (tabs, quotes, newlines, edge
    * whitespace) is byte-for-byte what Spark's CSV writer produces. */
  def writeTsvReport(df: DataFrame, outFile: String, nullValue: String = "NA"): Unit = {
    val options = Map("sep" -> "\t", "nullValue" -> nullValue, "emptyValue" -> "")
    val header = new StringWriter()
    val gen = new UnivocityGenerator(
      StructType(df.columns.map(StructField(_, StringType))), header,
      new CSVOptions(options, false, df.sparkSession.conf.get("spark.sql.session.timeZone")))
    gen.writeHeaders()
    gen.close()
    publish(df, outFile, to_csv(allColumns(df), options.asJava), header.toString)
  }

  /** S10 — RSEM matrix text contract (`rsem-generate-data-matrix:76-89`):
    * header `Symbol<TAB>"<source1>"…` (sources quoted, `Symbol` not), data rows
    * `"<feature-id>"<TAB>v1…` with raw value passthrough. */
  def writeMatrix(matrix: DataFrame, outFile: String, idHeader: String = "Symbol"): Unit = {
    val sources = matrix.columns.filterNot(_ == idHeader)
    val header = (idHeader +: sources.map(s => "\"" + s + "\"")).mkString("\t")
    val line = concat_ws("\t",
      concat(lit("\""), col(idHeader), lit("\"")) +:
        sources.map(s => col(s"`$s`").cast("string")).toIndexedSeq: _*)
    publish(matrix, outFile, line, header + "\n")
  }

  /** S12 — BED sink: genome-position-sorted single text file (bgzip/tabix indexing is
    * an external post-step, out of relational scope). */
  def writeBed(bed: DataFrame, outFile: String): Unit =
    publish(bed, outFile,
      concat_ws("\t", bed.columns.toIndexedSeq.map(c => col(s"`$c`").cast("string")): _*))

  /** JSONL (one JSON object per line) sink — the lingua-franca interchange
    * format of training-data pipelines. Field order is pinned by the caller's
    * column order (to_json preserves struct field order), so output is
    * byte-deterministic given deterministic row content; JSON escaping of
    * quotes/tabs/newlines is the writer's, proven by the q103 round-trip.
    * Atomic single-file publish like the TSV sinks — for sharded corpus-scale
    * output use [[writePartitionedParquet]]-style partitioned `df.write.json`
    * instead. */
  def writeJsonl(df: DataFrame, outFile: String): Unit =
    publish(df, outFile, to_json(allColumns(df)))

  /** Large-data parquet sink with file-count discipline — the opposite regime
    * from the single-file report sinks above. At 100 TB the failure mode is
    * SMALL FILES: a shuffle with thousands of tasks writing into hundreds of
    * partition values creates tasks×values fragments, and every downstream scan
    * pays per-file open cost. This sink repartitions by the partition columns
    * first (one task per live partition value, so each value gets ONE file
    * unless `maxRecordsPerFile` splits it) and lets the writer roll files at
    * the record cap — bounded file count AND bounded file size.
    *
    * Skewed partition values: a value bigger than `maxRecordsPerFile` still
    * splits correctly (the cap is enforced by the writer, per task). */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              maxRecordsPerFile: Long = 5000000L): Unit = {
    require(partitionCols.nonEmpty, "use plain df.write for unpartitioned output")
    df.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** [[writePartitionedParquet]] with WITHIN-partition clustering: rows in
    * each partition value are sorted by `clusterBy` before the writer rolls
    * files at the record cap, so every rolled file (and row group) covers a
    * contiguous `clusterBy` range — parquet min/max stats stay tight on the
    * clustered dimensions and predicate scans prune files the hash layout
    * would have to read. Same shuffle count as the plain sink (the
    * repartition); the sort is task-local. The natural `clusterBy` for
    * multi-dimensional predicates is a [[graft.operators.Layout.zValue]]. */
  def writePartitionedParquetClustered(df: DataFrame, path: String,
                                       partitionCols: Seq[String],
                                       clusterBy: org.apache.spark.sql.Column,
                                       maxRecordsPerFile: Long = 5000000L): Unit = {
    require(partitionCols.nonEmpty, "use plain df.write for unpartitioned output")
    // sort by (partitionCols, clusterBy), not clusterBy alone: the dynamic-
    // partition writer requires an ordering on the partition columns and
    // RE-SORTS the task's rows by them when unsatisfied — an unstable sort
    // that scrambles the clustering (measured: out-of-order z-values inside
    // a written file). A child ordering prefixed by the partition columns
    // satisfies the writer's requirement, so the cluster order survives.
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(partitionCols.map(col) :+ clusterBy: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Compact a fragmented parquet dataset: rewrite `inPath` to `outPath` with
    * file count sized from the INPUT'S ACTUAL BYTES (ceil(totalBytes /
    * targetFileBytes)), not a guessed partition number. This is the maintenance
    * half of small-files discipline — ingestion tails, streaming micro-batches,
    * and per-sample writers all leave thousands-of-tiny-files datasets whose
    * downstream scans pay per-file open + footer-read cost; periodic compaction
    * is how 100 TB tables stay scannable.
    *
    * Sizing reads file lengths from the filesystem listing (a metadata
    * operation, no data scan). Rewrites to a NEW path: parquet readers can't
    * atomically replace a directory being read; publishing by rename/swap is
    * the caller's (or table format's) job. Uses coalesce — a narrow,
    * shuffle-free merge of input splits — because compaction only merges
    * what's already there; use `writePartitionedParquet` when a layout CHANGE
    * (partition columns) is wanted. */
  def compactParquet(df: DataFrame, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    df.coalesce(nFiles).write.mode("overwrite").parquet(outPath)
  }

  private def allColumns(df: DataFrame): Column =
    struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)

  /** The shared single-file publish (see the object doc): `line` renders one output
    * line per row of `df` (it resolves by column name); `header` is written first,
    * verbatim. */
  private def publish(df: DataFrame, outFile: String, line: Column,
                      header: String = ""): Unit = {
    val target = Paths.get(outFile).toAbsolutePath
    Files.createDirectories(target.getParent)
    val staged = target.resolveSibling(s"${target.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      val out = Files.newBufferedWriter(staged, UTF_8, CREATE_NEW)
      try {
        out.write(header)
        val rows = ColumnBridge.inOneTask(df).select(line).toLocalIterator()
        while (rows.hasNext) {
          out.write(rows.next().getString(0))
          out.write('\n')
        }
      } finally out.close()
      Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(staged)
  }
}
