package graft.io

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ops.MatrixBuilder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("JSONL sink: one object per line, pinned field order, escaping round-trips") {
    val df = Seq(
      (1L, "plain text", 0.5),
      (2L, "tricky \"quote\"\ttab\nnewline", 0.25))
      .toDF("doc_id", "text", "score")
    val out = tempDir().resolve("docs.jsonl").toString
    Sinks.writeJsonl(df.orderBy("doc_id"), out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.size() === 2) // newline in content stays escaped on one line
    assert(lines.get(0).startsWith("{\"doc_id\":1,\"text\":")) // field order pinned
    val back = spark.read.schema("doc_id BIGINT, text STRING, score DOUBLE")
      .json(out).orderBy("doc_id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "plain text", 0.5), (2L, "tricky \"quote\"\ttab\nnewline", 0.25)))
  }

  test("TSV report sink: single file, header, NA for nulls, atomic publish (S9)") {
    val df = Seq(
      ("GSM1", Some(24776293L), Some(4.84), "PASS"),
      ("GSM2", None, None, "NO_LOG"))
      .toDF("SampleID", "input_reads", "Unmapped_Rate", "Status")
    val out = tempDir().resolve("report.txt").toString
    Sinks.writeTsvReport(df.orderBy("SampleID"), out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "SampleID\tinput_reads\tUnmapped_Rate\tStatus")
    assert(lines.get(1) == "GSM1\t24776293\t4.84\tPASS")
    assert(lines.get(2) == "GSM2\tNA\tNA\tNO_LOG")
    assert(!Files.exists(Paths.get(out + ".tmp"))) // temp dir cleaned up
  }

  test("matrix sink: quoted ids + quoted source headers, Symbol unquoted (S10)") {
    val long = Seq(
      ("Xist", "s1.genes.results", "812.44"), ("Xist", "s2.genes.results", "1.50"),
      ("Uty", "s1.genes.results", "0.00"), ("Uty", "s2.genes.results", "99.99"))
      .toDF("gene_id", "source", "value")
    val m = MatrixBuilder.pivotMatrix(long, "gene_id", "source", "value",
      Seq("s1.genes.results", "s2.genes.results")).orderBy("Symbol")
    val out = tempDir().resolve("PRJ.genes.TPM.matrix").toString
    Sinks.writeMatrix(m, out)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) == "Symbol\t\"s1.genes.results\"\t\"s2.genes.results\"")
    assert(lines.get(1) == "\"Uty\"\t0.00\t99.99")
    assert(lines.get(2) == "\"Xist\"\t812.44\t1.50")
  }

  test("BED sink: tab-joined rows, no quoting (S12)") {
    val bed = Seq(("chr1", 100L, 200L, "GeneA", "812.44", ".", 100L, 200L, "0,0,205"))
      .toDF("chrom", "start", "end", "name", "score", "strand", "ts", "te", "rgb")
    val out = tempDir().resolve("x.bed").toString
    Sinks.writeBed(bed, out)
    assert(Files.readAllLines(Paths.get(out)).get(0)
      == "chr1\t100\t200\tGeneA\t812.44\t.\t100\t200\t0,0,205")
  }

  private def names(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toVector.sorted finally ls.close()
  }

  /** Spark jobs started, and the task count of each stage completed, while `body`
    * runs (listener-counted). */
  private def jobsAndStagesDuring(body: => Unit): (Int, Seq[Int]) = {
    val jobs = new AtomicInteger()
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ColumnBridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), stageTasks.asScala.toSeq)
  }

  private val allSinks: Seq[(String, (DataFrame, String) => Unit)] = Seq(
    "report" -> ((df, out) => Sinks.writeTsvReport(df, out)),
    "matrix" -> ((df, out) => Sinks.writeMatrix(df, out)),
    "bed" -> ((df, out) => Sinks.writeBed(df, out)),
    "jsonl" -> ((df, out) => Sinks.writeJsonl(df, out)))

  test("TSV report sink: bytes equal Spark's CSV writer on quoting edge cases") {
    val df = Seq[(Int, Option[String], Option[Double], java.math.BigDecimal, java.sql.Timestamp)](
      (1, Some("tab\there"), Some(1.5), new java.math.BigDecimal("1.10"),
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678")),
      (2, Some("quote \"q\" and 'single'"), Some(Double.NaN), null, null),
      (3, Some("new\nline"), Some(-0.0), new java.math.BigDecimal("-12345.678"), null),
      (4, None, None, null, null),
      (5, Some(""), Some(Double.PositiveInfinity), null, null),
      (6, Some("  lead and trail  "), Some(1e-9), null, null),
      (7, Some("NA"), Some(0.0), null, null))
      .toDF("id", " padded\tname ", "value", "amount", "ts")
    val dir = tempDir()
    val ref = dir.resolve("spark-csv").toString
    df.coalesce(1).write.option("sep", "\t").option("header", "true")
      .option("nullValue", "NA").option("emptyValue", "").csv(ref)
    val part = names(Paths.get(ref)).filter(_.startsWith("part-"))
    assert(part.size == 1)
    val out = dir.resolve("report.txt")
    Sinks.writeTsvReport(df, out.toString)
    val expected = new String(Files.readAllBytes(Paths.get(ref, part.head)), "UTF-8")
    assert(new String(Files.readAllBytes(out), "UTF-8") == expected)
    // the header follows the writer's quoting rule too (edge spaces trimmed, tab quoted)
    assert(expected.startsWith("id\t\"padded\tname\"\tvalue\t"))
  }

  test("every single-file sink publishes a globally sorted frame in order, in one Spark job") {
    // 1 000 rows over 4 partitions, generated in descending key order
    val rows = spark.range(0, 1000, 1, 4).select((lit(999L) - col("id")).as("k"))
      .select(format_string("g%04d", col("k")).as("Symbol"), col("k").cast("string").as("s1"))
    val expected = (0 until 1000).map(k => f"g$k%04d")
    for ((name, sink) <- allSinks) {
      val out = tempDir().resolve(s"sorted.$name").toString
      val (jobs, _) = jobsAndStagesDuring(sink(rows.orderBy("Symbol"), out))
      assert(jobs == 1, s"$name sink ran $jobs jobs")
      val lines = Files.readAllLines(Paths.get(out)).asScala.toSeq
      val body = if (name == "report" || name == "matrix") lines.tail else lines
      assert(body.size == 1000, name)
      assert(body.map(l => "g\\d{4}".r.findFirstIn(l).get) == expected, name)
    }
  }

  test("a sorted frame ending in an aggregation keeps the final merge off the one task") {
    // 4 map tasks; the final merge must run as 4 tasks, not inside the 1-task sort
    val agg = spark.range(0, 1000, 1, 4)
      .groupBy(format_string("g%04d", lit(99L) - col("id") % 100).as("Symbol"))
      .agg(count(lit(1)).as("n"))
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false") // keep the 4 shuffle partitions of this tiny input
    val out = tempDir().resolve("agg.matrix")
    val (jobs, stageTasks) =
      try jobsAndStagesDuring(Sinks.writeMatrix(agg.orderBy("Symbol"), out.toString))
      finally spark.conf.set(key, before)
    assert(stageTasks.sorted == Seq(1, 4, 4), s"stage task counts $stageTasks")
    assert(jobs == 3) // the aggregation's exchange, the one-partition exchange, the publish
    assert(Files.readAllLines(out).asScala.toSeq ==
      "Symbol\t\"n\"" +: (0 until 100).map(k => f"\"g$k%04d\"\t10"))
  }

  test("BED sink creates a missing parent directory") {
    val bed = Seq(("chr1", 100L, 200L)).toDF("chrom", "start", "end")
    val out = tempDir().resolve("beds").resolve("GSM1.geneTPM.bed")
    Sinks.writeBed(bed, out.toString)
    assert(Files.readAllLines(out).asScala.toSeq == Seq("chr1\t100\t200"))
  }

  test("publish is not blocked by a leftover non-empty <out>.tmp directory") {
    // the Spark-writer publish staged in <out>.tmp/ and left it behind when it failed
    val dir = tempDir()
    val out = dir.resolve("report.txt")
    val leftover = Files.createDirectories(dir.resolve("report.txt.tmp"))
    Files.writeString(leftover.resolve("part-00000"), "stale\n")
    Sinks.writeTsvReport(Seq(("a", 1)).toDF("k", "v"), out.toString)
    assert(Files.readAllLines(out).asScala.toSeq == Seq("k\tv", "a\t1"))
  }

  test("failed publish leaves the existing target untouched and nothing staged") {
    val failing = spark.range(0, 100, 1, 2).select(
      format_string("g%04d", col("id")).as("Symbol"),
      when(col("id") === 77L, raise_error(lit("planted failure"))).otherwise(lit("1.0")).as("s1"))
    for ((name, sink) <- allSinks) {
      val dir = tempDir()
      val out = dir.resolve(s"artifact.$name")
      Files.writeString(out, "previous\n")
      val e = intercept[Exception](sink(failing, out.toString))
      assert(e.toString.contains("planted failure") ||
        Option(e.getCause).exists(_.toString.contains("planted failure")), s"$name: $e")
      assert(Files.readString(out) == "previous\n", name)
      assert(names(dir) == Seq(s"artifact.$name"), name)
    }
  }

  test("compactParquet: fragmented dataset rewritten to byte-budgeted file count") {
    import spark.implicits._
    val in = tempDir().resolve("fragmented").toString
    // 64 tiny files
    (1 to 1024).map(i => (i.toLong, s"payload$i")).toDF("id", "v")
      .repartition(64).write.parquet(in)
    def parquetFiles(dir: String) = {
      val ls = Files.list(Paths.get(dir))
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally ls.close()
    }
    assert(parquetFiles(in) == 64L)
    val df = spark.read.parquet(in)
    // huge target → exactly one output file
    val out1 = tempDir().resolve("compacted1").toString
    Sinks.compactParquet(df, in, out1, targetFileBytes = 1L << 30)
    assert(parquetFiles(out1) == 1L)
    assert(spark.read.parquet(out1).count() == 1024L)
    // target ~ quarter of the input bytes → ceil gives a small multi-file layout
    val total = {
      val ls = Files.list(Paths.get(in))
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .mapToLong(p => Files.size(p)).sum()
      finally ls.close()
    }
    val out2 = tempDir().resolve("compacted2").toString
    Sinks.compactParquet(spark.read.parquet(in), in, out2, targetFileBytes = total / 4 + 1)
    val n2 = parquetFiles(out2)
    assert(n2 >= 2L && n2 <= 5L, s"expected ~4 files, got $n2")
    assert(spark.read.parquet(out2).count() == 1024L)
  }

  test("writePartitionedParquet: one file per partition value, record cap splits big values") {
    import spark.implicits._
    val df = (1 to 900).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "part")
    val out = tempDir().resolve("layout").toString
    Sinks.writePartitionedParquet(df, out, Seq("part"), maxRecordsPerFile = 1000L)
    def partFiles(v: String) = {
      val d = Paths.get(out, s"part=$v")
      val ls = Files.list(d)
      try ls.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally ls.close()
    }
    // 300 rows per value, cap 1000 -> exactly one file each (no task-fragmenting)
    assert(Seq("p0", "p1", "p2").map(partFiles) == Seq(1L, 1L, 1L))
    // skewed value over the cap rolls into multiple files
    val out2 = tempDir().resolve("layout2").toString
    Sinks.writePartitionedParquet(df, out2, Seq("part"), maxRecordsPerFile = 100L)
    val d2 = Paths.get(out2, "part=p0")
    val ls2 = Files.list(d2)
    val n2 = try ls2.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
             finally ls2.close()
    assert(n2 == 3L) // 300 rows / 100-record cap
    // round-trip intact
    assert(spark.read.parquet(out2).count() == 900L)
  }
}
