package graft.tools

import java.io.{File, OutputStream, PrintStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** MULTI-EXECUTOR validation of the segmented verify's synchronous shuffle
  * reclaim — the one 100 TB mechanism previously proven only in `local[*]`,
  * where driver==executor and "delete the shuffle files" is a local unlink.
  * Under `local-cluster[2,c,m]` the executors are separate OS processes and
  * the cleanup is a real BlockManager `RemoveShuffle` broadcast; this main
  * runs the q45 pair pipeline on a dense corpus with a disk budget low
  * enough to force K segmented passes, samples EXECUTOR-side `blockmgr-*`
  * disk (driver dirs excluded by exact path) through the run, and records
  * per-pass peak/end bytes — per-pass disk must saw-tooth (drop after each
  * pass's cleanup) instead of accumulating, and the whole segmented leg's
  * peak must undercut the unsegmented leg's on the same topology. Byte
  * equality of the two legs is checked in-run via order-insensitive
  * checksums.
  *
  * Env: SPARK_GRAFT_SF_DIR (corpus, default bench/data/x100),
  * SPARK_GRAFT_MASTER (default local-cluster[2,16,4096]),
  * SPARK_GRAFT_LOCAL_DIR (spark.local.dir — export SPARK_LOCAL_DIRS to the
  * same path so forked executors land there too), SPARK_GRAFT_VERIFY_BUDGET
  * (bytes, default 4 GiB), SPARK_GRAFT_OUT (artifact path). Launch with
  * SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13 (the worker's executor
  * command builder needs both).
  */
object LocalClusterVerify {

  private def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)

  private def blockmgrDirs(root: File): Seq[File] = {
    val out = Seq.newBuilder[File]
    def walk(f: File, depth: Int): Unit = if (f.isDirectory) {
      if (f.getName.startsWith("blockmgr-")) out += f
      else if (depth < 6)
        Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    out.result()
  }

  /** Line-scanning stderr tee: forwards everything to the real stderr and
    * timestamps the segmented-verify marker lines the operator prints, so
    * pass windows can be matched against the disk samples afterwards. */
  private final class MarkerTee(real: PrintStream) extends OutputStream {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    private val buf = new java.lang.StringBuilder
    override def write(b: Int): Unit = synchronized {
      real.write(b)
      if (b == '\n') {
        val line = buf.toString; buf.setLength(0)
        if (line.contains("[graft.dedup] segmented verify") ||
            line.contains("[graft.dedup] verify-prune gate"))
          events.add((System.currentTimeMillis(), line.trim))
      } else if (b != '\r') buf.append(b.toChar)
    }
    override def flush(): Unit = real.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/bench/data/x100")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,16,4096]")
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      "/root/repo/bench/tmp/lcluster")
    val budget = sys.env.get("SPARK_GRAFT_VERIFY_BUDGET").map(_.toLong).getOrElse(4L << 30)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT",
      "bench/results/r9_lcluster_verify.json")
    new File(localDir).mkdirs()
    val tee = new MarkerTee(System.err)
    System.setErr(new PrintStream(tee, true))
    val spark = SparkSession.builder()
      .master(master)
      // local-cluster's third field is the WORKER's capacity; the executor
      // heap is still spark.executor.memory (default 1g — which OOMs
      // instantly under 16 concurrent verify tasks). Grant the full worker.
      .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
      .config("spark.executor.extraJavaOptions", LocalClusterProbe.AddOpens)
      .config("spark.executor.extraClassPath", "/root/repo/target/scala-2.13/classes")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val driverDirs = ColumnBridge.driverBlockManagerDirs(spark).toSet
    // disk sampler: executor-side blockmgr bytes only, ~3 Hz
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      val root = new File(localDir)
      while (sampling) {
        val execBytes = blockmgrDirs(root)
          .filterNot(d => driverDirs.contains(d.getAbsolutePath))
          .map(duBytes).sum
        samples.add((System.currentTimeMillis(), execBytes))
        Thread.sleep(300)
      }
    }, "disk-sampler")
    sampler.setDaemon(true)
    sampler.start()

    def resetState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // order-insensitive checksum of the q45 pair set (root sort stripped);
    // a failed leg must surface in the artifact, not kill the run before it
    // is written (an abort here takes the in-process Master/Workers with it)
    def leg(): (Double, Long, Long, Long, Option[String]) = {
      val t0 = System.nanoTime()
      try {
        val df = ColumnBridge.dropRootSort(
          graft.SparkEntry.queries("q45_dedup_jaccard")(spark, sfDir))
        // bit_xor: order-insensitive and overflow-free (a sum of full-range
        // xxhash64 values trips ANSI ARITHMETIC_OVERFLOW immediately)
        val r = df.agg(count(lit(1)).as("n"), sum(col("inter")).as("si"),
          expr("bit_xor(xxhash64(id_a, id_b, inter))").as("chk"))
          .collect()(0)
        val dt = (System.nanoTime() - t0) / 1e9
        resetState()
        (dt, r.getLong(0), r.getLong(1), r.getLong(2), None)
      } catch { case e: Throwable =>
        val dt = (System.nanoTime() - t0) / 1e9
        // Reset on failure too: a seg leg that dies mid-verify must not leak
        // its DISK_ONLY checkpoints into the unseg baseline's disk samples.
        try resetState() catch { case _: Throwable => () }
        (dt, -1L, -1L, -1L, Some(s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200)))
      }
    }

    // warm the scan/codegen path untimed so leg A doesn't absorb it
    spark.read.parquet(s"$sfDir/documents.parquet").limit(1000).count()

    // the segmented leg sizes k from the estimate against `budget`; the
    // unsegmented leg forces one dense pass
    import graft.operators.DedupSuite.GramVerify
    val segStart = System.currentTimeMillis()
    val (segWall, segN, segSi, segChk, segErr) =
      GramVerify.forcing(GramVerify.regime(_, budget))(leg())
    val segEnd = System.currentTimeMillis()
    Thread.sleep(1500) // let post-leg cleanup settle before the B baseline
    val unsegStart = System.currentTimeMillis()
    val (unsegWall, unsegN, unsegSi, unsegChk, unsegErr) =
      GramVerify.forcing(_ => GramVerify.Dense(1))(leg())
    val unsegEnd = System.currentTimeMillis()
    sampling = false
    sampler.join(2000)

    import scala.jdk.CollectionConverters._
    val allSamples = samples.asScala.toVector.sortBy(_._1)
    val events = tee.events.asScala.toVector.sortBy(_._1)
    def peakIn(a: Long, b: Long): Long =
      allSamples.filter(s => s._1 >= a && s._1 < b).map(_._2).maxOption.getOrElse(0L)
    def endIn(a: Long, b: Long): Long =
      allSamples.filter(s => s._1 >= a && s._1 < b).lastOption.map(_._2).getOrElse(0L)
    // pass windows: marker line i → marker line i+1 (last → leg end).
    // Bounded to the segmented leg's [segStart, segEnd) — a marker emitted
    // outside it (a retried leg, a future code path) must not extend the last
    // window and misattribute disk samples from the unsegmented baseline.
    val passMarks = events.filter(e =>
      e._2.contains("segmented verify pass") && e._1 >= segStart && e._1 < segEnd)
    val passWindows = passMarks.zipAll(passMarks.drop(1).map(_._1), null, segEnd)
      .collect { case ((t, line), tNext) => (line, t, tNext) }
    val kLine = events.find(_._2.contains("segmented verify estimate")).map(_._2)
      .orElse(events.find(_._2.matches(".*segmented verify: k=\\d+.*")).map(_._2))
    val passJson = passWindows.map { case (line, a, b) =>
      val label = line.replaceAll(".*pass (\\d+)/(\\d+).*", "$1/$2")
      s"""{"pass":"$label","peak_exec_bytes":${peakIn(a, b)},"end_exec_bytes":${endIn(a, b)}}"""
    }.mkString("[", ",", "]")
    val record =
      s"""{"metric":"lcluster_segmented_verify","master":"$master","corpus":"$sfDir",
         |"budget_bytes":$budget,"estimate_line":${kLine.map(l => "\"" + l.replace("\"", "'") + "\"").getOrElse("null")},
         |"seg_wall_sec":${f"$segWall%.1f"},"unseg_wall_sec":${f"$unsegWall%.1f"},
         |"seg_pairs":$segN,"unseg_pairs":$unsegN,
         |"checksum_equal":${segN == unsegN && segSi == unsegSi && segChk == unsegChk},
         |"seg_peak_exec_bytes":${peakIn(segStart, segEnd)},
         |"unseg_peak_exec_bytes":${peakIn(unsegStart, unsegEnd)},
         |"passes":$passJson,
         |"seg_error":${segErr.map(e => "\"" + e.replace("\\", "/").replace("\"", "'") + "\"").getOrElse("null")},
         |"unseg_error":${unsegErr.map(e => "\"" + e.replace("\\", "/").replace("\"", "'") + "\"").getOrElse("null")},
         |"n_samples":${allSamples.size},"driver_dirs_excluded":${driverDirs.size}}"""
        .stripMargin.replace("\n", "")
    println(record)
    val f = new File(outPath)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, record + "\n")
    System.err.println(s"[lcverify] artifact written to $outPath")
    spark.stop()
  }
}
