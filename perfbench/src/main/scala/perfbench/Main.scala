package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** Input size of each workload, fixed so that every run of a workload measures the
  * same shape: `projects` projects of `samples` × `genes`, and for the batch one
  * more, large project of `largeSamples` × `largeGenes`. Sized for a 4-core host
  * (see perfbench/README.md, "Sizes"). */
final case class Size(samples: Int, genes: Int, projects: Int = 1, largeSamples: Int = 0, largeGenes: Int = 0) {
  override def toString: String =
    s"${projects}x${samples}samples_x${genes}genes" + (if (largeSamples > 0) s"+${largeSamples}x$largeGenes" else "")
}

object Sizes {
  def of(workload: String): Size = workload match {
    case "project_batch" => Size(samples = 4, genes = 150, projects = 4, largeSamples = 24, largeGenes = 2500)
    case "combine" => Size(samples = 20, genes = 2500)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** `gen` writes a workload's seeded inputs; `run` measures it. Both are invoked by
  * `perfbench/run.py`, which builds the classpath and prints the result line. */
object Main {

  final case class PassResult(wallS: Double, latencies: Seq[Double], samples: Long,
                              flows: Int, errors: Seq[String], checks: Seq[Seq[String]],
                              tallies: Gen.Tallies, extra: Map[String, Double])

  private def opt(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val dir = Paths.get(opt(args, "data"))
      Gen.deleteTree(dir.toFile)
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      Gen.generate(opt(args, "workload"), opt(args, "seed").toLong, dir)
      Files.writeString(dir.resolve("DONE"), f"${(System.nanoTime() - t0) / 1e9}%.3f\n")
    case Some("run") => run(args)
    case _ => sys.error("usage: Main gen|run --workload W --seed N --data DIR [...]")
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed-work drift probe, the shape of `graft.Bench.calibrate`: min of two. */
  private def probe(spark: SparkSession): Double = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1L << 24).selectExpr("count(distinct id % 9973)").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  private def sum(ts: Seq[Gen.Tallies]): Gen.Tallies = ts.foldLeft(Gen.Tallies(0, 0, 0, 0, 0, 0)) { (a, b) =>
    Gen.Tallies(a.pass + b.pass, a.fail + b.fail, a.invalid + b.invalid, a.noLog + b.noLog,
      a.conflicts + b.conflicts, a.inf + b.inf)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One pass of `workload`: one batch of projects, or one combine.
    * The flow is timed; the output check after it is not. */
  def pass(workload: String, spark: SparkSession, t: Tracer, m: Gen.Manifest, data: Path, out: Path,
           warm: Boolean, cores: Int): PassResult = {
    workload match {
      case "project_batch" =>
        val inputs = data.resolve(if (warm) "warmup" else "projects")
        val ps = if (warm) m.warmup else m.projects
        val t0 = System.nanoTime()
        val (runs, waves, runAllNs) = t.span("pass") { Flows.batch(spark, t, inputs, out, math.min(4, cores)) }
        val wall = secondsSince(t0)
        val runAll = runs.map(_.endNs).maxOption.getOrElse(runAllNs) - runAllNs
        PassResult(wall, runs.map(r => (r.endNs - t0) / 1e9), runs.map(_.samples).sum, ps.size,
          runs.flatMap(_.error) ++ (if (runs.size == ps.size) Nil else Seq(s"${runs.size} of ${ps.size} projects ran")),
          ps.map(p => Check.step2(out.resolve(p.name), p)),
          sum(ps.map(p => Check.tallies(out.resolve(p.name), p.name))),
          Map(
            "driver.waves" -> waves.toDouble,
            "driver.admit_wait_s" -> runs.map(r => (r.startNs - runAllNs) / 1e9).sum,
            "driver.concurrency_mean" -> runs.map(r => (r.endNs - r.startNs).toDouble).sum / math.max(1L, runAll),
            "driver.projects_failed" -> runs.count(_.error.nonEmpty).toDouble))
      case "combine" =>
        val c = if (warm) m.warmupCombine.get else m.combine.get
        val root = data.resolve(if (warm) "warmup" else "combine")
        val t0 = System.nanoTime()
        val (got, err) = try { (Some(t.span("pass") { Flows.combine(spark, t, root, c.a, c.b, out) }), Nil) }
                         catch { case e: Exception => (None, Seq(s"combine: $e")) }
        val wall = secondsSince(t0)
        PassResult(wall, Seq(wall), c.mergedSamples, 1, err,
          Seq(got.fold(Seq("combine produced nothing"))(g => Check.combine(out, c, g))), sum(Nil), Map.empty)
    }
  }

  /** Self-test on a pass's output: a corrupted copy of a matrix must be rejected. */
  private def selfTest(workload: String, m: Gen.Manifest, out: Path, scratch: Path): Seq[String] =
    workload match {
      case "combine" =>
        val t = m.combine.get.matrices.head
        val Array(level, value) = t.kind.split("\\.", 2)
        Check.selfTest(out.resolve(Gen.matrixName(Flows.CombinedId, level, value)), Check.matrix(_, t), scratch)
      case _ =>
        val p = m.projects.head
        val t = p.matrices.head
        val Array(level, value) = t.kind.split("\\.", 2)
        Check.selfTest(out.resolve(p.name).resolve(Gen.matrixName(p.name, level, value)), Check.matrix(_, t), scratch) ++
          Check.selfTest(out.resolve(p.name).resolve(s"${p.name}_STAR_Align_sum.txt"), Check.rows(_, p.qcRows), scratch)
    }

  /** Percentile with linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p99/p95/p90/p75 with at least ten samples beyond it, else p50. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(q => n * (1 - q / 100) >= 10).getOrElse(50.0)

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else percentile(xs, 50)

  /** (steal, total) jiffies of all CPUs from `/proc/stat`; zeros where it does not exist.
    * Time the host gave to other guests shows up here and nowhere else. */
  private def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val v = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  val PerLayer: Seq[(String, String)] = Seq(
    "ops.matrix_pivot_s" -> "s", "ops.matrix_check_s" -> "s", "ops.matrix_shuffle_bytes" -> "bytes",
    "ops.matrix_shuffle_per_out_byte" -> "ratio", "ops.matrix_pivot_share" -> "ratio",
    "ops.acclist_dedup_s" -> "s", "ops.starqc_s" -> "s", "ops.sex_s" -> "s", "ops.conflict_s" -> "s",
    "ops.tpmbed_s" -> "s", "ops.session_s" -> "s",
    "ops.starqc_pass" -> "count", "ops.starqc_fail" -> "count", "ops.starqc_invalid" -> "count",
    "ops.starqc_nolog" -> "count", "ops.sex_conflicts" -> "count", "ops.sex_inf" -> "count",
    "ops.combine_merge_s" -> "s", "ops.combine_stats_s" -> "s", "ops.combine_union_s" -> "s",
    "ops.combine_session_s" -> "s",
    "io.read_acclist_s" -> "s", "io.read_rsem_s" -> "s", "io.read_rsem_rows" -> "count", "io.read_logs_s" -> "s",
    "io.read_bed_s" -> "s", "io.read_matrix_s" -> "s", "io.read_reports_s" -> "s", "io.read_tracks_s" -> "s",
    "io.sink_matrix_s" -> "s", "io.sink_matrix_bytes" -> "bytes", "io.sink_report_s" -> "s",
    "io.sink_bed_s" -> "s", "io.sink_files" -> "count",
    "driver.classify_s" -> "s", "driver.waves" -> "count", "driver.admit_wait_s" -> "s",
    "driver.concurrency_mean" -> "ratio", "driver.projects_failed" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.idle_core_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "trace.untraced_pass_s" -> "s", "trace.traced_pass_s" -> "s", "trace.overhead_s" -> "s")

  /** Per-layer metrics of one traced pass (`run`), from its spans and listener totals. */
  private def layerMetrics(run: Int, spans: Seq[Span], self: Map[Long, Double], l: SpanListener,
                           t: Tracer, r: PassResult, cores: Int): Map[String, Double] = {
    val mine = spans.filter(_.run == run)
    def selfOf(name: String) = mine.filter(_.name == name).map(s => self(s.id)).sum
    def engine(f: l.Acc => Long, in: Seq[Span] = mine) = in.flatMap(s => l.get(s.id)).map(f).sum.toDouble
    val pivots = mine.filter(_.name == "ops.matrix_pivot")
    val totalSelf = mine.map(s => self(s.id)).sum
    val outBytes = t.counter(run, "io.sink_matrix_bytes")
    val pivotShuffle = engine(_.shuffleWrite.get, pivots)
    val taskRun = engine(_.runMs.get) / 1e3
    val timed = Seq("ops.matrix_pivot", "ops.matrix_check", "ops.acclist_dedup", "ops.starqc", "ops.sex",
      "ops.conflict", "ops.tpmbed", "ops.session", "ops.combine_merge", "ops.combine_stats", "ops.combine_union",
      "ops.combine_session", "io.read_acclist", "io.read_rsem", "io.read_logs", "io.read_bed", "io.read_matrix",
      "io.read_reports", "io.read_tracks", "io.sink_matrix", "io.sink_report", "io.sink_bed", "driver.classify")
      .map(n => s"${n}_s" -> selfOf(n))
    val tl = r.tallies
    (timed ++ Seq(
      "ops.matrix_shuffle_bytes" -> pivotShuffle,
      "ops.matrix_shuffle_per_out_byte" -> (if (outBytes > 0) pivotShuffle / outBytes else 0.0),
      "ops.matrix_pivot_share" -> (if (totalSelf > 0) selfOf("ops.matrix_pivot") / totalSelf else 0.0),
      "ops.starqc_pass" -> tl.pass.toDouble, "ops.starqc_fail" -> tl.fail.toDouble,
      "ops.starqc_invalid" -> tl.invalid.toDouble, "ops.starqc_nolog" -> tl.noLog.toDouble,
      "ops.sex_conflicts" -> tl.conflicts.toDouble, "ops.sex_inf" -> tl.inf.toDouble,
      "io.read_rsem_rows" -> t.counter(run, "io.read_rsem_rows"),
      "io.sink_matrix_bytes" -> outBytes, "io.sink_files" -> t.counter(run, "io.sink_files"),
      "driver.waves" -> r.extra.getOrElse("driver.waves", 0.0),
      "driver.admit_wait_s" -> r.extra.getOrElse("driver.admit_wait_s", 0.0),
      "driver.concurrency_mean" -> r.extra.getOrElse("driver.concurrency_mean", 0.0),
      "driver.projects_failed" -> r.extra.getOrElse("driver.projects_failed", 0.0),
      "spark.jobs" -> engine(_.jobs.get), "spark.stages" -> engine(_.stages.get),
      "spark.tasks" -> engine(_.tasks.get), "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> engine(_.cpuNs.get) / 1e9, "spark.gc_s" -> engine(_.gcMs.get) / 1e3,
      "spark.idle_core_s" -> (r.wallS * cores - taskRun),
      "spark.shuffle_write_bytes" -> engine(_.shuffleWrite.get),
      "spark.shuffle_read_bytes" -> engine(_.shuffleRead.get),
      "spark.spill_bytes" -> engine(_.spill.get))).toMap
  }

  private def run(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt(args, "workload")
    val seed = opt(args, "seed").toLong
    val seconds = opt(args, "seconds").toDouble
    val traced = opt(args, "trace") == "1"
    val data = Paths.get(opt(args, "data"))
    val work = Paths.get(opt(args, "work"))
    val results = Paths.get(opt(args, "results"))
    val m = Gen.load(data)
    val cores = Runtime.getRuntime.availableProcessors
    // attempts are flows run and output checks made; each fails at most once
    var attempted = 0
    var failed = 0
    val failures = Seq.newBuilder[String]
    def account(flows: Int, errors: Seq[String], checks: Seq[Seq[String]]): Unit = {
      attempted += flows + checks.size
      failed += errors.size + checks.count(_.nonEmpty)
      failures ++= errors ++ checks.flatten
    }
    def fresh(name: String): Path = { val d = work.resolve(name); Gen.deleteTree(d.toFile); d }

    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def mark(phase: String): Unit = phases(phase) = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // set-up: JVM start to a session that has run one warm-up pass over the
    // workload's minimal inputs (once per run: see README, "Set-up time")
    val off = new Tracer(false, null)
    val spark = session(cores, work)
    val warmOut = fresh("warmup")
    val warmup = pass(workload, spark, off, m, data, warmOut, warm = true, cores)
    account(warmup.flows, warmup.errors, warmup.checks)
    mark("setup")
    val setup = phases("setup")
    System.gc()
    off.release()
    Gen.deleteTree(warmOut.toFile)
    val ticks0 = cpuTicks()
    val probePre = probe(spark)
    def loop(t: Tracer, budget: Double, first: Int): Seq[(Int, PassResult)] = {
      var spent = 0.0
      var k = first
      val rs = Seq.newBuilder[(Int, PassResult)]
      while (spent < budget || k == first) {
        t.run = k
        val out = fresh(s"pass-$k")
        val r = pass(workload, spark, t, m, data, out, warm = false, cores)
        account(r.flows, r.errors, r.checks)
        if (k == 0) account(0, Nil, Seq(selfTest(workload, m, out, work.resolve("selftest"))))
        t.release()
        Gen.deleteTree(out.toFile)
        spark.catalog.clearCache()
        System.gc()
        spent += r.wallS
        rs += k -> r
        k += 1
      }
      rs.result()
    }

    val plain = loop(off, if (traced) seconds / 2 else seconds, 0)
    mark("untraced")
    val tracer = new Tracer(traced, spark)
    val listener = new SpanListener
    val tracedRuns =
      if (!traced) Nil
      else {
        spark.sparkContext.addSparkListener(listener)
        val rs = loop(tracer, seconds / 2, plain.size)
        Bus.drain(spark.sparkContext)
        rs
      }
    mark("traced")
    val probePost = probe(spark)
    val ticks1 = cpuTicks()
    val steal = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    val rss = peakRssMb()
    spark.stop()
    mark("stop")

    val all = plain.map(_._2)
    val lat = all.flatMap(_.latencies)
    val tailQ = tailPercentile(lat.size)
    val fails = failures.result()
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setup, "s"),
        ("samples_per_s", all.map(_.samples).sum / all.map(_.wallS).sum, "1/s"),
        ("project_p50_s", median(lat), "s"),
        ("project_tail_s", percentile(lat, tailQ), "s"))
      else {
        val spans = tracer.spans.asScala.toSeq
        val self = Tracer.selfSeconds(spans)
        val per = tracedRuns.map { case (k, r) => layerMetrics(k, spans, self, listener, tracer, r, cores) }
        val untracedWall = median(all.map(_.wallS))
        val tracedWall = median(tracedRuns.map(_._2.wallS))
        val units = PerLayer.toMap
        PerLayer.map { case (name, unit) =>
          val v = name match {
            case "trace.untraced_pass_s" => untracedWall
            case "trace.traced_pass_s" => tracedWall
            case "trace.overhead_s" => tracedWall - untracedWall
            case _ => median(per.map(_.getOrElse(name, 0.0)))
          }
          (name, v, units(name))
        }
      }

    val env = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "size" -> m.size, "nproc" -> cores, "master" -> s"local[$cores]", "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "git_head" -> opt(args, "git-head"), "src_digest" -> opt(args, "src-digest"),
      "driver_memory_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "shuffle_partitions" -> cores,
      "gen_seconds" -> Files.readString(data.resolve("DONE")).trim.toDouble,
      "probe_pre_s" -> probePre, "probe_post_s" -> probePost, "cpu_steal_share" -> steal, "peak_rss_mb" -> rss,
      "passes" -> all.size, "traced_passes" -> tracedRuns.size, "latency_samples" -> lat.size,
      "tail_percentile" -> tailQ, "phase_end_s" -> phases)
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.createDirectories(results)
    val stem = s"$workload-seed$seed-trace${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    Files.writeString(results.resolve(s"$stem.json"), Json.mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(Map("env" -> env, "result" -> result, "failures" -> fails.take(50))))
    if (traced) Files.write(results.resolve(s"$stem.spans.jsonl"),
      tracer.spans.asScala.toSeq.sortBy(_.startNs).map(s => Json.mapper.writeValueAsString(s)).asJava)

    println("perfbench env " + Json.mapper.writeValueAsString(env))
    fails.take(10).foreach(f => println(s"perfbench FAILED $f"))
    println(s"perfbench $workload " + metrics.map { case (n, v, u) => f"$n=$v%.4f $u" }.mkString(" ") +
      (if (traced) "" else f" (tail = p${tailQ}%.0f of ${lat.size} project latencies)") +
      f" ops_failed_ratio=${failed.toDouble / attempted}%.4f ($failed/$attempted)" +
      f" peak_rss_mb=$rss%.1f MB cpu_steal_share=$steal%.3f")
    println(Json.mapper.writeValueAsString(result))
  }
}
