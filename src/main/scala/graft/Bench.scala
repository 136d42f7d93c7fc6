package graft
import org.apache.spark.sql.SparkSession

/** The timed suite runner: the registered queries (or the
  * `SPARK_GRAFT_QUERIES` allowlist) in name order, one JSON record per run.
  * The data-bound scaling legs run it too (`bench/run_scale_series.sh`).
  *
  * Env: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_RERUN_BUDGET`,
  * `SPARK_GRAFT_QUERIES`, `SPARK_GRAFT_BENCH_OUT`. */
object Bench {

  /** Recorded idle-machine reference constants for the two fixed-work probes,
    * pinned from the clean controlled series (bench/results/r6_sf0.1_run{1,2,3}:
    * calibration_pre 0.64/0.69/0.77 s, probe_base 0.13-0.17 s). The per-query
    * `hot()` detector compares each micro-probe to a baseline measured IN THE
    * SAME RUN, so uniform machine-wide contention inflates the baseline and the
    * detector self-normalizes to blindness — BENCH_r06 was a 2.6×-inflated run
    * with `contended_queries: {}`. These absolute constants close that class:
    * the artifact itself declares `contended_run` whenever its own probes run
    * >2× the recorded idle values, no folklore needed to read it. */
  private val idleCalibrationRefSec = 0.8
  private val idleProbeRefSec = 0.15

  /** Bursty-contention detector: the probe-bracket detector above misses load
    * that lands BETWEEN the brackets (the round-7 series inflated ~1.7×
    * uniformly while every probe landed in a quiet gap — `contended_run`
    * stayed false). Load cannot hide from the queries themselves: when the OS
    * deschedules loaded cores the task run/cpu ratio rises for the whole
    * query duration. The ratio is query-shape-dependent (I/O waits count), so
    * the verdict uses pinned KNOWN-CPU-BOUND sentinels and the clean-series
    * A/B (bench/results/r7_cpuratio_{clean,loaded}.json): clean ratios
    * 1.07/1.19/1.09 (median 1.09), the 32-hog loaded leg 1.57/2.32/2.19
    * (median 2.19). Threshold 1.35 sits mid-gap — above every clean
    * observation, below every loaded one. */
  private val cpuBoundSentinels =
    Seq("q69_curation", "q77_tfidf_topterms", "q87_passage_dedup")
  private val burstyCpuRatioThreshold = 1.35

  /** Fixed-work calibration probe: identical CPU-bound shuffle+agg job every run.
    * Its time on THIS machine, idle, is ~1 s; a contended run inflates it
    * proportionally — so the artifact carries its own machine-health evidence
    * (judge order, round-2 item 5). */
  private def calibrate(spark: SparkSession): Double = {
    // Min of two executions: the first run of this exact plan shape pays
    // Janino codegen + JIT (measured 1.09 s cold vs 0.55 s steady on the idle
    // box — enough to trip the 2× contention threshold by itself). Min is the
    // right statistic for fixed work; external load inflates BOTH executions.
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 24).selectExpr("count(distinct id % 9973)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Reclaim per-query state so every measurement starts from an equal JVM.
    * Cached plans and (crucially) `localCheckpoint` blocks accumulate in the
    * block manager across a 100+-query suite; measured at 10× corpus scale
    * this inflated late-suite queries up to 12× (q84 126 s inside the full
    * suite vs 10.9 s in a fresh JVM) as storage eviction and GC thrash set
    * in — the same mechanism behind three rounds of inflated driver-side
    * artifacts. Blocking unpersist + an explicit GC land the reclaim cost
    * BETWEEN measurements, not inside the next query's timing. */
  private def resetState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Micro-probe interleaved BETWEEN queries (~0.1 s idle): 4 explicit slices
    * (not defaultParallelism — 32 tiny tasks would be pure scheduler overhead)
    * and a distinct-agg so it still exercises shuffle machinery. Cheap enough
    * to run 115+ times; external CPU pressure shows as a proportional spike. */
  private def microProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 19, 1L, 4).selectExpr("count(distinct id % 9973)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Total extra seconds the contention policy may spend on re-runs — bounds
    // worst-case wall clock on a hopelessly contended machine.
    val rerunBudget = sys.env.getOrElse("SPARK_GRAFT_RERUN_BUDGET", "240").toDouble
    // Optional comma-separated allowlist for targeted runs (the driver never
    // sets it, so driver artifacts always cover the full suite).
    val selected = Suite.select(sys.env.get("SPARK_GRAFT_QUERIES").map(Suite.names))
    val spark = Suite.session(32)
    // JVM/codegen warmup: exercise the scan->shuffle->agg machinery once so the
    // first timed query doesn't absorb classloading + first-codegen cost.
    spark.range(1 << 20).selectExpr("count(distinct id % 97)").collect()
    // The first timed query would otherwise absorb the parquet-datasource
    // init, Janino first-compile and the cold documents scan (measured ~2.5 s
    // extra on q45): run three cheap real queries once, untimed — q09 warms the
    // TPC-H scan path, q43 the documents/tokenizer path, q48 the embeddings
    // path. A warm-up whose table is missing in this corpus is skipped.
    Seq("q09_rgb_bucket", "q43_text_fingerprint", "q48_sim_bruteforce").foreach { warm =>
      SparkEntry.queries.get(warm).foreach { fn =>
        try Suite.countedRun(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
    }
    val calibPre = calibrate(spark)
    // Idle micro-probe baseline: 5 untimed warmups (probe steady-state on the
    // idle box is ~0.15 s but the first ~5 executions run 0.2-0.4 s of JIT),
    // then the median of 5 timed runs.
    val probeBase = {
      (1 to 5).foreach(_ => microProbe(spark))
      val ps = (1 to 5).map(_ => microProbe(spark)).sorted
      ps(ps.size / 2)
    }
    // A query's probe is "hot" when the machine around it ran >2x slower than
    // the just-measured idle baseline — the same threshold the recorded
    // variance policy uses for the whole-run calibration pair.
    def hot(p: Double): Boolean = p > 2.0 * probeBase

    // Re-armed probe: resetState's blocking unpersist + System.gc return
    // before the ContextCleaner's async reference-queue drain does, and on a
    // single-query leg (rerun budget 0) that SELF-INFLICTED drain was enough
    // to stamp a 2.73× contended_queries flag on an otherwise-clean flagship
    // artifact (r8 dense leg, in-query run/cpu 1.05). A hot first probe is
    // re-measured once after a short settle and the min kept — the right
    // statistic for fixed work: sustained external load inflates both
    // executions, and bursty load that dodges the probes is exactly what the
    // in-query sentinel channel exists to catch.
    def settledProbe(): Double = {
      val a = microProbe(spark)
      if (!hot(a)) a
      else { Thread.sleep(200); math.min(a, microProbe(spark)) }
    }

    // A failed query must NOT masquerade as a fast success (round-5 lesson:
    // six analysis-broken queries "ran" in 0.07 s inside a green-looking
    // artifact). runOnce surfaces the error; the caller records it in a
    // `failures` field and excludes the query from `queries` and `total`.
    def runOnce(name: String, fn: Suite.Query): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try { Suite.countedRun(fn(spark, sfDir)); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      resetState(spark)
      (dt, err)
    }

    var rerunSpent = 0.0
    val flagged = Seq.newBuilder[(String, Double)]
    val failures = scala.collection.mutable.TreeMap.empty[String, String]
    // Reruns that themselves failed: the query keeps its clean first-run time
    // in `queries`, but the intermittent abort must be visible in the JSON,
    // not only in the log — a one-of-two-runs failure is a flakiness signal.
    val rerunFailures = scala.collection.mutable.TreeMap.empty[String, String]
    // In-query contention evidence: bursty external load lands BETWEEN the
    // probe brackets (round-7 series: ~1.7× uniform slowdown, inflation
    // estimates under 2×), but it cannot hide from the queries themselves —
    // the task run/cpu ratio rises when the OS deschedules loaded cores. The
    // ratio is query-shape-dependent (I/O waits count), so compare the SAME
    // query across runs, not against a global threshold.
    val clock = new graft.tools.TaskClock(spark)
    val cpuRatios = scala.collection.mutable.TreeMap.empty[String, Double]
    val clockStart = clock.snapshot()
    val results = selected.flatMap { case (name, fn) =>
      val clockBefore = clock.snapshot()
      val (t1, e1) = runOnce(name, fn)
      cpuRatios(name) = clock.ratioSince(clockBefore)
      e1 match {
        case Some(err) =>
          failures(name) = err
          System.err.println(s"[bench] $name FAILED: $err")
          None
        case None =>
          val p1 = settledProbe()
          val dt =
            if (!hot(p1)) t1
            else if (rerunSpent + t1 <= rerunBudget) {
              // machine was busy around this query: one re-run, keep the best —
              // MIN is the right statistic for a fixed-work job under external noise
              val (t2, e2) = runOnce(name, fn)
              rerunSpent += t2
              val p2 = settledProbe()
              if (hot(p2)) flagged += name -> (math.max(p1, p2) / probeBase)
              if (e2.isDefined) { // flaky rerun: keep the clean time, record the abort
                rerunFailures(name) = e2.get
                System.err.println(s"[bench] $name rerun FAILED (clean first run kept): ${e2.get}")
                t1
              } else math.min(t1, t2)
            } else { flagged += name -> (p1 / probeBase); t1 }
          System.err.println(f"[bench] $name%-28s $dt%8.2fs  probe=${p1 / probeBase}%.2fx")
          Some(name -> dt)
      }
    }
    val calibPost = calibrate(spark)
    val qs = results.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val flaggedJson = flagged.result().sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    val failuresJson = failures.map { case (k, v) => s"${Suite.jsonString(k)}:${Suite.jsonString(v)}" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Whole-run contention verdict against the PINNED idle constants (not the
    // self-measured baseline): >2× on either fixed-work probe means the machine
    // was loaded for this run and every per-query number is suspect. The
    // inflation estimate is the worst probe ratio — a consumer can divide it
    // out for a rough correction, but the real instruction is "re-run clean".
    val inflationEstimate = math.max(
      math.max(calibPre, calibPost) / idleCalibrationRefSec,
      probeBase / idleProbeRefSec)
    // Bursty-load verdict from the in-query sentinel ratios (see
    // cpuBoundSentinels scaladoc): median over the pinned CPU-bound queries
    // that actually ran this run. OR'ed into contended_run so a bursty-loaded
    // series can no longer produce a green-looking artifact.
    // True median (even sizes average the two middle elements): a query
    // subset that ran exactly 2 of the 3 pinned sentinels would otherwise
    // take the upper-middle value — biased toward flagging relative to the
    // 1.35 threshold that was calibrated on a 3-sentinel median. Zero
    // sentinels means NOT MEASURED, not clean: the artifact carries the
    // sentinel count and a null median so false is distinguishable from
    // didn't-run.
    val sentinelRatios = cpuBoundSentinels.flatMap(cpuRatios.get).sorted
    val sentinelMedian =
      if (sentinelRatios.isEmpty) 0.0
      else if (sentinelRatios.size % 2 == 1) sentinelRatios(sentinelRatios.size / 2)
      else (sentinelRatios(sentinelRatios.size / 2 - 1) +
        sentinelRatios(sentinelRatios.size / 2)) / 2.0
    val burstyContention =
      sentinelRatios.nonEmpty && sentinelMedian > burstyCpuRatioThreshold
    val contendedRun = inflationEstimate > 2.0 || burstyContention
    if (burstyContention)
      System.err.println(f"[bench] WARNING: bursty contention — CPU-bound sentinel run/cpu median $sentinelMedian%.2f exceeds the pinned clean bound $burstyCpuRatioThreshold%.2f; per-query times are inflated even though the probes look clean")
    else if (contendedRun)
      System.err.println(f"[bench] WARNING: contended run — probes ran $inflationEstimate%.1fx the recorded idle constants; per-query times are inflated")
    val cpuRatioTotal = clock.ratioSince(clockStart)
    val cpuRatiosJson = cpuRatios.map { case (k, v) => s"${Suite.jsonString(k)}:" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","calibration_pre_sec":$calibPre,"calibration_post_sec":$calibPost,"probe_base_sec":$probeBase,"idle_calibration_ref_sec":$idleCalibrationRefSec,"idle_probe_ref_sec":$idleProbeRefSec,"contended_run":$contendedRun,"bursty_contention":$burstyContention,"cpu_ratio_sentinel_median":${if (sentinelRatios.isEmpty) "null" else f"$sentinelMedian%.2f"},"n_sentinels":${sentinelRatios.size},"inflation_estimate":${f"$inflationEstimate%.2f"},"run_cpu_ratio_total":${f"$cpuRatioTotal%.2f"},"run_cpu_ratio":$cpuRatiosJson,"contended_queries":$flaggedJson,"rerun_spent_sec":$rerunSpent,"rerun_failures":${rerunFailures.map { case (k, v) => s"${Suite.jsonString(k)}:${Suite.jsonString(v)}" }.mkString("{", ",", "}")},"exact_sums":true,"failures":$failuresJson,"n_queries":${results.size},"n_failures":${failures.size}}"""
    println(record)
    // First-class artifact file: BENCH_r{4,5} both carried "parsed": null
    // because the one JSON line had to be tail-scraped out of sbt stdout.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/results/bench_last.json")
    try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.writeString(f.toPath, record + "\n")
      System.err.println(s"[bench] record written to $outPath" +
        (if (failures.nonEmpty) s"  (${failures.size} FAILED: ${failures.keys.mkString(", ")})" else ""))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
