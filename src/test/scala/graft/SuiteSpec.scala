package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The shared harness policy every suite main runs through: selection, the
  * JSON string escaper and the counted run. */
class SuiteSpec extends SparkSpec {

  test("selection: no allowlist selects every registered query, in name order") {
    val all = Suite.select(None).map(_._1)
    assert(all.size == 179)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Suite.select(None).map(_._1) == all)
    assert(Suite.select(Some(Seq("q43_text_fingerprint", "q09_rgb_bucket"))).map(_._1) ==
      Seq("q09_rgb_bucket", "q43_text_fingerprint"))
  }

  test("selection: an unknown name fails and the error names it") {
    val e = intercept[IllegalArgumentException](
      Suite.select(Some(Seq("q09_rgb_bucket", "q09_rgb_buckt", "nope"))))
    assert(e.getMessage.contains("q09_rgb_buckt"))
    assert(e.getMessage.contains("nope"))
    assert(!e.getMessage.contains("q09_rgb_bucket"))
  }

  test("names: a comma list with blanks and spaces") {
    assert(Suite.names(" q01_scan_project, ,q02_unique_name,") ==
      Seq("q01_scan_project", "q02_unique_name"))
  }

  test("JSON string escaper round-trips through Jackson") {
    val mapper = new ObjectMapper()
    Seq("plain", "", "quote \" and backslash \\", "new\nline", "cr\rlf", "tab\there",
      "ctrl \u0001 and \u001f", "é ü 漢 😀", "\\n is not a newline").foreach { s =>
      assert(mapper.readValue(Suite.jsonString(s), classOf[String]) == s, s)
    }
  }

  /** Spark jobs started while `body` runs (listener-counted). */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ColumnBridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("counted run: a root-sorted frame runs the same Spark jobs as the unsorted frame") {
    def frame: DataFrame = spark.range(0L, 10000L, 1L, 4)
      .groupBy((col("id") % 97).as("k")).count()
    val unsorted = jobsDuring(assert(Suite.countedRun(frame) == 97))
    val sorted = jobsDuring(assert(Suite.countedRun(frame.orderBy(col("count").desc, col("k"))) == 97))
    assert(sorted == unsorted, s"sorted $sorted jobs vs unsorted $unsorted")
    // the root sort is real work when it is not stripped (a range-sample job)
    val kept = jobsDuring(frame.orderBy(col("count").desc, col("k")).queryExecution.toRdd.count())
    assert(kept > unsorted, s"a kept root sort ran $kept jobs vs $unsorted")
  }
}
