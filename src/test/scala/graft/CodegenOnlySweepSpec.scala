package graft

import scala.util.control.NonFatal

/** Repo-wide guard against SILENT interpreted-eval fallback.
  *
  * Round 9 found q65 running its `NearestCentroid` assignment interpreted for
  * a full round: the expression's generated source was corrupted by an outer
  * template's `stripMargin` (a continuation line starting with `|` was eaten),
  * Spark caught the janino failure, logged once at WARN, and silently fell
  * back — correctness held, codegen throughput was lost, and nothing was red.
  * Per-expression specs (e.g. `NearestCentroidSpec`) pin single expressions,
  * but the q65 failure only existed in the COMPOSED projection, so the guard
  * has to execute real query plans.
  *
  * This spec runs every registered driver-contract query at sf0.001 under
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (projection/predicate/ordering
  * factories throw instead of degrading) and `spark.sql.codegen.fallback=false`
  * (whole-stage compile errors propagate). Any future codegen-breaking change
  * to a custom expression — in any composition the query surface reaches —
  * turns into a red build instead of a quiet 10× slowdown.
  */
class CodegenOnlySweepSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("all registered queries execute under CODEGEN_ONLY with fallback disabled") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"$sfDir not present in this environment")
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val failures = Suite.select(None).flatMap {
        case (name, fn) =>
          try {
            // The counted run Bench times, not count(): a count() on top lets
            // ColumnPruning delete every projection-only computed column
            // before codegen, so the sweep would never compile exactly the
            // pure-projection expressions it exists to guard.
            Suite.countedRun(fn(spark, sfDir))
            None
          } catch {
            case NonFatal(e) =>
              // walk to the root cause — janino errors arrive wrapped
              val root = Iterator.iterate(e: Throwable)(_.getCause)
                .takeWhile(_ != null).reduceLeft((_, c) => c)
              Some(s"$name: ${root.getClass.getSimpleName}: " +
                root.getMessage.linesIterator.take(3).mkString(" | ").take(300))
          }
      }
      assert(failures.isEmpty,
        s"${failures.size} queries failed under CODEGEN_ONLY:\n${failures.mkString("\n")}")
    } finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
    }
  }
}
