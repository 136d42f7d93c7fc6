package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure is LOUD by construction (round-5 lesson: six broken queries
  * silently shrank the driver's correctness file): a failed query still
  * creates its output dir containing an `_ERROR` marker (so a parquet read of
  * it fails visibly instead of the name vanishing), and `errors.json` is
  * ALWAYS written — `{}` on a clean run — so "no errors recorded" and
  * "error reporting broken" are distinguishable artifacts. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg (dev runs only): comma-separated query-name filter
    val selected = Suite.select(args.lift(2).map(Suite.names))
    val spark = Suite.session(4)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.TreeMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        // Leave a tombstone where the parquet dir would be: downstream readers
        // hit it and error instead of treating the query as never-registered.
        new java.io.File(s"$outDir/$name").mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"), msg)
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${Suite.jsonString(k)}: ${Suite.jsonString(v)}" }.mkString("{", ",", "}"))
    val oracles = SparkEntry.oracleSql
    val json = selected.flatMap { case (k, _) => oracles.get(k).map(k -> _) }
      .map { case (k, v) => s"${Suite.jsonString(k)}: ${Suite.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED quer${if (errors.size == 1) "y" else "ies"}: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
