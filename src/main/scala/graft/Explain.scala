package graft

/** Physical-plan audit: dump `explain("formatted")` for selected queries so scan
  * pruning (`ReadSchema`/`PushedFilters`), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), partial aggregation, and WholeStageCodegen spans can be
  * reviewed. Usage: `sbt "runMain graft.Explain [sfDir] [queryName...]"`; with
  * no names every registered query is dumped. Plans print in name order
  * (`SPARK_GRAFT_CPUS` overrides local[4]). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = Suite.select(if (args.length > 1) Some(args.drop(1).toSeq) else None)
    val spark = Suite.session(4)
    selected.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
