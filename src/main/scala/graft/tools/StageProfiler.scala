package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.ColumnBridge

import scala.collection.mutable.ArrayBuffer

/** Per-stage profile of a [[graft.SparkEntry]] query — the diagnostic behind
  * the scaling series: when a query's wall-clock grows faster than the data,
  * this prints WHICH stage (with its callsite) carries the growth, its task
  * time, and its shuffle volume, so the fix targets the real bottleneck
  * instead of a guess. Each query runs as [[graft.Bench]] times it
  * ([[graft.Suite.countedRun]]: root sort stripped).
  *
  * Usage: `runMain graft.tools.StageProfiler <sfDir> <q1,q2,...>`
  * (set `SPARK_GRAFT_CPUS` to override local[32]).
  */
object StageProfiler {

  private final case class StageRow(id: Int, name: String, tasks: Int,
                                    runMs: Long, cpuMs: Long,
                                    shufReadMB: Double, shufWriteMB: Double,
                                    inRecords: Long, outRecords: Long,
                                    spillMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: StageProfiler <sfDir> <q1,q2,...>")
    val Array(sfDir, qcsv) = args
    val selected = graft.Suite.select(Some(graft.Suite.names(qcsv)))
    val spark = graft.Suite.session(32)

    val stages = ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRow(si.stageId, si.name, si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    selected.foreach { case (name, fn) =>
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      val n = graft.Suite.countedRun(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      ColumnBridge.drainListenerBus(spark)
      val rows = stages.synchronized(stages.sortBy(-_.runMs).toVector)
      println(f"== $name  wall=$wall%.2fs  rows=$n  stages=${rows.size}")
      rows.take(12).foreach { r =>
        println(f"  [${r.id}%4d] run=${r.runMs / 1000.0}%8.1fs cpu=${r.cpuMs / 1000.0}%8.1fs " +
          f"tasks=${r.tasks}%3d shufR=${r.shufReadMB}%8.1fMB shufW=${r.shufWriteMB}%8.1fMB " +
          f"spill=${r.spillMB}%7.1fMB recIn=${r.inRecords}%10d  ${r.name.take(90)}")
      }
    }
    spark.stop()
  }
}
