package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** `SparkContext.SPARK_JOB_GROUP_ID`, which is not public. */
private object JobGroupKey { val value = "spark.jobGroup.id" }

object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}

/** One call into a layer's public function, as seen from the benchmark. */
final case class Span(id: Long, parent: Long, name: String, run: Int, startNs: Long, endNs: Long)

/** Span recorder for the traced run. Off, it is a pass-through: no job groups,
  * no materialisation, so untraced passes run the program exactly as a caller would.
  *
  * On, each span sets the Spark job group to its id (restored on exit), so the
  * [[SpanListener]] can charge every job, stage and task to the span that caused
  * it, and [[mat]] materialises a layer's lazy output at its boundary so the
  * time lands on the layer that spent it rather than on the next action.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val stack = new InheritableThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val cached = new ConcurrentLinkedQueue[DataFrame]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[(Int, String), DoubleAdder]()
  @volatile var run: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parents = stack.get
      val prevGroup = sc.getLocalProperty(JobGroupKey.value)
      stack.set(id :: parents)
      sc.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, run, t0, System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(JobGroupKey.value, prevGroup)
      }
    }

  /** Materialise `df` at a layer boundary (traced run only); with `countAs`, the
    * row count is added to that counter. */
  def mat(df: DataFrame, countAs: String = ""): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      cached.add(p)
      if (countAs.nonEmpty) add(countAs, n.toDouble)
      p
    }

  /** A frame the reference hands to later stages as a file (deduped AccList, QC
    * table, PASS list, sex table): kept once per project in both modes, as a
    * pipeline driver would, instead of being recomputed by every consumer. */
  def keep(df: DataFrame): DataFrame =
    if (on) mat(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached.add(p)
      p
    }

  def add(key: String, v: Double): Unit =
    if (on) counters.computeIfAbsent((run, key), _ => new DoubleAdder).add(v)

  /** Drops everything [[mat]] cached; called between passes. */
  def release(): Unit = {
    var df = cached.poll()
    while (df != null) { df.unpersist(blocking = true); df = cached.poll() }
  }

  def counter(run: Int, key: String): Double = Option(counters.get((run, key))).fold(0.0)(_.sum())
}

object Tracer {
  /** Self time: the span's duration minus the union of its children's intervals. */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }
}

/** Engine-side work per span, attributed through the job group the [[Tracer]] set. */
final class SpanListener extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  }
  val bySpan = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def acc(span: Long) = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey.value)))
      .flatMap(_.toLongOption).foreach { span =>
        acc(span).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => acc(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (span <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(span)
      a.tasks.incrementAndGet()
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.diskBytesSpilled)
    }

  def get(span: Long): Option[Acc] = Option(bySpan.get(span))
}
