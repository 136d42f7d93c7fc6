package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal visibility bridge: `ExpressionUtils` is `private[sql]`, so the
  * Column ⇄ catalyst-Expression conversions needed to expose custom expressions
  * through the public Column API are re-exported from inside the sql package
  * tree. No behavior of Spark is modified. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → Expression conversion. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper, which Dataset operations convert during
    * their own analysis — but an expression returned from a
    * FunctionRegistry/`injectFunction` builder is spliced into an
    * already-running analysis pass that never re-enters the column-node
    * converter, so the wrapper survives to codegen and fails as Unevaluable.
    * Function builders must convert eagerly through the classic converter. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A frame's analyzed logical plan — input side for custom logical nodes. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a (possibly custom) logical plan back into a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Strip a ROOT-level global Sort from the frame's logical plan, if present.
    * Used by the bench harness: the trailing orderBy on every declared query
    * exists only so the correctness comparator gets deterministic files (it
    * re-sorts rows itself), and a global output sort is precisely the op one
    * would never run at scale. Top-k sorts live UNDER Limit nodes, so they are
    * not at the root and are preserved. */
  def dropRootSort(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], s.child)
      case _ => df
    }

  /** The frame computed as ONE final partition, for callers that hand every row to
    * one consumer (a single-file sink, a driver collect). A ROOT-level global Sort
    * becomes a task-local sort over that partition, so neither the range-partition
    * sample job nor the sort exchange runs.
    *
    * The partition is a `coalesce(1)` of the (unsorted) frame, which runs the plan's
    * last stage as the one task. When that stage would end in an aggregation's
    * final merge (the plan below the sort is an Aggregate under projections and
    * filters, e.g. a pivot), the frame is shuffled into one partition instead: the
    * merge stays spread over the shuffle's partitions, at one more stage. */
  def inOneTask(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def endsInAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case p: Project => endsInAggregate(p.child)
      case f: Filter => endsInAggregate(f.child)
      case _ => false
    }
    def one(p: LogicalPlan): LogicalPlan = Repartition(1, shuffle = endsInAggregate(p), p)
    ofRows(df.sparkSession, df.queryExecution.logical match {
      case s: Sort if s.global => s.copy(global = false, child = one(s.child))
      case p => one(p)
    })
  }

  /** Runtime function registration on an EXISTING session (the
    * `spark.sql.extensions` config path only applies at session creation). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       name: String,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** Synchronously drop the block-store blocks behind a `localCheckpoint`'ed
    * frame (the checkpoint RDD inside its LogicalRDD leaf). `Dataset
    * .unpersist` only talks to the cache manager, which knows nothing about
    * checkpoint RDDs — without this, a loop of per-pass checkpoints can only
    * be reclaimed by GC-triggered ContextCleaner waves, which are async and
    * can lag multiple passes behind the disk they need to free. */
  def unpersistFrame(df: org.apache.spark.sql.DataFrame, blocking: Boolean): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Shuffle IDs currently registered with the driver's MapOutputTracker.
    * Snapshot before a bounded unit of work; the set difference afterwards is
    * the shuffles registered during it — by ANY thread of the SparkContext,
    * which is why [[withTrackedShuffles]] intersects this delta with
    * listener-proven ownership before anything is deleted. */
  def registeredShuffleIds(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    spark.sparkContext.env.mapOutputTracker match {
      case m: org.apache.spark.MapOutputTrackerMaster =>
        m.shuffleStatuses.keySet.toSet
      case _ => Set.empty
    }

  /** Run `body` under a unique job group on the calling thread and return its
    * result together with the shuffle IDs PROVABLY OWNED by that unit of
    * work. Ownership is established two ways and intersected:
    *
    *   - a `SparkListener` records `StageInfo.shuffleDepId` for every stage
    *     of every job whose `spark.jobGroup.id` property matches the unique
    *     group (job groups are thread-local, so jobs submitted concurrently
    *     by OTHER threads/sessions of the same SparkContext can never match);
    *   - the MapOutputTracker registration delta across `body` (so a stage
    *     that merely RE-READS a pre-existing shuffle — e.g. a skipped stage
    *     over a still-registered exchange — contributes nothing).
    *
    * delta ∩ owned = shuffles both created during the unit AND belonging to
    * its jobs, which is exactly the set [[cleanupShuffles]] may safely
    * delete while concurrent queries run on the same context. The listener
    * bus is drained before the set is read (job-start events are async). */
  def withTrackedShuffles[T](spark: org.apache.spark.sql.SparkSession,
                             tag: String)(body: => T): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val groupId = s"graft-shuffle-scope-$tag-${java.util.UUID.randomUUID()}"
    val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID) == groupId))
          js.stageInfos.foreach(_.shuffleDepId.foreach(id => owned.add(id)))
    }
    val before = registeredShuffleIds(spark)
    val prevGroup = sc.getLocalProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID)
    val prevDesc = sc.getLocalProperty(org.apache.spark.SparkContext.SPARK_JOB_DESCRIPTION)
    // setJobGroup also overwrites interruptOnCancel; save it for restore so a
    // caller thread that opted into task interruption keeps that behavior.
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.addSparkListener(listener)
    sc.setJobGroup(groupId, s"graft tracked unit: $tag")
    // Drain pending job-start events (async) before reading `owned`. A drain
    // timeout must NOT fail the unit after `body` already ran: missed events
    // only shrink delta ∩ owned, i.e. err toward keeping a shuffle alive —
    // never toward deleting a live one.
    def ownedDelta(): Set[Int] = {
      try sc.listenerBus.waitUntilEmpty()
      catch { case _: java.util.concurrent.TimeoutException => () }
      val delta = registeredShuffleIds(spark) -- before
      import scala.jdk.CollectionConverters._
      delta & owned.asScala.toSet
    }
    try {
      val r = body
      (r, ownedDelta())
    } catch { case scala.util.control.NonFatal(e) =>
      // A unit that dies mid-way still registered shuffles; without this they
      // fall to the async ContextCleaner — the exact disk-accumulation mode
      // the scope exists to prevent on disk-capped segmented legs. The
      // aborted unit's shuffles are dead by definition (its result is never
      // observed), so they are cleaned here, best-effort, before rethrowing.
      try cleanupShuffles(spark, ownedDelta())
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(org.apache.spark.SparkContext.SPARK_JOB_GROUP_ID, prevGroup)
      sc.setLocalProperty(org.apache.spark.SparkContext.SPARK_JOB_DESCRIPTION, prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
  }

  /** Synchronously unregister the given shuffles and delete their map-output
    * files (on executors this is a BlockManager `RemoveShuffle` broadcast,
    * the same path the ContextCleaner drives — `blocking = true` waits for
    * every executor's ack). The ContextCleaner alone does this only when a GC
    * proves the ShuffleDependency unreachable — an async path that can lag
    * many passes behind the disk it needs to free (a segmented pass loop died
    * of disk exhaustion at pass 12/18 relying on it). Callers must pass only
    * shuffles they own — use [[withTrackedShuffles]], whose job-group
    * listener scoping guarantees a concurrent query's live shuffle can never
    * land in the set; IDs already unregistered are skipped. */
  def cleanupShuffles(spark: org.apache.spark.sql.SparkSession,
                      ids: Set[Int]): Unit = {
    val live = registeredShuffleIds(spark)
    spark.sparkContext.cleaner.foreach { c =>
      (ids & live).foreach(id => c.doCleanupShuffle(id, blocking = true))
    }
  }

  /** Block until all queued listener events are delivered — metric listeners
    * (bytes-read sampling in the measurement tools) are async and a snapshot
    * taken right after an action can miss its own tasks. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The DRIVER's disk block-store directories (the `blockmgr-*` roots) —
    * lets multi-executor disk instrumentation attribute sampled `blockmgr-*`
    * trees to driver vs executors by exact path instead of guessing. */
  def driverBlockManagerDirs(spark: org.apache.spark.sql.SparkSession): Seq[String] =
    spark.sparkContext.env.blockManager.diskBlockManager.localDirs
      .map(_.getAbsolutePath).toSeq

  /** Runtime TABLE-function registration — `SELECT * FROM fn(args)` in the
    * FROM clause resolves through the session's TableFunctionRegistry. */
  def registerTableFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
