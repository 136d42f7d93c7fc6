package graft.driver

import graft.ops.AccListOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Project-level batch orchestration (SURVEY §3.1) —
  * `bulk_orchestrator_production_diskGuard.bash` re-expressed as a driver-side
  * scheduler over Spark jobs instead of SLURM submissions.
  *
  * Semantics preserved:
  *   - classification: distinct-sample count; ≤ `smallMax` (20) = small (`:34,73-91`),
  *   - admission: at most `maxSmallConcurrent` (4) small projects at once, OR one
  *     large project in isolation — never both (`:339-364`),
  *   - resume: projects whose steps already completed (marker set) are not
  *     re-admitted (`:266-283` `.step1_complete`/`.step2_complete`),
  *   - each admitted project runs its steps in order; a step failure fails the
  *     project without blocking others (`:377-443`).
  *
  * The Spark analog of node-parallel SLURM jobs is concurrent driver threads each
  * submitting jobs to the shared session. Nothing sets a scheduler pool, so the
  * session schedules those jobs FIFO: a project's ready stages queue behind the
  * stages of jobs submitted earlier by other projects. `runProject` is injectable
  * so specs exercise the scheduling policy without real pipelines.
  */
object Orchestrator {

  final case class Project(name: String, accListPath: String, readLength: Int,
                           sampleCount: Long, sizeClass: String)

  // COMPLETE | FAILED | SKIPPED | COMPLETE_SE | FAILED_SE
  final case class Outcome(project: String, status: String)

  /** Per-project step result for the routed runner — the three-way exit-code
    * protocol of `SRA2QC_production.sh:227-247` (0 = ok, 1 = failure,
    * 2 = wrong layout → single-end pipeline). */
  sealed trait StepResult
  case object StepOk extends StepResult
  case object StepFailed extends StepResult
  case object StepWrongLayout extends StepResult

  /** Classify every project in a project-list frame (S2 + A1). */
  def classifyProjects(spark: SparkSession, projectList: DataFrame,
                       readAccList: String => DataFrame,
                       smallMax: Long = 20L): Seq[Project] =
    projectList.collect().map { r =>
      val (n, cls) = AccListOps.classifyProject(readAccList(r.getString(0)), smallMax)
      Project(r.getString(1), r.getString(0), r.getInt(2), n, cls)
    }.toSeq

  /** Admission schedule: greedy waves honoring the reference's rules — a wave is
    * either up to `maxSmallConcurrent` small projects or exactly one large one.
    * Returns the wave list (deterministic: input order preserved, `:299-364`). */
  def schedule(projects: Seq[Project], completed: Set[String],
               maxSmallConcurrent: Int = 4): Seq[Seq[Project]] = {
    val pending = projects.filterNot(p => completed.contains(p.name))
    val waves = Seq.newBuilder[Seq[Project]]
    var queue = pending
    while (queue.nonEmpty) {
      queue.head.sizeClass match {
        case "large" =>
          waves += Seq(queue.head)
          queue = queue.tail
        case _ =>
          val (smalls, rest) = queue.span(_.sizeClass == "small")
          smalls.grouped(maxSmallConcurrent).foreach(g => waves += g)
          queue = rest
      }
    }
    waves.result()
  }

  /** Run all pending projects wave by wave; projects inside a wave run
    * concurrently, one driver thread each, their jobs sharing the FIFO scheduler. */
  def runAll(projects: Seq[Project], completed: Set[String],
             runProject: Project => Boolean,
             maxSmallConcurrent: Int = 4): Seq[Outcome] = {
    val done = projects.filter(p => completed.contains(p.name))
      .map(p => Outcome(p.name, "SKIPPED"))
    val ran = schedule(projects, completed, maxSmallConcurrent).flatMap { wave =>
      val threads = wave.map { p =>
        val holder = new java.util.concurrent.atomic.AtomicBoolean(false)
        val t = new Thread(() => holder.set(
          try runProject(p) catch { case _: Exception => false }))
        t.start()
        (p, t, holder)
      }
      threads.map { case (p, t, ok) =>
        t.join()
        Outcome(p.name, if (ok.get()) "COMPLETE" else "FAILED")
      }
    }
    done ++ ran
  }

  /** [[runAll]] with the wrong-layout routing protocol: a project whose paired-end
    * run reports [[StepWrongLayout]] (kernel exit 2) is NOT a failure — it is
    * re-queued through `runProjectSE` (the single-end pipeline), exactly the
    * caller-side contract `SRA2QC_production.sh:227-247` documents ("resubmit
    * through the single-end pipeline"). SE re-runs happen after the main waves,
    * scheduled under the same admission rules. */
  def runAllRouted(projects: Seq[Project], completed: Set[String],
                   runProject: Project => StepResult,
                   runProjectSE: Project => Boolean,
                   maxSmallConcurrent: Int = 4): Seq[Outcome] = {
    val rerouted = new java.util.concurrent.ConcurrentLinkedQueue[Project]()
    val first = runAll(projects, completed,
      runProject = p => runProject(p) match {
        case StepOk          => true
        case StepFailed      => false
        case StepWrongLayout => rerouted.add(p); false
      }, maxSmallConcurrent)
    import scala.jdk.CollectionConverters._
    val seProjects = rerouted.iterator().asScala.toSeq.sortBy(_.name)
    val seByName = seProjects.map(_.name).toSet
    val seOutcomes = runAll(seProjects, Set.empty,
      runProject = runProjectSE, maxSmallConcurrent)
      .map(o => o.copy(status = if (o.status == "COMPLETE") "COMPLETE_SE" else "FAILED_SE"))
    first.filterNot(o => seByName.contains(o.project)) ++ seOutcomes
  }
}
