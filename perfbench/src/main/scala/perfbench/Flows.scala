package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.driver.Orchestrator
import graft.io.{Sinks, TsvSources}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's step-2 and combine flows, driven through the program's public
  * functions in `graft.io`, `graft.ops` and `graft.driver`. Every call into a layer
  * sits in a [[Tracer]] span named after the per-layer metric it feeds.
  */
object Flows {

  /** Session docs carry a timestamp; a fixed one keeps the artifacts comparable. */
  val Timestamp = "2026-01-01T00:00:00"

  private def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** Published matrices are read back as the reference's downstream scripts do;
    * `graft.io` has no matrix reader, so this is Spark's TSV reader. */
  def readTable(spark: SparkSession, path: Path): DataFrame =
    spark.read.option("sep", "\t").option("header", "true").csv(path.toString)

  private def matrix(t: Tracer, long: DataFrame, value: String, sources: Seq[String]): DataFrame =
    if (!t.on) MatrixBuilder.pivotMatrix(long, "gene_id", "source_file", value, sources)
    else {
      // the same two steps pivotMatrix takes, split so each has its own span
      t.span("ops.matrix_check") {
        val bad = MatrixBuilder.consistencyViolations(long, "gene_id", "source_file", sources.size)
          .limit(1).count()
        require(bad == 0, "Number of lines among samples are not equal!")
      }
      t.span("ops.matrix_pivot") {
        t.mat(MatrixBuilder.pivotMatrix(long, "gene_id", "source_file", value, sources, check = false))
      }
    }

  /** One project's step 2 (`run_RNApipeline…` stages 4–11): AccList → STARQC gate →
    * sex call → 4 RSEM matrices → conflict report → (per-sample TPM BED) → track
    * JSON and session JSON. Inputs under `in`, artifacts under `out`. */
  def step2(spark: SparkSession, t: Tracer, in: Path, name: String, out: Path, beds: Boolean): Unit =
    t.span("project") {
      Files.createDirectories(out)
      val acc = t.span("io.read_acclist") { t.mat(TsvSources.readAccList(spark, in.resolve("AccList.txt").toString)) }
      val dedup = t.span("ops.acclist_dedup") { t.keep(AccListOps.dedupKeepFirst(acc)) }
      val logs = t.span("io.read_logs") {
        t.mat(TsvSources.readStarLogs(spark, in.resolve("star/*_STARLog.final.out").toString))
      }
      val qc = t.span("ops.starqc") {
        t.keep(StarQc.summarize(logs, dedup.select(col("geo_accession").as("SampleID"))))
      }
      t.span("io.sink_report") {
        Sinks.writeTsvReport(StarQc.reportView(qc).orderBy("SampleID"), s"$out/${name}_STAR_Align_sum.txt")
        t.add("io.sink_files", 1)
      }
      val passed = t.span("ops.starqc") { t.keep(StarQc.passFilter(dedup, qc)) }
      val idx = t.span("io.read_logs") {
        t.mat(TsvSources.readIdxStats(spark, in.resolve("idx/*_idxstats.txt").toString))
      }
      val sex = t.span("ops.sex") {
        t.keep(SexEstimator.estimate(idx,
          passed.select(col("geo_accession").as("SampleID"), col("Sex").as("InputSex"))))
      }
      t.span("io.sink_report") {
        Sinks.writeTsvReport(sex.drop("ratio_num").orderBy("SampleID"), s"$out/${name}_sex_result.txt")
        t.add("io.sink_files", 1)
      }
      // RSEM ran on the PASS samples; their AccList order is the matrices' column order
      val passIds = t.span("ops.starqc") {
        passed.orderBy("_row_order").select("geo_accession").collect().map(_.getString(0)).toSeq
      }

      for (level <- Seq("genes", "isoforms")) {
        val long = t.span("io.read_rsem") {
          t.mat(TsvSources.readRsemResults(spark, passIds.map(g => s"$in/rsem/$g.$level.results")),
            countAs = "io.read_rsem_rows")
        }
        val sources = passIds.map(g => s"$g.$level.results")
        for (value <- Seq("TPM", "expected_count")) {
          val m = matrix(t, long, value, sources)
          t.span("io.sink_matrix") {
            val f = out.resolve(Gen.matrixName(name, level, value))
            Sinks.writeMatrix(m.orderBy("Symbol"), f.toString)
            t.add("io.sink_files", 1)
            t.add("io.sink_matrix_bytes", Files.size(f).toDouble)
          }
        }
      }

      // ConflictedSampleReport re-reads the published gene TPM matrix
      val tpm = t.span("io.read_matrix") { t.mat(readTable(spark, out.resolve(Gen.matrixName(name, "genes", "TPM")))) }
      val conflict = t.span("ops.conflict") { t.mat(ConflictReport.fromMatrix(sex, tpm)) }
      t.span("io.sink_report") {
        Sinks.writeTsvReport(conflict.orderBy("SampleID"), s"$out/${name}_sex_conflict_report.txt", nullValue = "")
        t.add("io.sink_files", 1)
      }

      if (beds) {
        val ref = t.span("io.read_bed") { t.mat(TsvSources.readBed(spark, in.resolve("ref.bed").toString)) }
        passIds.foreach { g =>
          val gene = t.span("io.read_rsem") {
            t.mat(TsvSources.readRsemResults(spark, Seq(s"$in/rsem/$g.genes.results")).select("gene_id", "TPM"),
              countAs = "io.read_rsem_rows")
          }
          val bed = t.span("ops.tpmbed") { t.mat(TpmBed.build(ref, gene)) }
          t.span("io.sink_bed") {
            Sinks.writeBed(bed, s"$out/beds/$g.geneTPM.bed")
            t.add("io.sink_files", 1)
          }
        }
      }

      t.span("ops.session") {
        val tracks = ColorAssigner.comboKey(AccListOps.withUniqueName(passed)
            .join(sex.select(col("SampleID").as("geo_accession"), col("ComputedSex")), Seq("geo_accession"), "left"))
          .withColumn("trackId", concat(lit("RNAseq_"), col("unique_name")))
          .withColumn("_path", concat(lit(s"$out/"), col("geo_accession"), lit(".json")))
        tracks.select(col("trackId"), SessionBuilder.trackJson(name).as("doc")).collect().foreach { r =>
          // strain names hold '/' (BN/NHsdMcwi): flattened for the file name only
          write(out.resolve("tracks").resolve(r.getString(0).replace('/', '_') + ".json"), r.getString(1))
        }
        write(out.resolve(s"${name}_jbrowse_session_GRCr8.json"), SessionBuilder.buildSession(tracks, name, Timestamp))
        t.add("io.sink_files", passIds.size + 1)
      }
    }

  final case class ProjectRun(name: String, samples: Long, startNs: Long, endNs: Long, error: Option[String])

  /** The bulk orchestrator over a project list: classify, then admit in waves of
    * at most `concurrent` small projects, or one large project alone. Small projects
    * run [[step2]] with per-sample BEDs; the large one runs it without (see README). */
  def batch(spark: SparkSession, t: Tracer, root: Path, out: Path, concurrent: Int): (Seq[ProjectRun], Int, Long) = {
    val runs = new ConcurrentLinkedQueue[ProjectRun]()
    val projects = t.span("driver.classify") {
      Orchestrator.classifyProjects(spark, TsvSources.readProjectList(spark, root.resolve("projects.txt").toString),
        p => TsvSources.readAccList(spark, p))
    }
    val waves = Orchestrator.schedule(projects, Set.empty, concurrent).size
    val runAllNs = System.nanoTime()
    t.span("driver.run_all") {
      Orchestrator.runAll(projects, Set.empty, p => {
        val t0 = System.nanoTime()
        val err =
          try {
            step2(spark, t, Paths.get(p.accListPath).getParent, p.name, out.resolve(p.name), beds = p.sizeClass == "small")
            None
          } catch { case e: Exception => Some(s"${p.name}: $e") }
        runs.add(ProjectRun(p.name, p.sampleCount, t0, System.nanoTime(), err))
        err.isEmpty
      }, concurrent)
    }
    (runs.asScala.toSeq.sortBy(_.name), waves, runAllNs)
  }

  final case class CombineOut(stats: Map[String, ProjectCombiner.MergeStats], duplicates: Seq[String])

  val CombinedId = "PRJCOMBINED"

  /** The `utilities/` two-project combine over published step-2 artifacts. */
  def combine(spark: SparkSession, t: Tracer, root: Path, a: String, b: String, out: Path): CombineOut =
    t.span("project") {
      Files.createDirectories(out)
      val (da, db) = (root.resolve(a), root.resolve(b))
      val accA = t.span("io.read_acclist") { t.mat(TsvSources.readAccList(spark, da.resolve("AccList.txt").toString)) }
      val accB = t.span("io.read_acclist") { t.mat(TsvSources.readAccList(spark, db.resolve("AccList.txt").toString)) }
      val dups = t.span("ops.combine_union") {
        ProjectCombiner.duplicateSamples(accA, accB).collect().map(_.getString(0)).toSeq.sorted
      }
      t.span("io.sink_report") {
        write(out.resolve("duplicate_samples.txt"), dups.map(_ + "\n").mkString)
        t.add("io.sink_files", 1)
      }
      val stats = Gen.MatrixKinds.map { case (level, value) =>
        val ma = t.span("io.read_matrix") { t.mat(readTable(spark, da.resolve(Gen.matrixName(a, level, value)))) }
        // a sample published by both projects keeps the left project's column
        val mb = t.span("io.read_matrix") {
          t.mat(readTable(spark, db.resolve(Gen.matrixName(b, level, value))).drop(dups.map(g => s"$g.$level.results"): _*))
        }
        val (merged, st) = t.span("ops.combine_stats") { ProjectCombiner.mergeMatrices(ma, mb) }
        val m = t.span("ops.combine_merge") { t.mat(merged) }
        t.span("io.sink_matrix") {
          val f = out.resolve(Gen.matrixName(CombinedId, level, value))
          Sinks.writeMatrix(m.orderBy("Symbol"), f.toString)
          t.add("io.sink_files", 1)
          t.add("io.sink_matrix_bytes", Files.size(f).toDouble)
        }
        s"$level.$value" -> st
      }.toMap
      for (report <- Seq("sex_result", "sex_conflict_report")) {
        val ra = t.span("io.read_reports") { t.mat(readTable(spark, da.resolve(s"${a}_$report.txt"))) }
        val rb = t.span("io.read_reports") { t.mat(readTable(spark, db.resolve(s"${b}_$report.txt"))) }
        val u = t.span("ops.combine_union") { t.mat(ProjectCombiner.unionReports(ra, rb)) }
        t.span("io.sink_report") {
          Sinks.writeTsvReport(u.orderBy("SampleID"), s"$out/${CombinedId}_$report.txt")
          t.add("io.sink_files", 1)
        }
      }
      val docs = t.span("io.read_tracks") {
        t.mat(TsvSources.readTrackJsons(spark, s"$root/{$a,$b}/tracks/RNAseq_*.json"))
      }
      t.span("ops.combine_session") {
        write(out.resolve(s"${CombinedId}_jbrowse_session_GRCr8.json"),
          SessionBuilder.buildCombinedSession(docs, CombinedId, Timestamp))
        t.add("io.sink_files", 1)
      }
      CombineOut(stats, dups)
    }
}
