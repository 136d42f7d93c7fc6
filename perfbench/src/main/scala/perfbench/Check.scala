package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import perfbench.Gen._

/** Compares a pass's published artifacts with the generator's manifest. Reads the
  * files with plain Java IO, never through the program. Each method returns the
  * mismatches it found; an empty list means the artifact is correct. */
object Check {

  private def lines(p: Path): Seq[String] =
    if (!Files.isRegularFile(p)) Nil
    else Files.readAllLines(p, UTF_8).asScala.toSeq.map(_.stripSuffix("\r"))

  private def missing(p: Path): Seq[String] =
    if (Files.isRegularFile(p)) Nil else Seq(s"missing ${p.getFileName}")

  /** Report rows after the header, in file order, against the expected rows. */
  def rows(p: Path, expected: Seq[String]): Seq[String] = missing(p) ++ {
    val got = lines(p).drop(1)
    if (!Files.isRegularFile(p) || got == expected) Nil
    else {
      val diff = got.zipAll(expected, "<none>", "<none>").find { case (g, e) => g != e }
      Seq(s"${p.getFileName}: ${got.size} rows vs ${expected.size} expected; first difference ${diff.getOrElse("")}")
    }
  }

  /** Dimensions, column order, row sort order and the cell digest. */
  def matrix(p: Path, t: MatrixTruth): Seq[String] = missing(p) ++ (if (!Files.isRegularFile(p)) Nil else {
    val ls = lines(p)
    val header = ("Symbol" +: t.sources.map(s => "\"" + s + "\"")).mkString("\t")
    val errs = Seq.newBuilder[String]
    if (ls.headOption.getOrElse("") != header) errs += s"${p.getFileName}: header/column order differs"
    val body = ls.drop(1)
    if (body.size != t.rows) errs += s"${p.getFileName}: ${body.size} rows vs ${t.rows}"
    var digest = 0L
    var prev = ""
    var sorted = true
    body.foreach { l =>
      val f = l.split("\t", -1)
      val id = f(0).stripPrefix("\"").stripSuffix("\"")
      if (id < prev) sorted = false
      prev = id
      var i = 1
      while (i < f.length && i <= t.sources.size) { digest += cell(id, t.sources(i - 1), f(i)); i += 1 }
      if (f.length != t.sources.size + 1) errs += s"${p.getFileName}: row $id has ${f.length - 1} cells"
    }
    if (!sorted) errs += s"${p.getFileName}: rows not sorted by Symbol"
    if (digest != t.digest) errs += s"${p.getFileName}: cell digest differs"
    errs.result().take(3)
  })

  /** Row count, the genome-position sort `(chrom, start, end)` and a line digest. */
  def bed(p: Path, t: BedTruth): Seq[String] = missing(p) ++ (if (!Files.isRegularFile(p)) Nil else {
    val ls = lines(p).filter(_.nonEmpty)
    val keys = ls.map { l => val f = l.split("\t"); (f(0), f(1).toLong, f(2).toLong) }
    val sorted = keys.zip(keys.drop(1)).forall { case (a, b) =>
      Ordering.Tuple3[String, Long, Long].lteq(a, b)
    }
    Seq(
      if (ls.size != t.rows) Some(s"${p.getFileName}: ${ls.size} rows vs ${t.rows}") else None,
      if (!sorted) Some(s"${p.getFileName}: not position-sorted") else None,
      if (ls.map(line).sum != t.digest) Some(s"${p.getFileName}: line digest differs") else None).flatten
  })

  /** Session track count and order (gene track first, then the samples). */
  def session(p: Path, trackIds: Seq[String]): Seq[String] = missing(p) ++ (if (!Files.isRegularFile(p)) Nil else {
    val root = Json.mapper.readTree(p.toFile).get("session")
    val got = root.get("sessionTracks").elements().asScala.map(_.get("trackId").asText()).toSeq
    val view = root.get("views").get(0).get("tracks")
    Seq(
      if (got != trackIds) Some(s"${p.getFileName}: ${got.size} session tracks, order/ids differ from ${trackIds.size}") else None,
      if (view.size() != trackIds.size + 1 || view.get(0).get("type").asText() != "FeatureTrack")
        Some(s"${p.getFileName}: view tracks do not lead with the gene track") else None).flatten
  })

  /** Per-sample track JSON: one file per PASS sample, with its computed sex. */
  def tracks(dir: Path, truth: ProjectTruth, gsmOf: String => String): Seq[String] =
    if (!Files.isDirectory(dir)) Seq("missing track dir")
    else {
      val docs = Files.list(dir)
      val files = try docs.iterator().asScala.toSeq finally docs.close()
      val got = files.map(f => Json.mapper.readTree(f.toFile))
      val bad = got.filter { d =>
        val id = d.get("trackId").asText()
        val cs = d.get("metadata").get("Computed Sex").asText()
        !truth.computedSex.get(gsmOf(id)).contains(cs)
      }
      Seq(
        if (got.map(_.get("trackId").asText()).sorted != truth.trackIds.sorted)
          Some(s"track JSON ids differ (${got.size} vs ${truth.trackIds.size})") else None,
        if (bad.nonEmpty) Some(s"${bad.size} track JSONs carry the wrong computed sex") else None).flatten
    }

  def step2(out: Path, t: ProjectTruth): Seq[String] = {
    val n = t.name
    (rows(out.resolve(s"${n}_STAR_Align_sum.txt"), t.qcRows) ++
      rows(out.resolve(s"${n}_sex_result.txt"), t.sexRows) ++
      rows(out.resolve(s"${n}_sex_conflict_report.txt"), t.conflictRows) ++
      t.matrices.flatMap { m =>
        val Array(level, value) = m.kind.split("\\.", 2)
        matrix(out.resolve(matrixName(n, level, value)), m)
      } ++
      t.beds.flatMap(b => bed(out.resolve(s"beds/${b.sample}.geneTPM.bed"), b)) ++
      tracks(out.resolve("tracks"), t, id => id.substring(id.lastIndexOf('_') + 1)) ++
      session(out.resolve(s"${n}_jbrowse_session_GRCr8.json"), t.trackIds)).map(e => s"$n: $e")
  }

  def combine(out: Path, t: CombineTruth, got: Flows.CombineOut): Seq[String] = {
    val id = Flows.CombinedId
    def count(p: Path, n: Long) =
      missing(p) ++ (if (Files.isRegularFile(p) && lines(p).size - 1 != n)
        Seq(s"${p.getFileName}: ${lines(p).size - 1} rows vs $n") else Nil)
    t.matrices.flatMap { m =>
      val Array(level, value) = m.kind.split("\\.", 2)
      matrix(out.resolve(matrixName(id, level, value)), m)
    } ++
      t.stats.toSeq.flatMap { case (k, s) =>
        got.stats.get(k) match {
          case Some(g) if (g.left, g.right, g.merged) == (s.left, s.right, s.merged) => Nil
          case g => Seq(s"MergeStats $k: $g vs $s")
        }
      } ++
      count(out.resolve(s"${id}_sex_result.txt"), t.sexRows) ++
      count(out.resolve(s"${id}_sex_conflict_report.txt"), t.conflictRows) ++
      (if (got.duplicates != t.duplicates) Seq(s"duplicates ${got.duplicates} vs ${t.duplicates}") else Nil) ++
      session(out.resolve(s"${id}_jbrowse_session_GRCr8.json"), t.trackIds)
  }

  /** QC and sex tallies read back from a project's published reports. */
  def tallies(out: Path, name: String): Tallies = {
    val qc = lines(out.resolve(s"${name}_STAR_Align_sum.txt")).drop(1).map(_.split("\t").last)
    val sex = lines(out.resolve(s"${name}_sex_result.txt")).drop(1).map(_.split("\t"))
    Tallies(qc.count(_ == "PASS"), qc.count(_ == "FAIL"), qc.count(_ == "INVALID_LOG"), qc.count(_ == "NO_LOG"),
      sex.count(_.last == "Conflict"), sex.count(_(3) == "Inf"))
  }

  /** Negative self-test: a copy of a correct artifact with one cell changed must be
    * rejected. Returns an error if the checker accepts the corruption. */
  def selfTest(file: Path, expect: Path => Seq[String], scratch: Path): Seq[String] = {
    val ls = lines(file)
    if (ls.size < 2) return Seq(s"self-test: ${file.getFileName} has no data row to corrupt")
    val row = ls(1).split("\t", -1)
    row(row.length - 1) = row.last + "1"
    val copy = scratch.resolve(file.getFileName.toString)
    Files.createDirectories(scratch)
    Files.write(copy, (ls.head +: row.mkString("\t") +: ls.drop(2)).asJava, UTF_8)
    if (expect(copy).isEmpty) Seq(s"self-test: checker accepted a corrupted ${file.getFileName}") else Nil
  }
}
