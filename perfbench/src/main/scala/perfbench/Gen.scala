package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded generator of project-shaped step-2 inputs, with the expected outputs
  * (the planted truth) computed independently of the program: plain integer
  * and string arithmetic that re-states the reference's gate rules, no Spark.
  *
  * Cell values are a pure function of (project seed, sample, feature), so the
  * combine truth can be recomputed over the two sides without holding them.
  */
object Gen {

  // ── planted edge cases ─────────────────────────────────────────────────────
  // Each names the reference rule it pins (pSTARQC_v1.sh:85-94, ComputeSex_v5.sh:113-130).
  val FailExact50 = "fail_exact50"   // unmapped rate exactly 50.00 → FAIL (gate is < 50)
  val FailRoundUp = "fail_roundup"   // 49.996 rounds to 50.00 before the compare → FAIL
  val PassBelow = "pass_below"       // 49.994 rounds to 49.99 → PASS
  val Invalid0 = "invalid_zero"      // input reads 0 → INVALID_LOG
  val NoLog = "no_log"               // no Log.final.out at all → NO_LOG
  val YZero = "y_zero"               // chrY mapped 0 → Ratio "Inf" → F
  val Xy40 = "xy_exact40"            // X/Y exactly 40.000000 → M (gate is > 40)
  private val RandomFail = "random_fail"
  val Planted: Seq[String] = Seq(FailExact50, FailRoundUp, PassBelow, Invalid0, NoLog, YZero, Xy40)

  val Markers: Seq[String] = Seq("Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y")
  private val Tissues = Seq("Liver", "Brain", "Heart", "Kidney", "Lung", "Spleen")
  private val Strains = Seq("BN/NHsdMcwi", "SHR/NCrl", "F344/NHsd", "WKY/NCrl", "SS/JrHsdMcwi")
  private val Chroms = (1 to 20).map(i => s"chr$i") ++ Seq("chrX", "chrY")
  private val XLen = 159970021L
  private val YLen = 18315841L

  final case class Spec(name: String, samples: Int, genes: Int,
                        cases: Seq[String], gsmBase: Int, geneOffset: Int = 0,
                        sharedGsms: Seq[String] = Nil)

  /** One deduped sample as the reference's step 2 sees it. */
  final case class Sample(gsm: String, tissue: String, strain: String, sex: String,
                          characteristics: String, status: String,
                          input: Option[Long], unaligned: Option[Long], rate: Option[String],
                          computedSex: String = "", ratio: String = "") {
    def passed: Boolean = status == "PASS"
    def agreement: String = if (sex == computedSex) "Agree" else "Conflict"
    def uniqueName: String = s"${tissue}_${strain}_${sex}_$gsm"
    def trackId: String = "RNAseq_" + uniqueName
  }

  final case class MatrixTruth(kind: String, sources: Seq[String], rows: Long, digest: Long)
  final case class BedTruth(sample: String, rows: Long, digest: Long)

  final case class ProjectTruth(name: String, dir: String, samples: Int, passSamples: Seq[String],
                                qcRows: Seq[String], sexRows: Seq[String], conflictRows: Seq[String],
                                matrices: Seq[MatrixTruth], beds: Seq[BedTruth],
                                trackIds: Seq[String], computedSex: Map[String, String],
                                tallies: Tallies)

  /** Exact per-project counts the traced run reports as `ops.*` counts. */
  final case class Tallies(pass: Long, fail: Long, invalid: Long, noLog: Long, conflicts: Long, inf: Long)
  final case class Stats(left: Long, right: Long, merged: Long)

  final case class CombineTruth(a: String, b: String, dir: String, mergedSamples: Int,
                                matrices: Seq[MatrixTruth], stats: Map[String, Stats],
                                sexRows: Long, conflictRows: Long, duplicates: Seq[String],
                                trackIds: Seq[String])

  final case class Manifest(workload: String, seed: Long, size: String,
                            projects: Seq[ProjectTruth], warmup: Seq[ProjectTruth],
                            combine: Option[CombineTruth], warmupCombine: Option[CombineTruth])

  val MatrixKinds: Seq[(String, String)] = Seq(
    "genes" -> "TPM", "genes" -> "expected_count", "isoforms" -> "TPM", "isoforms" -> "expected_count")
  def matrixName(project: String, level: String, value: String) = s"$project.$level.$value.matrix"

  // ── deterministic value functions ─────────────────────────────────────────
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def strHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }
  /** Order-independent digest of one matrix cell / one text line. */
  def cell(id: String, source: String, value: String): Long =
    mix(strHash(id) * 31 + strHash(source) * 17 + strHash(value))
  def line(s: String): Long = mix(strHash(s))

  private def cents(c: Long): String = {
    val f = c % 100
    s"${c / 100}.${if (f < 10) "0" else ""}$f"
  }

  final class Values(seed: Long, computedSex: Map[String, String]) {
    private def u(gsm: String, feature: String, salt: Long): Long =
      mix(seed ^ mix(strHash(gsm) ^ mix(strHash(feature) + salt)))
    /** RSEM TPM text: ~15 % exactly "0.00" (GeneTPMbed_v2.sh:124 drops those). */
    def tpm(gsm: String, feature: String): String = {
      val h = u(gsm, feature, 1)
      val male = computedSex.get(gsm).contains("M")
      feature match {
        case "Xist" => if (male) cents(10 + (h >>> 40) % 90) else cents(20000 + (h >>> 40) % 60000)
        case m if Markers.contains(m) =>
          if (male) cents(500 + (h >>> 40) % 9000) else "0.00"
        case _ =>
          if ((h >>> 33) % 100 < 15) "0.00"
          else cents(math.pow(10, ((h >>> 11) % 6000) / 1000.0).toLong) // 0.01 .. 10^4
      }
    }
    def count(gsm: String, feature: String): String = cents((u(gsm, feature, 2) >>> 30) % 500000)
    def value(kind: String, gsm: String, feature: String): String =
      if (kind == "TPM") tpm(gsm, feature) else count(gsm, feature)
  }

  def genes(spec: Spec): Seq[String] =
    Markers ++ (spec.geneOffset until spec.geneOffset + spec.genes - Markers.size).map(i => f"Gene$i%06d")
  /** Two isoforms per gene, as the genes.results `transcript_id(s)` column lists. */
  def isoforms(gs: Seq[String]): Seq[String] =
    gs.flatMap(g => Seq(s"$g-T1", s"$g-T2"))

  // ── sample facts ──────────────────────────────────────────────────────────
  /** bc `scale=6` truncating division (ComputeSex_v5.sh), on exact integers. */
  private def trunc6(a: BigInt, b: BigInt): BigInt = a * 1000000 / b
  private def scale6Text(u: BigInt): String = {
    val (i, f) = (u / 1000000, u % 1000000)
    (if (i == 0) "" else i.toString) + "." + ("000000" + f.toString).takeRight(6)
  }
  private def roundRate(unm: Long, input: Long): String = {
    val r = BigDecimal(unm) * 100 / BigDecimal(input)
    r.setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
  }
  /** A half-way tie at the 3rd decimal would make the rounding of the double
    * the program computes ambiguous; random samples never land on one. */
  private def isTie(unm: Long, input: Long): Boolean = (BigInt(unm) * 20000) % input == 0 &&
    (BigInt(unm) * 20000 / input) % 2 == 1

  private def facts(spec: Spec, rnd: java.util.SplittableRandom): (Seq[Sample], Map[String, (Long, Long)]) = {
    val gsms = spec.sharedGsms ++ (spec.sharedGsms.size until spec.samples).map(i => s"GSM${spec.gsmBase + i}")
    // planted cases go to seeded positions, never on shared samples (those must PASS on both sides)
    val slots = new scala.util.Random(rnd.nextLong()).shuffle((spec.sharedGsms.size until spec.samples).toVector)
    // besides the planted cases, a fixed share of samples fails the gate at random
    // positions: the PASS count, and so the matrix width, does not depend on the seed
    val caseOf = (spec.cases ++ Seq.fill(spec.samples / 10)(RandomFail)).zip(slots).map { case (c, i) => i -> c }.toMap
    val idx = Map.newBuilder[String, (Long, Long)]
    val samples = gsms.zipWithIndex.map { case (gsm, i) =>
      val c = caseOf.getOrElse(i, "")
      val input = 5000000L + rnd.nextLong(35000000L)
      val (in, unm) = c match {
        case FailExact50 => (input * 2, input)
        case FailRoundUp => (25000L * (input / 25000), 12499L * (input / 25000))
        case PassBelow => (50000L * (input / 50000), 24997L * (input / 50000))
        case Invalid0 => (0L, 0L)
        case _ =>
          val frac = if (c == RandomFail) 0.55 + rnd.nextDouble() * 0.35 else 0.01 + rnd.nextDouble() * 0.44
          val u0 = (input * frac).toLong
          (input, if (isTie(u0, input)) u0 + 1 else u0)
      }
      val (status, rate, unal) =
        if (c == NoLog) ("NO_LOG", None, None)
        else if (in == 0) ("INVALID_LOG", None, None)
        else {
          val r = roundRate(unm, in)
          (if (BigDecimal(r) < 50) "PASS" else "FAIL", Some(r), Some(unm))
        }
      val base = Sample(gsm, Tissues(rnd.nextInt(Tissues.size)), Strains(rnd.nextInt(Strains.size)),
        if (rnd.nextBoolean()) "M" else "F", s"age: ${4 + rnd.nextInt(20)}w", status,
        if (c == NoLog) None else Some(in), unal, rate)
      // chrX/chrY mapped reads: every aligned sample has idxstats; sex is called on PASS only
      val (xMap, yMap) = c match {
        case YZero => (3000000L + rnd.nextLong(2000000L), 0L)
        case Xy40 =>
          val yMap = 1500L + rnd.nextLong(3000L)
          val target = trunc6(yMap, YLen) * 40
          val xMap = ((target * XLen + 999999) / 1000000).toLong
          (xMap, yMap)
        case _ =>
          val xMap = 2000000L + rnd.nextLong(4000000L)
          val ratio = if (rnd.nextBoolean()) 60 + rnd.nextInt(900) else 2 + rnd.nextInt(30)
          (xMap, math.max(1L, (BigInt(xMap) * YLen / XLen / ratio).toLong))
      }
      if (c != NoLog) idx += gsm -> (xMap, yMap)
      val yu = trunc6(yMap, YLen)
      val (cs, ratio) =
        if (yu == 0) ("F", "Inf")
        else {
          val ru = trunc6(trunc6(xMap, XLen), yu)
          (if (ru > BigInt(40) * 1000000) "F" else "M", scale6Text(ru))
        }
      if (c == Xy40) require(ratio == "40.000000", s"xy40 plant missed: $ratio")
      // ~1 in 7 samples' metadata disagrees with the computed sex
      val sex = if (rnd.nextInt(7) == 0) (if (cs == "M") "F" else "M") else cs
      base.copy(sex = sex, computedSex = cs, ratio = ratio)
    }
    (samples, idx.result())
  }

  // ── writers ───────────────────────────────────────────────────────────────
  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    Files.newBufferedWriter(p, UTF_8)
  }
  private def withWriter(p: Path)(f: BufferedWriter => Unit): Unit = {
    val w = writer(p)
    try f(w) finally w.close()
  }

  private def starLog(input: Long, unm: Long, rnd: java.util.SplittableRandom): String = {
    val mm = if (unm == 0) 0L else rnd.nextLong(unm / 3 + 1)
    val other = if (unm - mm == 0) 0L else rnd.nextLong((unm - mm) / 5 + 1)
    val short = unm - mm - other
    val uniq = math.max(0L, (input - unm) * 9 / 10)
    def pct(n: Long) = if (input == 0) "0.00%" else f"${n * 100.0 / input}%.2f%%"
    def kv(k: String, v: Any) = f"$k%48s |\t$v\n"
    "" + kv("Started job on", "Oct 01 12:00:00") + kv("Started mapping on", "Oct 01 12:01:00") +
      kv("Finished on", "Oct 01 12:40:00") + kv("Mapping speed, Million of reads per hour", "48.00") +
      "\n" + kv("Number of input reads", input) + kv("Average input read length", 300) +
      f"${"UNIQUE READS:"}%48s\n" + kv("Uniquely mapped reads number", uniq) +
      kv("Uniquely mapped reads %", pct(uniq)) + kv("Average mapped length", "298.21") +
      kv("Number of splices: Total", uniq / 3) + kv("Mismatch rate per base, %", "0.31%") +
      f"${"MULTI-MAPPING READS:"}%48s\n" +
      kv("Number of reads mapped to multiple loci", input - unm - uniq) +
      kv("% of reads mapped to multiple loci", pct(input - unm - uniq)) +
      f"${"UNMAPPED READS:"}%48s\n" +
      kv("Number of reads unmapped: too many mismatches", mm) +
      kv("% of reads unmapped: too many mismatches", pct(mm)) +
      kv("Number of reads unmapped: too short", short) + kv("% of reads unmapped: too short", pct(short)) +
      kv("Number of reads unmapped: other", other) + kv("% of reads unmapped: other", pct(other)) +
      f"${"CHIMERIC READS:"}%48s\n" + kv("Number of chimeric reads", 0) + kv("% of chimeric reads", "0.00%")
  }

  private def idxStats(x: Long, y: Long, rnd: java.util.SplittableRandom): String = {
    val sb = new StringBuilder
    Chroms.foreach { c =>
      val (len, mapped) = c match {
        case "chrX" => (XLen, x)
        case "chrY" => (YLen, y)
        case _ => (50000000L + rnd.nextLong(200000000L), rnd.nextLong(20000000L))
      }
      sb ++= s"$c\t$len\t$mapped\t${rnd.nextLong(5000L)}\n"
    }
    sb ++= s"chrM\t16313\t${rnd.nextLong(900000L)}\t0\n"
    sb ++= s"NW_023637726.1\t112043\t${rnd.nextLong(300L)}\t0\n"
    sb ++= "*\t0\t0\t" + rnd.nextLong(1000000L) + "\n"
    sb.toString
  }

  private val AccHeader = "Run\tgeo_accession\tTissue\tStrain\tSex\tPMID\tGEOpath\tTitle\tSample_characteristics\tStrainInfo"
  private def accRow(run: String, s: Sample, project: String, tissue: String, sex: String): String =
    Seq(run, s.gsm, tissue, s.strain, sex, "35000000", s"https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=$project",
      s"Study $project", s.characteristics, "https://rgd.mcw.edu/rgdweb/report/strain/main.html?id=1").mkString("\t")

  /** AccList with multi-run GSMs (later runs carry different Tissue/Sex, so only a
    * keep-first dedup reproduces the truth), `#` comments, CRLF lines and a blank line. */
  private def writeAccList(p: Path, project: String, samples: Seq[Sample], rnd: java.util.SplittableRandom): Unit = {
    val first = samples.zipWithIndex.map { case (s, i) => accRow(s"SRR${9000000 + i * 10}", s, project, s.tissue, s.sex) }
    val extra = samples.zipWithIndex.filter { case (_, i) => i % 5 == 1 }.map { case (s, i) =>
      accRow(s"SRR${9000000 + i * 10 + 1}", s, project,
        Tissues((Tissues.indexOf(s.tissue) + 1) % Tissues.size), if (s.sex == "M") "F" else "M")
    }
    withWriter(p) { w =>
      w.write(AccHeader + "\n")
      w.write(s"# AccList for $project (generated)\n")
      first.zipWithIndex.foreach { case (l, i) =>
        w.write(l + (if (i % 3 == 0) "\r\n" else "\n"))
        if (i == first.size / 2) w.write("# mid-file comment\n\n")
      }
      extra.foreach(l => w.write(l + "\n"))
    }
  }

  private def writeRsem(p: Path, level: String, gsm: String, features: Seq[String], v: Values): Unit =
    withWriter(p) { w =>
      if (level == "genes") {
        w.write("gene_id\ttranscript_id(s)\tlength\teffective_length\texpected_count\tTPM\tFPKM\n")
        features.foreach { g =>
          w.write(s"$g\t$g-T1,$g-T2\t2000.00\t1850.00\t${v.count(gsm, g)}\t${v.tpm(gsm, g)}\t1.00\n")
        }
      } else {
        w.write("transcript_id\tgene_id\tlength\teffective_length\texpected_count\tTPM\tFPKM\tIsoPct\n")
        features.foreach { t =>
          w.write(s"$t\t${t.takeWhile(_ != '-')}\t1500\t1350.00\t${v.count(gsm, t)}\t${v.tpm(gsm, t)}\t1.00\t50.00\n")
        }
      }
    }

  final case class BedRow(chrom: String, start: Long, end: Long, name: String)

  /** Reference BED: sorted, with `NW_` scaffold rows and rows for names no sample has. */
  private def bedRows(gs: Seq[String], rnd: java.util.SplittableRandom): Seq[BedRow] = {
    val named = gs.map { g =>
      val chrom = if (rnd.nextInt(100) < 4) f"NW_0236377${rnd.nextInt(100)}%02d.1" else Chroms(rnd.nextInt(Chroms.size))
      val start = rnd.nextLong(250000000L)
      BedRow(chrom, start, start + 500 + rnd.nextLong(50000), g)
    }
    val orphans = (0 until math.max(3, gs.size / 50)).map { i =>
      val start = rnd.nextLong(250000000L)
      BedRow(Chroms(rnd.nextInt(Chroms.size)), start, start + 1000, s"Orphan$i")
    }
    (named ++ orphans).sortBy(r => (r.chrom, r.start, r.end))
  }

  private def rgb(tpm: Double): String =
    if (tpm <= 0.5) "128,128,128" else if (tpm <= 10.0) "173,216,230"
    else if (tpm <= 1000.0) "0,0,205" else "0,0,139"

  // ── projects ──────────────────────────────────────────────────────────────
  private def qcLine(s: Sample): String =
    Seq(s.gsm, s.input.fold("NA")(_.toString), s.unaligned.fold("NA")(_.toString),
      s.rate.getOrElse("NA"), s.status).mkString("\t")

  /** Writes a project's step-2 inputs under `root/spec.name` and returns its truth. */
  def project(root: Path, spec: Spec, seed: Long, withBeds: Boolean): ProjectTruth = {
    val rnd = new java.util.SplittableRandom(mix(seed ^ strHash(spec.name)))
    val dir = root.resolve(spec.name)
    val (samples, idx) = facts(spec, rnd)
    writeAccList(dir.resolve("AccList.txt"), spec.name, samples, rnd)
    samples.foreach { s =>
      s.input.foreach(in => withWriter(dir.resolve(s"star/${s.gsm}_STARLog.final.out"))(
        _.write(starLog(in, s.unaligned.getOrElse(0L), rnd))))
    }
    idx.foreach { case (gsm, (x, y)) =>
      withWriter(dir.resolve(s"idx/${gsm}_idxstats.txt"))(_.write(idxStats(x, y, rnd)))
    }
    val passed = samples.filter(_.passed)
    val v = new Values(mix(seed ^ strHash(spec.name) ^ 7), passed.map(s => s.gsm -> s.computedSex).toMap)
    val gs = genes(spec)
    val iso = isoforms(gs)
    passed.foreach { s =>
      writeRsem(dir.resolve(s"rsem/${s.gsm}.genes.results"), "genes", s.gsm, gs, v)
      writeRsem(dir.resolve(s"rsem/${s.gsm}.isoforms.results"), "isoforms", s.gsm, iso, v)
    }
    val bed = bedRows(gs, rnd)
    withWriter(dir.resolve("ref.bed"))(w => bed.foreach(r => w.write(s"${r.chrom}\t${r.start}\t${r.end}\t${r.name}\n")))

    val matrices = MatrixKinds.map { case (level, kind) =>
      val feats = if (level == "genes") gs else iso
      val sources = passed.map(s => s"${s.gsm}.$level.results")
      var d = 0L
      for (s <- passed; f <- feats) d += cell(f, s"${s.gsm}.$level.results", v.value(kind, s.gsm, f))
      MatrixTruth(s"$level.$kind", sources, feats.size.toLong, d)
    }
    val geneSet = gs.toSet
    val beds = if (!withBeds) Nil else passed.map { s =>
      val kept = bed.filter(r => geneSet(r.name) && r.chrom.startsWith("chr"))
        .map(r => r -> v.tpm(s.gsm, r.name)).filter(_._2 != "0.00")
      BedTruth(s.gsm, kept.size.toLong, kept.map { case (r, t) =>
        line(s"${r.chrom}\t${r.start}\t${r.end}\t${r.name}\t$t\t.\t${r.start}\t${r.end}\t${rgb(t.toDouble)}")
      }.sum)
    }
    val sorted = samples.sortBy(_.gsm)
    val sexRows = sorted.filter(_.passed).map(s => Seq(s.gsm, s.sex, s.computedSex, s.ratio, s.agreement).mkString("\t"))
    val conflictRows = sorted.filter(_.passed).map(s =>
      (Seq(s.gsm, s.sex, s.computedSex, s.ratio, s.agreement) ++ Markers.map(m => v.tpm(s.gsm, m))).mkString("\t"))
    ProjectTruth(spec.name, spec.name, samples.size, passed.map(_.gsm),
      sorted.map(qcLine), sexRows, conflictRows, matrices, beds,
      passed.sortBy(_.gsm).map(_.trackId), passed.map(s => s.gsm -> s.computedSex).toMap,
      Tallies(samples.count(_.status == "PASS").toLong, samples.count(_.status == "FAIL").toLong,
        samples.count(_.status == "INVALID_LOG").toLong, samples.count(_.status == "NO_LOG").toLong,
        passed.count(_.agreement == "Conflict").toLong, passed.count(_.ratio == "Inf").toLong))
  }

  // ── combine: two projects' published step-2 artifacts ─────────────────────
  private def trackDoc(s: Sample, project: String): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val md = new java.util.LinkedHashMap[String, Any]()
    Seq("Sample Characteristic" -> s.characteristics, "Tissue" -> s.tissue, "Strain" -> s.strain,
      "RGD Strain Report" -> "https://rgd.mcw.edu/rgdweb/report/strain/main.html?id=1", "Sex" -> s.sex,
      "Computed Sex" -> s.computedSex,
      "RGD Metadata Report" -> s"https://rgd.mcw.edu/rgdweb/report/expressionStudy/main.html?geoAcc=$project",
      "Project Title" -> s"Study $project",
      "Project Repository Link" -> s"https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=$project",
      "Project Accession ID" -> project, "Sample Accession ID" -> s.gsm, "PubMed ID" -> "PMID:35000000",
      "Data Processing" -> "HPC RGD workflow", "Read alignment" -> "STAR v2.7.10b",
      "Genome version" -> "GCF_036323735.1 GRCr8", "Expression Quantification" -> "RSEM v1.3.1")
      .foreach { case (k, v) => md.put(k, v) }
    m.put("type", "FeatureTrack"); m.put("trackId", s.trackId); m.put("name", s.trackId)
    m.put("category", java.util.List.of("RNA-Seq", s.tissue, s.strain))
    m.put("assemblyNames", java.util.List.of("GRCr8")); m.put("metadata", md)
    Json.mapper.writeValueAsString(m)
  }

  /** Writes the published artifacts of project `spec` as the program's step 2 would. */
  private def published(root: Path, spec: Spec, seed: Long): (ProjectTruth, Seq[Sample], Values) = {
    val rnd = new java.util.SplittableRandom(mix(seed ^ strHash(spec.name)))
    val dir = root.resolve(spec.name)
    val (samples, _) = facts(spec, rnd)
    writeAccList(dir.resolve("AccList.txt"), spec.name, samples, rnd)
    val passed = samples.filter(_.passed)
    val v = new Values(mix(seed ^ strHash(spec.name) ^ 7), passed.map(s => s.gsm -> s.computedSex).toMap)
    val gs = genes(spec)
    val iso = isoforms(gs)
    MatrixKinds.foreach { case (level, kind) =>
      val feats = if (level == "genes") gs else iso
      withWriter(dir.resolve(matrixName(spec.name, level, kind))) { w =>
        w.write(("Symbol" +: passed.map(s => "\"" + s.gsm + s".$level.results\"")).mkString("\t") + "\n")
        feats.sorted.foreach { f =>
          w.write("\"" + f + "\"")
          passed.foreach(s => { w.write('\t'); w.write(v.value(kind, s.gsm, f)) })
          w.write('\n')
        }
      }
    }
    val sorted = passed.sortBy(_.gsm)
    withWriter(dir.resolve(s"${spec.name}_sex_result.txt")) { w =>
      w.write("SampleID\tInputSex\tComputedSex\tRatio\tAgreement\n")
      sorted.foreach(s => w.write(Seq(s.gsm, s.sex, s.computedSex, s.ratio, s.agreement).mkString("\t") + "\r\n"))
    }
    withWriter(dir.resolve(s"${spec.name}_sex_conflict_report.txt")) { w =>
      w.write((Seq("SampleID", "InputSex", "ComputedSex", "XYRatio", "Agreement") ++ Markers).mkString("\t") + "\n")
      sorted.foreach(s => w.write((Seq(s.gsm, s.sex, s.computedSex, s.ratio, s.agreement) ++
        Markers.map(m => v.tpm(s.gsm, m))).mkString("\t") + "\n"))
    }
    passed.foreach { s =>
      withWriter(dir.resolve(s"tracks/${s.trackId.replace('/', '_')}.json"))(_.write(trackDoc(s, spec.name)))
    }
    val t = ProjectTruth(spec.name, spec.name, samples.size, passed.map(_.gsm), Nil, Nil, Nil, Nil, Nil,
      passed.sortBy(_.trackId.replace('/', '_')).map(_.trackId), Map.empty, Tallies(0, 0, 0, 0, 0, 0))
    (t, passed, v)
  }

  def combine(root: Path, a: Spec, b0: Spec, shared: Int, seed: Long): CombineTruth = {
    val (ta, pa, va) = published(root, a, seed)
    val b = b0.copy(sharedGsms = pa.take(shared).map(_.gsm))
    val (tb, pb, vb) = published(root, b, seed)
    val dups = pa.map(_.gsm).toSet.intersect(pb.map(_.gsm).toSet)
    val pbKept = pb.filterNot(s => dups.contains(s.gsm))
    val (ga, gb) = (genes(a), genes(b))
    val stats = Map.newBuilder[String, Stats]
    val merged = MatrixKinds.map { case (level, kind) =>
      val (fa, fb) = if (level == "genes") (ga, gb) else (isoforms(ga), isoforms(gb))
      val common = fa.toSet.intersect(fb.toSet).toSeq
      stats += s"$level.$kind" -> Stats(fa.size.toLong, fb.size.toLong, common.size.toLong)
      var d = 0L
      for (f <- common) {
        pa.foreach(s => d += cell(f, s"${s.gsm}.$level.results", va.value(kind, s.gsm, f)))
        pbKept.foreach(s => d += cell(f, s"${s.gsm}.$level.results", vb.value(kind, s.gsm, f)))
      }
      MatrixTruth(s"$level.$kind", (pa ++ pbKept).map(s => s"${s.gsm}.$level.results"), common.size.toLong, d)
    }
    CombineTruth(a.name, b.name, root.getFileName.toString, pa.size + pbKept.size, merged, stats.result(),
      (pa.size + pb.size).toLong, (pa.size + pb.size).toLong, dups.toSeq.sorted,
      ta.trackIds ++ tb.trackIds)
  }

  // ── workloads ─────────────────────────────────────────────────────────────
  /** Generates every input of `workload` for `seed` under `dir`; a DONE marker makes
    * the cache reusable per (workload, size, seed). */
  def generate(workload: String, seed: Long, dir: Path): Manifest = {
    val size = Sizes.of(workload)
    // small projects carry two planted cases each, so the batch covers all seven
    def small(root: Path, n: Int, samples: Int, genes: Int, base: Int) =
      (0 until n).map { p =>
        val spec = Spec(f"PRJNA${base + p}%06d", samples, genes,
          Seq(Planted(p % Planted.size), Planted((p + 3) % Planted.size)), gsmBase = 100000 * (base + p + 1))
        project(root, spec, seed, withBeds = true)
      }
    // warm-up inputs are minimal: set-up time is job count and first-use cost, not size
    val m = workload match {
      case "project_batch" =>
        // then the large project, which plants all seven cases and gets no BEDs
        val ps = small(dir.resolve("projects"), size.projects, size.samples, size.genes, 1) :+
          project(dir.resolve("projects"), Spec("PRJWIDE", size.largeSamples, size.largeGenes, Planted,
            gsmBase = 1000000), seed, withBeds = false)
        writeProjectList(dir.resolve("projects/projects.txt"), dir.resolve("projects"), ps)
        val ws = small(dir.resolve("warmup"), 1, 4, 60, 500)
        writeProjectList(dir.resolve("warmup/projects.txt"), dir.resolve("warmup"), ws)
        Manifest(workload, seed, size.toString, ps, ws, None, None)
      case "combine" =>
        def pair(root: Path, n: Int, g: Int, base: Int) = combine(root,
          Spec(s"PRJA$base", n, g, Planted, gsmBase = base * 10000),
          Spec(s"PRJB$base", n - n / 6, g, Planted, gsmBase = base * 10000 + 5000, geneOffset = g / 40),
          shared = 3, seed)
        Manifest(workload, seed, size.toString, Nil, Nil,
          Some(pair(dir.resolve("combine"), size.samples, size.genes, 100)),
          Some(pair(dir.resolve("warmup"), 6, 60, 200)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(dir.resolve("manifest.json"), Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m))
    m
  }

  private def writeProjectList(p: Path, root: Path, ps: Seq[ProjectTruth]): Unit =
    withWriter(p) { w =>
      w.write("# acclist project readlen\n")
      ps.foreach(t => w.write(s"${root.resolve(t.dir).resolve("AccList.txt")} ${t.name} 150\n"))
    }

  def load(dir: Path): Manifest =
    Json.mapper.readValue(dir.resolve("manifest.json").toFile, classOf[Manifest])

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
