package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SessionBuilderSpec extends SparkSpec {
  import spark.implicits._

  private val acc = Seq(
    ("SRR1", "GSM1", "Liver", "BN/NHsdMcwi", "M", "123", "http://geo", "Title A",
      "age: 12 weeks; treatment: \"control\"", "http://rgd"))
    .toDF("Run", "geo_accession", "Tissue", "Strain", "Sex", "PMID", "GEOpath",
      "Title", "Sample_characteristics", "StrainInfo")

  // three project tracks in two biological groups, out of path order
  private def projectTracks: DataFrame = Seq(
    ("t_b", "grpB", "/p/2.json"), ("t_a", "grpA", "/p/1.json"), ("t_c", "grpA", "/p/3.json"))
    .toDF("trackId", "combo_key", "_path")

  // two source projects' track docs, written through the REAL track-json path
  private def combinedTrackDocs(): DataFrame = {
    val dir = tempDir()
    Seq(("OLD_A", "p1"), ("OLD_B", "p2")).foreach { case (prj, sub) =>
      val d = Files.createDirectories(dir.resolve(sub))
      val doc = AccListOps.withUniqueName(
          acc.withColumn("GEOpath",
            lit(s"https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=$prj&db=gds")))
        .withColumn("ComputedSex", lit("F"))
        .select(SessionBuilder.trackJson(prj).as("doc")).head().getString(0)
      // make trackIds distinct across projects so both tracks survive
      Files.writeString(d.resolve(s"RNAseq_$sub.json"), doc.replace("GSM1", s"GSM_$sub"))
    }
    graft.io.TsvSources.readTrackJsons(spark, s"$dir/*/RNAseq_*.json")
  }

  private def pinned(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/ops/$name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  test("per-sample track JSON: structure, escaping, Unknown sex default (C6/F4/J4)") {
    val df = AccListOps.withUniqueName(acc)
      .withColumn("ComputedSex", lit(null).cast("string"))
      .select(SessionBuilder.trackJson("PRJNA1").as("doc"))
    val json = df.head().getString(0)
    val node = new ObjectMapper().readTree(json) // C7: parse-back fail-fast
    assert(node.get("type").asText() == "FeatureTrack")
    assert(node.get("trackId").asText() == "RNAseq_Liver_BN/NHsdMcwi_M_GSM1")
    assert(node.get("metadata").get("Computed Sex").asText() == "Unknown")
    assert(node.get("metadata").get("Sample Characteristic").asText()
      == "age: 12 weeks; treatment: \"control\"") // quotes escaped in transit
    assert(node.get("metadata").get("PubMed ID").asText() == "PMID:123")
    assert(node.get("adapter").get("bigWigLocation").get("uri").asText()
      == "RNAseq_Liver_BN/NHsdMcwi_M_GSM1.bigwig")
    assert(node.get("displays").get(0).get("displayId").asText()
      == "RNAseq_Liver_BN/NHsdMcwi_M_GSM1-LinearWiggleDisplay")
  }

  test("session doc: gene track first, colors by first-seen group, viewport math") {
    val json = SessionBuilder.buildSession(projectTracks, "PRJNA1", "2026-01-01T00:00:00")
    val root = new ObjectMapper().readTree(json).get("session")
    assert(root.get("name").asText() == "PRJNA1_RNAseq_expression")
    val view = root.get("views").get(0)
    val vt = view.get("tracks")
    assert(vt.get(0).get("type").asText() == "FeatureTrack") // gene track injected first
    assert(vt.get(1).get("configuration").asText() == "t_a") // path-sorted after
    // first-seen: grpA (path /p/1) → palette(0); grpB → palette(1)
    val colorOf = (i: Int) => vt.get(i).get("displays").get(0).get("color").asText()
    assert(colorOf(1) == ColorAssigner.Palette(0))
    assert(colorOf(2) == ColorAssigner.Palette(1))  // t_b
    assert(colorOf(3) == ColorAssigner.Palette(0))  // t_c shares grpA color
    // viewport math: bpPerPx = window/2000, offset = (start-1)/bpPerPx (F12)
    val bp = view.get("bpPerPx").asDouble()
    assert(math.abs(bp - (14497135 - 12315273 + 1) / 2000.0) < 1e-9)
    assert(math.abs(view.get("offsetPx").asDouble() - 12315272 / bp) < 1e-9)
    val st = root.get("sessionTracks")
    assert(st.size() == 3)
    assert(st.get(0).get("type").asText() == "QuantitativeTrack")
    assert(st.get(0).get("adapter").get("bigWigLocation").get("uri").asText()
      .startsWith("https://download.rgd.mcw.edu/expression/PRJNA1/"))
  }

  test("combined session: geoAcc/acc links rewritten to combined id, Project Accession ID preserved") {
    val json = SessionBuilder.buildCombinedSession(combinedTrackDocs(), "GSE_NEW", "2026-01-01")
    val root = new ObjectMapper().readTree(json).get("session")
    assert(root.get("name").asText() == "GSE_NEW_RNAseq_expression")
    val st = root.get("sessionTracks")
    assert(st.size() == 2)
    (0 until 2).foreach { i =>
      val md = st.get(i).get("metadata")
      // update_project_links: ONLY the two public links rewritten…
      assert(md.get("RGD Metadata Report").asText()
        == "https://rgd.mcw.edu/rgdweb/report/expressionStudy/main.html?geoAcc=GSE_NEW")
      assert(md.get("Project Repository Link").asText()
        == "https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=GSE_NEW&db=gds")
      assert(st.get(i).get("adapter").get("bigWigLocation").get("uri").asText()
        .startsWith("https://download.rgd.mcw.edu/expression/GSE_NEW/"))
      assert(st.get(i).get("type").asText() == "QuantitativeTrack")
    }
    // …and Project Accession ID keeps the SOURCE project id (traceability)
    assert((0 until 2).map(i =>
      st.get(i).get("metadata").get("Project Accession ID").asText()).toSet
      == Set("OLD_A", "OLD_B"))
    // both tracks share one biological group → one first-seen color
    val view = root.get("views").get(0).get("tracks")
    assert(view.get(1).get("displays").get(0).get("color").asText()
      == ColorAssigner.Palette(0))
    assert(view.get(2).get("displays").get(0).get("color").asText()
      == ColorAssigner.Palette(0))
  }

  test("session documents: exact bytes (key order, indent, number format) of both builders") {
    assert(SessionBuilder.buildSession(projectTracks, "PRJNA1", "2026-01-01T00:00:00")
      == pinned("session_project.json"))
    assert(SessionBuilder.buildCombinedSession(combinedTrackDocs(), "GSE_NEW", "2026-01-01")
      == pinned("session_combined.json"))
  }

  test("rewrite columns: first geoAcc/acc param rewritten, other params intact") {
    val df = Seq(("https://x/main.html?geoAcc=OLD&tab=2", "https://y/q?acc=OLD2&db=gds"))
      .toDF("rgd", "repo")
      .select(
        SessionBuilder.rewriteGeoAccLink(col("rgd"), "NEW").as("rgd"),
        SessionBuilder.rewriteAccLink(col("repo"), "NEW").as("repo"))
    val r = df.head()
    assert(r.getString(0) == "https://x/main.html?geoAcc=NEW&tab=2")
    assert(r.getString(1) == "https://y/q?acc=NEW&db=gds")
  }
}
