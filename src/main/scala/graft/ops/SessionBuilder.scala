package graft.ops

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Track/session JSON assembly (C6 + S11) — JBrowse2 documents.
  *
  * Per-sample track docs (`BWjson_v7.sh:119-164`) are built as `to_json(struct(…))`
  * column expressions — one JSON string per row, fully distributed.
  *
  * The project session doc (`make_jbrowse_session_for_bioproject.py:150-267`) is a
  * SINGLE small document assembled on the driver from the collected track rows
  * (tens of rows — the reference's own design): tracks are path-sorted (O6),
  * color-grouped first-seen (C5 via [[ColorAssigner]]), forced to
  * QuantitativeTrack with a templated public BigWig URI, a gene track injected
  * first, and the Chr4 viewport math applied (`:223-235`). Ordered maps keep the
  * reference's key order; output is `indent=2`-style JSON via Jackson (bundled
  * with Spark).
  */
object SessionBuilder {

  /** J4/S8 lookup default (`BWjson_v7.sh:77-87`). */
  val UnknownSex = "Unknown"

  /** Per-sample track JSON column (`BWjson_v7.sh:119-164`). Expects AccList
    * columns + `unique_name` (P3) + `ComputedSex` (may be null → Unknown). */
  def trackJson(bioProjectId: String): Column = {
    val uname = col("unique_name")
    val tid = concat(lit("RNAseq_"), uname)
    to_json(struct(
      lit("FeatureTrack").as("type"),
      tid.as("trackId"),
      tid.as("name"),
      array(lit("RNA-Seq"), col("Tissue"), col("Strain")).as("category"),
      array(lit("GRCr8")).as("assemblyNames"),
      struct(
        col("Sample_characteristics").as("Sample Characteristic"),
        col("Tissue").as("Tissue"),
        col("Strain").as("Strain"),
        col("StrainInfo").as("RGD Strain Report"),
        col("Sex").as("Sex"),
        coalesce(col("ComputedSex"), lit(UnknownSex)).as("Computed Sex"),
        concat(lit("https://rgd.mcw.edu/rgdweb/report/expressionStudy/main.html?geoAcc="),
          lit(bioProjectId)).as("RGD Metadata Report"),
        col("Title").as("Project Title"),
        col("GEOpath").as("Project Repository Link"),
        lit(bioProjectId).as("Project Accession ID"),
        col("geo_accession").as("Sample Accession ID"),
        concat(lit("PMID:"), col("PMID")).as("PubMed ID"),
        lit("HPC RGD workflow").as("Data Processing"),
        lit("STAR v2.7.10b").as("Read alignment"),
        lit("GCF_036323735.1 GRCr8").as("Genome version"),
        lit("RSEM v1.3.1").as("Expression Quantification")).as("metadata"),
      struct(
        lit("BigWigAdapter").as("type"),
        struct(
          lit("UriLocation").as("locationType"),
          concat(tid, lit(".bigwig")).as("uri")).as("bigWigLocation")).as("adapter"),
      array(struct(
        lit("LinearWiggleDisplay").as("type"),
        concat(tid, lit("-LinearWiggleDisplay")).as("displayId"))).as("displays")))
  }

  /** Combined-project link rewriting — `update_project_links`
    * (`make_jbrowse_session_for_combined_bioproject_v2.py:55-84`). ONLY the two
    * public-facing links are touched; `Project Accession ID` is never modified
    * (traceability back to the source project). The regexes are the reference's
    * own (`geoAcc=[^&]+` / `acc=[^&]+`), substring semantics included. */
  def rewriteGeoAccLink(c: Column, combinedId: String): Column =
    regexp_replace(c, "geoAcc=[^&]+", s"geoAcc=$combinedId")

  def rewriteAccLink(c: Column, combinedId: String): Column =
    regexp_replace(c, "acc=[^&]+", s"acc=$combinedId")

  // Viewport constants (`make_jbrowse_session_for_bioproject.py:210-235`).
  private val TargetStart1 = 12315273L
  private val TargetEnd1 = 14497135L
  private val WholeChr4End = 1000000000L
  private val ViewportPx = 2000.0

  private def jmap(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def jlist(xs: Any*): JList[Any] = {
    val l = new JList[Any]()
    xs.foreach(l.add)
    l
  }

  /** Assemble the project session JSON.
    *
    * @param tracks frame with `trackId`, `combo_key` (from [[ColorAssigner.comboKey]])
    *               and `_path` (sort key, O6); collected to the driver — one row per
    *               sample, the doc is a single small artifact by design.
    * @return the session JSON string (indent-2, like `json.dump(..., indent=2)`)
    */
  def buildSession(tracks: DataFrame, bioProjectId: String,
                   timestamp: String): String = {
    val sorted = ColorAssigner.assign(tracks)
      .select(col("trackId"), col("color"), col("_path"))
      .orderBy(col("_path"))
    assemble(sorted, bioProjectId,
      s"Auto-generated session for $bioProjectId on $timestamp")(_ => Nil)
  }

  /** The document both builders share: the gene track injected first
    * (`:203-218`; combined `:265-280`), then per row of `sorted` (colored,
    * path-ordered; collected in one task) a session track — forced type,
    * public BigWig URI under `id`, renderer colors (`:111-176`) — and a view
    * track with the display color (`:186-200`), under the Chr4 viewport
    * (F12, `:223-235`). `extraFields` adds per-track session fields between
    * `trackId` and `adapter`. */
  private def assemble(sorted: DataFrame, id: String, description: String)
                      (extraFields: Row => Seq[(String, Any)]): String = {
    val colored = ColumnBridge.inOneTask(sorted).collect()
    val sessionTracks = new JList[Any]()
    val viewTracks = jlist(jmap(
      "id" -> "F-8qwRhumS", "type" -> "FeatureTrack",
      "configuration" -> "Rat GRCr8 (rn8) Genes and Transcripts-GRCr8",
      "minimized" -> false,
      "displays" -> jlist(jmap(
        "id" -> "uZq89S4_XC", "type" -> "LinearBasicDisplay",
        "heightPreConfig" -> 152,
        "configuration" -> "Rat GRCr8 (rn8) Genes and Transcripts-GRCr8-LinearBasicDisplay"))))

    colored.foreach { r =>
      val tid = r.getAs[String]("trackId")
      val color = r.getAs[String]("color")
      val uri = s"https://download.rgd.mcw.edu/expression/$id/Genome-wide_read_coverage_BigWig_files/$tid.bigwig"
      sessionTracks.add(jmap(
        Seq("type" -> "QuantitativeTrack", "trackId" -> tid) ++ extraFields(r) ++ Seq(
          "adapter" -> jmap(
            "type" -> "BigWigAdapter",
            "bigWigLocation" -> jmap("locationType" -> "UriLocation", "uri" -> uri)),
          "displays" -> jlist(jmap(
            "type" -> "LinearWiggleDisplay",
            "displayId" -> s"$tid-LinearWiggleDisplay",
            "renderer" -> jmap("type" -> "XYPlotRenderer", "color1" -> color),
            "renderers" -> jmap("XYPlotRenderer" ->
              jmap("type" -> "XYPlotRenderer", "color1" -> color)),
            "defaultRendering" -> "xyplot"))): _*))
      viewTracks.add(jmap(
        "type" -> "QuantitativeTrack",
        "configuration" -> tid,
        "displays" -> jlist(jmap(
          "type" -> "LinearWiggleDisplay",
          "displayId" -> s"$tid-LinearWiggleDisplay",
          "color" -> color,
          "defaultRendering" -> "xyplot"))))
    }

    val windowBp = math.max(1L, TargetEnd1 - TargetStart1 + 1)
    val bpPerPx = math.max(1.0, windowBp / ViewportPx)
    val offsetPx = (TargetStart1 - 1).toDouble / bpPerPx

    val root = jmap("session" -> jmap(
      "name" -> s"${id}_RNAseq_expression",
      "description" -> description,
      "views" -> jlist(jmap(
        "id" -> "lgv1", "type" -> "LinearGenomeView",
        "tracks" -> viewTracks,
        "displayedRegions" -> jlist(jmap(
          "assemblyName" -> "GRCr8", "refName" -> "Chr4",
          "start" -> 0, "end" -> WholeChr4End)),
        "bpPerPx" -> bpPerPx,
        "offsetPx" -> offsetPx)),
      "sessionTracks" -> sessionTracks))

    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // metadata key order of the per-sample track docs ([[trackJson]]) — the
  // combined builder reconstructs metadata in this order
  private val MetadataKeys = Seq(
    "Sample Characteristic", "Tissue", "Strain", "RGD Strain Report", "Sex",
    "Computed Sex", "RGD Metadata Report", "Project Title",
    "Project Repository Link", "Project Accession ID", "Sample Accession ID",
    "PubMed ID", "Data Processing", "Read alignment", "Genome version",
    "Expression Quantification")

  /** Assemble the COMBINED-project session JSON
    * (`make_jbrowse_session_for_combined_bioproject_v2.py:94-332`): track docs
    * from several merged projects are path-sorted (O6), their public-facing
    * links rewritten to the combined id (`update_project_links`, `:165`) while
    * `Project Accession ID` stays the SOURCE project's for traceability
    * (`:30,61-63`), types forced to QuantitativeTrack with the combined
    * download URI (`:174-187`), and colors assigned first-seen over the merged
    * biological groups (`:86-91,189-212` — same combo key as the single-project
    * builder). Unlike [[buildSession]], the full per-track metadata rides into
    * `sessionTracks` — the combined doc is self-describing.
    *
    * The rewrite/combo/color stages are DataFrame ops (distributed); only the
    * final document assembly collects — one row per track, the reference's own
    * design scale (tens of rows).
    *
    * @param trackDocs parsed track docs from [[graft.io.TsvSources.readTrackJsons]]
    *                  (glob spanning every merged project's track dir), with `_path`
    */
  def buildCombinedSession(trackDocs: DataFrame, combinedId: String,
                           timestamp: String): String = {
    val md = col("metadata")
    val projected = trackDocs.select(
      col("trackId"), col("_path"), col("name"), col("category"), col("assemblyNames"),
      md.getField("Sample Characteristic").as("Sample_characteristics"),
      md.getField("Tissue").as("Tissue"),
      md.getField("Strain").as("Strain"),
      md.getField("RGD Strain Report").as("RGD Strain Report"),
      md.getField("Sex").as("Sex"),
      coalesce(md.getField("Computed Sex"), lit(UnknownSex)).as("Computed Sex"),
      rewriteGeoAccLink(md.getField("RGD Metadata Report"), combinedId)
        .as("RGD Metadata Report"),
      md.getField("Project Title").as("Project Title"),
      rewriteAccLink(md.getField("Project Repository Link"), combinedId)
        .as("Project Repository Link"),
      md.getField("Project Accession ID").as("Project Accession ID"), // preserved
      md.getField("Sample Accession ID").as("Sample Accession ID"),
      md.getField("PubMed ID").as("PubMed ID"),
      md.getField("Data Processing").as("Data Processing"),
      md.getField("Read alignment").as("Read alignment"),
      md.getField("Genome version").as("Genome version"),
      md.getField("Expression Quantification").as("Expression Quantification"))
    val sorted = ColorAssigner.assign(ColorAssigner.comboKey(projected))
      .orderBy(col("_path"))
    assemble(sorted, combinedId,
      s"Auto-generated combined session for $combinedId on $timestamp") { r =>
      val metadata = new JMap[String, Any]()
      // "Sample Characteristic" was aliased to a legal column name; the rest
      // keep their metadata key verbatim
      MetadataKeys.foreach { k =>
        val colName = if (k == "Sample Characteristic") "Sample_characteristics" else k
        metadata.put(k, r.getAs[String](colName))
      }
      Seq(
        "name" -> r.getAs[String]("name"),
        "category" -> jlist(r.getSeq[String](r.fieldIndex("category")): _*),
        "assemblyNames" -> jlist(r.getSeq[String](r.fieldIndex("assemblyNames")): _*),
        "metadata" -> metadata)
    }
  }
}
