package graft.queries

import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** SURVEY §2 operator inventory expressed over the shared test corpus
  * (`TESTDATA.md` TPC-H-ish parquet), each with a DuckDB oracle.
  *
  * Numeric-determinism rules (oracle hash-match):
  *   - sums of doubles go through `DECIMAL(38,6)` (exact, associative) in BOTH
  *     engines, then cast to double — identical bits regardless of partitioning,
  *   - derived doubles use the *same operation order* on both sides,
  *   - money → integer cents via `round(x*100)` (the true value is an integer ±
  *     1 ulp, so both engines' rounding agrees) for bc-style fixed-point paths,
  *   - counts and integer sums are BIGINT on both sides (DuckDB's HUGEINT sums are
  *     cast back),
  *   - every query ends with a total deterministic ORDER BY.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` surfaces differently per environment: older corpora
    * carried parquet TIMESTAMP(NANOS), readable only as a long via the legacy
    * `nanosAsLong` conf; the current corpus writes TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark 4 resolves to TIMESTAMP_NTZ. Branch on
    * the RESOLVED schema — not a conf we hope applies — so the same code yields
    * a micro-precision TimestampType instant everywhere. Contract (shared with
    * the DuckDB oracle's `epoch_ms(ts)`): the stored wall-clock IS the UTC
    * instant, and the session timezone is UTC (the same contract q25's
    * shipdate→timestamp cast already relies on), so the NTZ→timestamp cast is a
    * pure reinterpretation. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val df =
      try t(s, dir, "events")
      catch { case _: Exception => // TIMESTAMP(NANOS) environments reject the scan
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        t(s, dir, "events")
      }
    df.schema("ts").dataType match {
      case LongType => // legacy nanosAsLong: nanos since epoch → truncate to micros
        df.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other =>
        throw new IllegalStateException(s"events.ts resolved to unsupported type $other")
    }
  }

  /** Exact sum of a double column: decimal-accumulate, emit double.
    *
    * The DECIMAL(38,6) accumulation exists for oracle-hash fidelity (associative →
    * partitioning-independent bits). It costs ~40% on aggregation-heavy queries
    * (q03-class) against native double sums (`bench/results/r3_sf0.1_fastsums.json`). */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ─── S1/P1/P2: scan + predicate + projection ──────────────────────────────
    "q01_scan_project" -> ((s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    // ─── P3/F10: derived unique_name (AccListOps.withUniqueName) ─────────────
    "q02_unique_name" -> ((s, dir) => {
      val acc = t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_mktsegment").as("Tissue"), col("c_name").as("Strain"),
        col("c_nationkey").cast("string").as("Sex"),
        col("c_custkey").cast("string").as("geo_accession"))
      AccListOps.withUniqueName(acc)
        .select(col("c_custkey"), col("unique_name"))
        .orderBy(col("c_custkey"))
    }),

    // ─── P4/A3/F1/F2: STARQC-style threshold gate over grouped sums ──────────
    "q03_starqc_gate" -> ((s, dir) => {
      val g = t(s, dir, "lineitem").groupBy(col("l_orderkey")).agg(
        dsum(col("l_quantity")).as("input_qty"),
        dsum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(lit(0.0)))
          .as("returned_qty"))
      val rate = col("returned_qty") * lit(100.0) / col("input_qty")
      g.select(
        col("l_orderkey"), col("input_qty"), col("returned_qty"),
        rate.as("unmapped_rate"),
        when(rate < 50.0, "PASS").otherwise("FAIL").as("status"))
        .orderBy(col("l_orderkey"))
    }),

    // ─── P5/A4/F3: sex-ratio classifier with Inf sentinel (bc scale-6 div) ───
    "q04_sex_ratio_gate" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_nationkey"),
        round(col("c_acctbal") * 100).cast(LongType).as("cents"),
        col("c_mktsegment"), col("c_acctbal"))
      c.groupBy(col("c_nationkey")).agg(
        coalesce(sum(when(col("c_mktsegment") === "BUILDING", col("cents"))), lit(0L))
          .as("x_u"),
        coalesce(sum(when(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") > 9990,
          col("cents"))), lit(0L)).as("y_u"))
        .select(
          col("c_nationkey"), col("x_u"), col("y_u"),
          expr("case when y_u <> 0 then cast((x_u * 1000000L) div y_u as double)/1000000.0 end")
            .as("ratio_num"),
          when(col("y_u") === 0L, lit("F"))
            .when(expr("(x_u * 1000000L) div y_u") > 40000000L, lit("F"))
            .otherwise(lit("M")).as("computed_sex"))
        .orderBy(col("c_nationkey"))
    }),

    // ─── P6: agreement predicate ─────────────────────────────────────────────
    "q05_agreement" -> ((s, dir) => {
      val derived = when(col("o_totalprice") > 100000.0, "O").otherwise("F")
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), derived.as("derived_status"),
        when(col("o_orderstatus") === derived, "Agree").otherwise("Conflict")
          .as("agreement"))
        .orderBy(col("o_orderkey"))
    }),

    // ─── P7: regex keep/drop filter ──────────────────────────────────────────
    "q06_regex_filter" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_type").rlike("^ECONOMY") && !col("p_brand").rlike("3$"))
        .select(col("p_partkey"), col("p_type"), col("p_brand"))
        .orderBy(col("p_partkey"))),

    // ─── P8/F2/F7: formatted-string zero compare ─────────────────────────────
    "q07_zero_string_filter" -> ((s, dir) => {
      val taxStr = col("l_tax").cast(DecimalType(18, 2)).cast("string")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), taxStr.as("tax_str"))
        .filter(col("tax_str") =!= "0.00")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ─── P9: gene-of-interest IN-set filter ──────────────────────────────────
    "q08_marker_isin" -> ((s, dir) =>
      t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_3", "NATION_7", "NATION_12", "NATION_18", "NATION_23"))
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))),

    // ─── P10/C3: RGB bucketizer (TpmBed.rgbBucket) ───────────────────────────
    "q09_rgb_bucket" -> ((s, dir) => {
      val scaled = (col("p_retailprice") - 900.0) / 10.0
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          TpmBed.rgbBucket(scaled).as("rgb"))
        .orderBy(col("p_partkey"))
    }),

    // ─── J1: PASS left-semi join (StarQc.passFilter) ─────────────────────────
    "q10_pass_semijoin" -> ((s, dir) => {
      val starQc = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("tp"))
        .select(col("o_custkey").cast("string").as("SampleID"),
          when(col("tp") < 500000.0, "PASS").otherwise("FAIL").as("Status"))
      val accList = t(s, dir, "customer")
        .withColumn("geo_accession", col("c_custkey").cast("string"))
      StarQc.passFilter(accList, starQc)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ─── J2: matrix merge inner join on feature key ──────────────────────────
    "q11_matrix_merge" -> ((s, dir) => {
      val m1 = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
      val m2 = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("s_cnt"))
      m1.join(m2, Seq("nationkey"), "inner").orderBy(col("nationkey"))
    }),

    // ─── J3: broadcast hash join (TPM×BED shape) ─────────────────────────────
    "q12_bed_tpm_broadcast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_size") <= 20)),
          col("l_partkey") === col("p_partkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"), col("p_retailprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ─── J4/S8: lookup join with Unknown default ─────────────────────────────
    "q13_lookup_default" -> ((s, dir) => {
      val pri = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("pri"))
      t(s, dir, "customer")
        .join(broadcast(pri), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("pri"), lit("Unknown")).as("priority"))
        .orderBy(col("c_custkey"))
    }),

    // ─── J5/P9: conflict report — sex table × marker pivot (ConflictReport) ──
    "q14_conflict_pivot" -> ((s, dir) => {
      val inSex = when(col("c_nationkey") % 2 === 0, "M").otherwise("F")
      val calcSex = when(col("c_acctbal") > 5000.0, "M").otherwise("F")
      val sexResult = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("SampleID"),
        inSex.as("InputSex"), calcSex.as("ComputedSex"),
        col("c_acctbal").cast(DecimalType(18, 2)).cast("string").as("Ratio"),
        when(inSex === calcSex, "Agree").otherwise("Conflict").as("Agreement"))
      val geneOf = Map("1-URGENT" -> "Xist", "2-HIGH" -> "Uty", "3-MEDIUM" -> "Sry",
        "4-NOT SPECIFIED" -> "Ddx3y", "5-LOW" -> "Kdm5d")
      val tpmLong = t(s, dir, "orders").select(
        col("o_custkey").cast("string").as("sample"),
        geneOf.foldLeft(lit(null).cast("string")) { case (acc, (p, g)) =>
          when(col("o_orderpriority") === p, g).otherwise(acc)
        }.as("gene"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast("string").as("tpm"))
        .groupBy(col("sample"), col("gene")).agg(min(col("tpm")).as("tpm"))
      ConflictReport.build(sexResult, tpmLong).orderBy(col("SampleID"))
    }),

    // ─── J7: runs-per-sample grouping (AccListOps.groupRuns) ─────────────────
    "q15_group_runs" -> ((s, dir) => {
      val acc = t(s, dir, "orders").select(
        col("o_custkey").cast("string").as("geo_accession"),
        col("o_orderkey").cast("string").as("Run"),
        col("o_orderkey").as("_row_order"))
      AccListOps.groupRuns(acc).orderBy(col("geo_accession"))
    }),

    // ─── J8/O9: duplicate-sample intersection (ProjectCombiner) ──────────────
    "q16_duplicate_samples" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      ProjectCombiner.duplicateSamples(a, b, "o_custkey").orderBy(col("o_custkey"))
    }),

    // ─── A1: count-distinct samples ──────────────────────────────────────────
    "q17_count_distinct" -> ((s, dir) =>
      t(s, dir, "orders").agg(countDistinct(col("o_custkey")).as("n_samples"))),

    // ─── A2: runs-per-sample histogram ───────────────────────────────────────
    "q18_runs_histogram" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("n_runs")).agg(count(lit(1)).as("n_samples"))
        .orderBy(col("n_runs"))),

    // ─── A5/A6: status tallies ───────────────────────────────────────────────
    "q19_status_tallies" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))),

    // ─── A7: the matrix pivot ────────────────────────────────────────────────
    "q20_matrix_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .orderBy(col("l_returnflag"))),

    // ─── A9: mean/stddev stats (exact integer sums + shared double formula) ──
    "q21_frag_stats" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_nationkey"), round(col("c_acctbal") * 100).cast(LongType).as("cents"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("ss"))
        .filter(col("n") > 1)
        .selectExpr("c_nationkey", "n",
          "(CAST(s AS DOUBLE)/CAST(n AS DOUBLE))/100.0 as mean_bal",
          "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/CAST(n AS DOUBLE))/CAST(n-1 AS DOUBLE))/100.0 as sd_bal")
        .orderBy(col("c_nationkey"))),

    // ─── A10: BPM coverage binning (CoverageBins.bpm) ────────────────────────
    "q22_coverage_bins" -> ((s, dir) => {
      val reads = events(s, dir).select(
        col("event_type").as("sample_id"), lit("chr1").as("chrom"),
        col("value").as("pos"), lit(255).as("mapq"))
      CoverageBins.bpm(reads).orderBy(col("sample_id"), col("bin_start"))
    }),

    // ─── O2: dedup keep-first (AccListOps.dedupKeepFirst) ────────────────────
    "q23_dedup_first" -> ((s, dir) =>
      AccListOps.dedupKeepFirst(t(s, dir, "orders"), "o_custkey", "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_custkey"))),

    // ─── O1: distinct ────────────────────────────────────────────────────────
    "q24_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .orderBy(col("c_mktsegment"))),

    // ─── O5: genome-position total sort + head ───────────────────────────────
    "q25_position_sort" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), unix_millis(col("l_shipdate").cast("timestamp")).as("l_shipdate_ms"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_returnflag"), col("l_shipdate_ms"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    // ─── O7: union-by-name of two report runs (ProjectCombiner) ──────────────
    "q26_union_reports" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_totalprice"), col("o_orderkey"), col("o_orderstatus"))
      ProjectCombiner.unionReports(a, b).orderBy(col("o_orderkey"))
    }),

    // ─── O8: top-k limit ─────────────────────────────────────────────────────
    "q27_topk" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)),

    // ─── F1/F5/F6/F7/F8: scalar string-function suite ────────────────────────
    "q28_string_suite" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_replace(trim(col("p_name")), "\\s+", " ").as("cleaned"),
        regexp_extract(concat_ws("/", lit("/data"), col("p_brand"), col("p_name")),
          "[^/]+$", 0).as("basename"),
        concat(lit("\""), col("p_brand"), lit("\"")).as("quoted"),
        split(col("p_type"), " ").getItem(0).as("type_head"),
        md5(col("p_name")).as("name_md5"),
        length(col("p_name")).cast("long").as("name_len"))
        .orderBy(col("p_partkey"))),

    // ─── F8/F9/F10: composite grouping key (ColorAssigner.comboKey) ──────────
    "q29_combo_key" -> ((s, dir) => {
      val tracks = t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_mktsegment").as("Tissue"), col("c_name").as("Strain"),
        col("c_nationkey").cast("string").as("Sex"),
        lit(null).cast("string").as("Sample_characteristics"))
      ColorAssigner.comboKey(tracks)
        .select(col("c_custkey"), col("combo_key"))
        .orderBy(col("c_custkey"))
    }),

    // ─── C5: first-seen palette color assignment (ColorAssigner.assign) ──────
    "q30_color_assign" -> ((s, dir) => {
      val tracks = t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment").as("combo_key"), col("c_name").as("_path"))
      ColorAssigner.assign(tracks)
        .select(col("c_custkey"), col("combo_key"), col("color"))
        .orderBy(col("c_custkey"))
    }),

    // ─── A1/A8: project size classification ──────────────────────────────────
    "q31_project_classify" -> ((s, dir) =>
      t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(countDistinct(col("c_custkey")).as("n_samples"))
        .select(col("c_nationkey"), col("n_samples"),
          when(col("n_samples") <= 50L, "small").otherwise("large").as("size_class"))
        .orderBy(col("c_nationkey"))),

    // ─── A11/J6: matrix input consistency check (MatrixBuilder) ──────────────
    "q32_consistency" -> ((s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct().withColumn("src", lit("src_f"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")).distinct().withColumn("src", lit("src_o"))
      MatrixBuilder.consistencyViolations(a.unionByName(b), "o_custkey", "src", 2)
        .orderBy(col("o_custkey"))
    }),

    // ─── Streaming batch shadow: event-time windowed aggregation ─────────────
    "q33_event_windows" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("window_start_ms"), col("event_type"))),

    // ─── Streaming batch shadow: per-user SESSION windows (30-min inactivity
    //     gap) via session_window — the sessionization staple; the oracle
    //     recomputes it as gaps-and-islands SQL. Spark semantics: per-event
    //     windows [ts, ts+gap) merge while they overlap; session end =
    //     last event + gap. ─────────────────────────────────────────────────────
    "q66_session_windows" -> ((s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(
          unix_millis(col("session_window.start")).as("session_start_ms"),
          unix_millis(col("session_window.end")).as("session_end_ms"),
          col("user_id"), col("n"), col("total_value"))
        .orderBy(col("user_id"), col("session_start_ms"))),

    // ─── Streaming batch shadow: windowed grouped top-k — the batch branch of
    //     EventPipeline.streamingGroupTopK routes through the GroupTopK
    //     bounded-heap operator on (window, group); the oracle replays it as
    //     row_number over the same 10-min buckets. ──────────────────────────────
    "q116_windowed_topk" -> ((s, dir) =>
      graft.streaming.EventPipeline.streamingGroupTopK(
        events(s, dir), "event_type", "user_id", "value", "ts", k = 5,
        windowLen = "10 minutes")
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("group").as("grp"), col("id"), col("score"), col("rank"))
        .orderBy(col("window_start_ms"), col("grp"), col("rank"))),

    // ─── Interval-overlap (range) join, binned — SURVEY §2.3's "natural
    //     genomic extension": same-type events whose [ts, ts+6·value sec]
    //     windows intersect, joined via fixed 300 s bins, one row per pair. ───
    "q53_interval_overlap" -> ((s, dir) => {
      val iv = events(s, dir).select(
        col("event_type"), col("event_id"),
        expr("unix_millis(ts) div 1000L").as("start"),
        (expr("unix_millis(ts) div 1000L") + floor(col("value") * 6).cast("long")).as("end"))
      graft.ops.IntervalJoin.overlapPairs(iv, iv, Seq("event_type"), "event_id",
        "start", "end", binSize = 300L, selfJoin = true)
        .orderBy(col("event_type"), col("id_a"), col("id_b"))
    }),

    // ─── As-of join (union + running-last window, no physical join): each
    //     click annotated with the user's latest view at-or-before it. ───────
    "q54_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("ts_ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ms"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_ms"), col("event_id"))
      graft.ops.AsOfJoin.asOf(clicks, views, Seq("user_id"),
        leftTime = "ts_ms", rightTime = "ts_ms",
        payloadCols = Seq("event_id", "ts_ms"), payloadPrefix = "view_")
        .filter(col("view_event_id").isNotNull)
        .orderBy(col("event_id"))
    }),

    // ─── Salted join ≡ plain join (the skew-mitigation identity): the salt
    //     fans hot probe keys across reducers, the replicated build side makes
    //     (key, salt) equi-join semantics identical to the unsalted join. ────
    "q114_salted_join" -> ((s, dir) => {
      val probe = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"))
      val build = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"))
      graft.ops.Skew.saltedJoin(probe, build, "custkey", buckets = 8)
        .orderBy(col("o_orderkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_acctbal > 0 ORDER BY c_custkey",
    "q02_unique_name" ->
      "SELECT c_custkey, concat_ws('_', c_mktsegment, c_name, c_nationkey, c_custkey) AS unique_name FROM customer ORDER BY c_custkey",
    "q03_starqc_gate" ->
      """WITH t AS (SELECT l_orderkey,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS input_qty,
        | CAST(SUM(CAST(CASE WHEN l_returnflag='R' THEN l_quantity ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE) AS returned_qty
        | FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, input_qty, returned_qty,
        | returned_qty*100.0/input_qty AS unmapped_rate,
        | CASE WHEN returned_qty*100.0/input_qty < 50.0 THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM t ORDER BY l_orderkey""".stripMargin,
    "q04_sex_ratio_gate" ->
      """WITH c AS (SELECT c_nationkey, CAST(ROUND(c_acctbal*100) AS BIGINT) AS cents, c_mktsegment, c_acctbal FROM customer),
        |a AS (SELECT c_nationkey,
        | CAST(COALESCE(SUM(CASE WHEN c_mktsegment='BUILDING' THEN cents END),0) AS BIGINT) AS x_u,
        | CAST(COALESCE(SUM(CASE WHEN c_mktsegment='AUTOMOBILE' AND c_acctbal > 9990 THEN cents END),0) AS BIGINT) AS y_u
        | FROM c GROUP BY c_nationkey)
        |SELECT c_nationkey, x_u, y_u,
        | CASE WHEN y_u <> 0 THEN CAST((x_u*1000000)//y_u AS DOUBLE)/1000000.0 END AS ratio_num,
        | CASE WHEN y_u = 0 THEN 'F' WHEN (x_u*1000000)//y_u > 40000000 THEN 'F' ELSE 'M' END AS computed_sex
        |FROM a ORDER BY c_nationkey""".stripMargin,
    "q05_agreement" ->
      """SELECT o_orderkey, o_orderstatus,
        | CASE WHEN o_totalprice > 100000.0 THEN 'O' ELSE 'F' END AS derived_status,
        | CASE WHEN o_orderstatus = (CASE WHEN o_totalprice > 100000.0 THEN 'O' ELSE 'F' END) THEN 'Agree' ELSE 'Conflict' END AS agreement
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q06_regex_filter" ->
      "SELECT p_partkey, p_type, p_brand FROM part WHERE regexp_matches(p_type, '^ECONOMY') AND NOT regexp_matches(p_brand, '3$') ORDER BY p_partkey",
    "q07_zero_string_filter" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR) AS tax_str
        |FROM lineitem WHERE CAST(CAST(l_tax AS DECIMAL(18,2)) AS VARCHAR) <> '0.00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q08_marker_isin" ->
      "SELECT n_nationkey, n_name FROM nation WHERE n_name IN ('NATION_1','NATION_3','NATION_7','NATION_12','NATION_18','NATION_23') ORDER BY n_nationkey",
    "q09_rgb_bucket" ->
      """SELECT p_partkey, p_retailprice,
        | CASE WHEN (p_retailprice-900.0)/10.0 <= 0.5 THEN '128,128,128'
        |      WHEN (p_retailprice-900.0)/10.0 <= 10.0 THEN '173,216,230'
        |      WHEN (p_retailprice-900.0)/10.0 <= 1000.0 THEN '0,0,205'
        |      ELSE '0,0,139' END AS rgb
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q10_pass_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders GROUP BY o_custkey
        |  HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) < 500000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q11_matrix_merge" ->
      """WITH m1 AS (SELECT c_nationkey AS nationkey, count(*) AS c_cnt FROM customer GROUP BY 1),
        |m2 AS (SELECT s_nationkey AS nationkey, count(*) AS s_cnt FROM supplier GROUP BY 1)
        |SELECT nationkey, c_cnt, s_cnt FROM m1 JOIN m2 USING (nationkey) ORDER BY nationkey""".stripMargin,
    "q12_bed_tpm_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_retailprice
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 20 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q13_lookup_default" ->
      """SELECT c_custkey, COALESCE(p.pri, 'Unknown') AS priority
        |FROM customer LEFT JOIN (SELECT o_custkey, MAX(o_orderpriority) AS pri FROM orders GROUP BY 1) p
        |ON c_custkey = o_custkey ORDER BY c_custkey""".stripMargin,
    "q14_conflict_pivot" ->
      """WITH sex AS (SELECT CAST(c_custkey AS VARCHAR) AS SampleID,
        |  CASE WHEN c_nationkey % 2 = 0 THEN 'M' ELSE 'F' END AS InputSex,
        |  CASE WHEN c_acctbal > 5000.0 THEN 'M' ELSE 'F' END AS ComputedSex,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS XYRatio,
        |  CASE WHEN (CASE WHEN c_nationkey % 2 = 0 THEN 'M' ELSE 'F' END) = (CASE WHEN c_acctbal > 5000.0 THEN 'M' ELSE 'F' END) THEN 'Agree' ELSE 'Conflict' END AS Agreement
        |  FROM customer),
        |tl AS (SELECT CAST(o_custkey AS VARCHAR) AS sample,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 'Xist' WHEN '2-HIGH' THEN 'Uty' WHEN '3-MEDIUM' THEN 'Sry' WHEN '4-NOT SPECIFIED' THEN 'Ddx3y' WHEN '5-LOW' THEN 'Kdm5d' END AS gene,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS tpm FROM orders),
        |g AS (SELECT sample, gene, MIN(tpm) AS tpm FROM tl GROUP BY 1,2),
        |p AS (SELECT sample,
        |  MIN(CASE WHEN gene='Xist' THEN tpm END) AS Xist,
        |  MIN(CASE WHEN gene='Uty' THEN tpm END) AS Uty,
        |  MIN(CASE WHEN gene='Sry' THEN tpm END) AS Sry,
        |  MIN(CASE WHEN gene='Ddx3y' THEN tpm END) AS Ddx3y,
        |  MIN(CASE WHEN gene='Kdm5d' THEN tpm END) AS Kdm5d,
        |  CAST(NULL AS VARCHAR) AS Eif2s3y
        |  FROM g GROUP BY sample)
        |SELECT sex.SampleID, sex.InputSex, sex.ComputedSex, sex.XYRatio, sex.Agreement,
        |  p.Xist, p.Uty, p.Sry, p.Ddx3y, p.Kdm5d, p.Eif2s3y
        |FROM sex JOIN p ON sex.SampleID = p.sample ORDER BY sex.SampleID""".stripMargin,
    "q15_group_runs" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS geo_accession,
        | string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS runs,
        | count(*) AS n_runs
        |FROM orders GROUP BY 1 ORDER BY geo_accession""".stripMargin,
    "q16_duplicate_samples" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus='F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus='O'
        |ORDER BY o_custkey""".stripMargin,
    "q17_count_distinct" ->
      "SELECT count(DISTINCT o_custkey) AS n_samples FROM orders",
    "q18_runs_histogram" ->
      """WITH t AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1)
        |SELECT c AS n_runs, count(*) AS n_samples FROM t GROUP BY 1 ORDER BY n_runs""".stripMargin,
    "q19_status_tallies" ->
      "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1 ORDER BY o_orderstatus",
    "q20_matrix_pivot" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus='F' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS "F",
        | CAST(SUM(CASE WHEN l_linestatus='O' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q21_frag_stats" ->
      """WITH c AS (SELECT c_nationkey, CAST(ROUND(c_acctbal*100) AS BIGINT) AS cents FROM customer),
        |a AS (SELECT c_nationkey, count(*) AS n, CAST(SUM(cents) AS BIGINT) AS s, CAST(SUM(cents*cents) AS BIGINT) AS ss FROM c GROUP BY 1)
        |SELECT c_nationkey, n,
        | (CAST(s AS DOUBLE)/CAST(n AS DOUBLE))/100.0 AS mean_bal,
        | sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/CAST(n AS DOUBLE))/CAST(n-1 AS DOUBLE))/100.0 AS sd_bal
        |FROM a WHERE n > 1 ORDER BY c_nationkey""".stripMargin,
    "q22_coverage_bins" ->
      """WITH b AS (SELECT event_type AS sample_id, 'chr1' AS chrom,
        |  CAST(FLOOR(value/10)*10 AS BIGINT) AS bin_start, count(*) AS cnt
        |  FROM events GROUP BY 1,2,3),
        |t AS (SELECT sample_id, CAST(SUM(cnt) AS BIGINT) AS total FROM b GROUP BY 1)
        |SELECT b.sample_id, b.chrom, b.bin_start, b.cnt,
        | CAST(b.cnt AS DOUBLE)*1000000.0/CAST(t.total AS DOUBLE) AS value
        |FROM b JOIN t USING (sample_id) ORDER BY sample_id, bin_start""".stripMargin,
    "q23_dedup_first" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus FROM
        | (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q24_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q25_position_sort" ->
      """SELECT l_returnflag, epoch_ms(l_shipdate) AS l_shipdate_ms, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_returnflag, l_shipdate_ms, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q26_union_reports" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus IN ('F','O') ORDER BY o_orderkey",
    "q27_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
    "q28_string_suite" ->
      """SELECT p_partkey,
        | regexp_replace(trim(p_name), '\s+', ' ', 'g') AS cleaned,
        | regexp_extract('/data/' || p_brand || '/' || p_name, '[^/]+$') AS basename,
        | '"' || p_brand || '"' AS quoted,
        | string_split(p_type, ' ')[1] AS type_head,
        | md5(p_name) AS name_md5,
        | CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q29_combo_key" ->
      """SELECT c_custkey,
        | 'Tissue=' || regexp_replace(trim(c_mktsegment), '\s+', ' ', 'g')
        | || ';Strain=' || trim(string_split(regexp_replace(trim(c_name), '\s+', ' ', 'g'), ',')[1])
        | || ';Sex=' || regexp_replace(trim(CAST(c_nationkey AS VARCHAR)), '\s+', ' ', 'g')
        | || ';SampleChar=' AS combo_key
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q30_color_assign" ->
      """WITH fs AS (SELECT c_mktsegment, min(c_name) AS fp FROM customer GROUP BY 1),
        |r AS (SELECT c_mktsegment, row_number() OVER (ORDER BY fp, c_mktsegment) - 1 AS rk FROM fs),
        |rc AS (SELECT c_mktsegment, CASE rk % 10
        |  WHEN 0 THEN '#1f77b4' WHEN 1 THEN '#ff7f0e' WHEN 2 THEN '#2ca02c'
        |  WHEN 3 THEN '#d62728' WHEN 4 THEN '#9467bd' WHEN 5 THEN '#8c564b'
        |  WHEN 6 THEN '#e377c2' WHEN 7 THEN '#7f7f7f' WHEN 8 THEN '#bcbd22'
        |  ELSE '#17becf' END AS color FROM r)
        |SELECT c.c_custkey, c.c_mktsegment AS combo_key, rc.color
        |FROM customer c JOIN rc USING (c_mktsegment) ORDER BY c.c_custkey""".stripMargin,
    "q31_project_classify" ->
      """SELECT c_nationkey, count(DISTINCT c_custkey) AS n_samples,
        | CASE WHEN count(DISTINCT c_custkey) <= 50 THEN 'small' ELSE 'large' END AS size_class
        |FROM customer GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q32_consistency" ->
      """WITH l AS (
        | SELECT DISTINCT o_custkey, 'src_f' AS src FROM orders WHERE o_orderstatus='F'
        | UNION ALL
        | SELECT DISTINCT o_custkey, 'src_o' AS src FROM orders WHERE o_orderstatus='O')
        |SELECT o_custkey, count(*) AS n_sources FROM l GROUP BY 1
        |HAVING count(*) <> 2 ORDER BY o_custkey""".stripMargin,
    "q33_event_windows" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY window_start_ms, event_type""".stripMargin,
    "q66_session_windows" ->
      """WITH e AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM e)
        |SELECT epoch_ms(min(ts)) AS session_start_ms,
        | epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS session_end_ms,
        | user_id, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_ms""".stripMargin,
    "q53_interval_overlap" ->
      """WITH iv0 AS (SELECT event_type, event_id, epoch_ms(ts)//1000 AS start_,
        |  epoch_ms(ts)//1000 + CAST(floor(value*6) AS BIGINT) AS end_ FROM events),
        |iv AS (SELECT * FROM iv0 WHERE end_ >= start_)
        |SELECT a.event_type, a.event_id AS id_a, a.start_ AS start_a, a.end_ AS end_a,
        |  b.event_id AS id_b, b.start_ AS start_b, b.end_ AS end_b
        |FROM iv a JOIN iv b ON a.event_type = b.event_type
        |  AND a.event_id < b.event_id AND a.start_ <= b.end_ AND b.start_ <= a.end_
        |ORDER BY a.event_type, id_a, id_b""".stripMargin,
    "q54_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type='click'),
        |v AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events WHERE event_type='view')
        |SELECT c.event_id, c.user_id, c.ts_ms, v.event_id AS view_event_id, v.ts_ms AS view_ts_ms
        |FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.ts_ms <= c.ts_ms
        |ORDER BY c.event_id""".stripMargin,
    "q116_windowed_topk" ->
      """SELECT window_start_ms, grp, id, score, rank FROM (
        |  SELECT (epoch_ms(ts) // 600000) * 600000 AS window_start_ms,
        |    event_type AS grp, user_id AS id, value AS score,
        |    row_number() OVER (PARTITION BY epoch_ms(ts) // 600000, event_type
        |                       ORDER BY value DESC, user_id) AS rank
        |  FROM events) WHERE rank <= 5
        |ORDER BY window_start_ms, grp, rank""".stripMargin,
    "q114_salted_join" ->
      """SELECT o_custkey AS custkey, o_orderkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin
  )
}
