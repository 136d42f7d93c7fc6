package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** What counts as running the query suite, written once for every harness
  * main ([[Bench]], [[Verify]], [[Explain]], [[graft.tools.StageProfiler]]):
  * the local session, the query selection, the counted run and the JSON
  * string escaper. */
object Suite {

  type Query = (SparkSession, String) => DataFrame

  /** Local session: `local[cpus]` with as many shuffle partitions, UTC, UI
    * off, log level WARN. `SPARK_GRAFT_CPUS` overrides the caller's default. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Names from a comma-separated list, blanks dropped. */
  def names(csv: String): Seq[String] = csv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** The registered queries in name order, or only the allowlisted ones. An
    * unknown name fails here, before any Spark work: a typo must not yield an
    * empty run that looks clean. */
  def select(allow: Option[Seq[String]]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    allow.foreach { names =>
      val unknown = names.filterNot(all.contains).distinct
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    all.toSeq.filter { case (name, _) => allow.forall(_.contains(name)) }.sortBy(_._1)
  }

  /** Run a query and count the EXECUTED plan's rows. Not `df.count()`: a count
    * on top lets the optimizer prune every computed column, so pure-projection
    * queries (fingerprints, scores) would run as bare scans. The root-level
    * orderBy (determinism-only, the comparator re-sorts) is stripped; top-k
    * sorts sit under a Limit and are kept. */
  def countedRun(df: DataFrame): Long =
    ColumnBridge.dropRootSort(df).queryExecution.toRdd.count()

  /** A JSON string literal: quote, backslash and every control character
    * (< 0x20) escaped, so a tab or CR in a message or in oracle SQL cannot
    * break the reader's parse. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
