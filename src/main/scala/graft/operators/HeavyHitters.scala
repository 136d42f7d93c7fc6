package graft.operators

import graft.expressions.MisraGries.misraGries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact heavy-hitter n-grams via a Misra-Gries candidate sketch + recount.
  *
  * Two passes, both linear:
  *   1. sketch pass — one [[graft.expressions.MisraGries]] aggregate over the
  *      exploded grams: <= k counters per partition get merged to <= k
  *      candidates on the driver (plus the exact total gram count, piggybacked
  *      in the same job);
  *   2. recount pass — exact `groupBy.count` RESTRICTED to the candidate set
  *      (an isin filter pushed into the scan side), then `count >= ceil(phi·N)`.
  *
  * Provided `phi > 1/k`, the sketch provably retains every item with frequency
  * >= phi·N, so the final output is EXACTLY the phi-heavy-hitters — identical
  * to a full `groupBy(gram).having(...)` — while the shuffle never carries the
  * full distinct-gram set. That is the whole point at 100 TB: web-scale token
  * vocabularies are unbounded; k counters and a candidate recount are not.
  */
object HeavyHitters {

  /** Exact phi-heavy word n-grams of `textCol`. Output: (gram, cnt), only grams
    * with cnt >= ceil(phi * total-gram-count). Requires phi > 1/k.
    *
    * The sketch pass merges two-level: partitions pre-merge into `fanin` groups
    * (grouped by `spark_partition_id % fanin`, so each map task emits ONE <=k
    * buffer), and the driver unions the fanin groups' survivor sets. At 100k
    * partitions that is fanin reducer tasks merging ~P/fanin sketches each, never
    * one task swallowing P·k entries. The union stays a superset of the phi-heavy
    * hitters: if an item fell out of EVERY group's sketch then its count in group
    * g is <= N_g/k, so its total is <= N/k < phi·N. */
  def heavyGrams(df: DataFrame, textCol: String, n: Int,
                 phi: Double, k: Int = 1024, fanin: Int = 32): DataFrame = {
    require(phi > 1.0 / k,
      s"phi=$phi must exceed 1/k=${1.0 / k} for the sketch superset guarantee")
    require(fanin > 0, s"fanin must be positive: $fanin")
    val grams = DedupSuite.shingled(df.select(col(textCol)), Nil,
      textCol, n, tokenUnigrams = true)(explode(_).as("gram"))
    val sketchRows = grams
      .groupBy(pmod(spark_partition_id().cast("long"), lit(fanin.toLong)).as("_g"))
      .agg(misraGries(col("gram"), k).as("cand"), count(lit(1)).as("total"))
      .collect()
    val candidates = sketchRows.iterator
      .flatMap(_.getMap[String, Long](1).keys).toSet.toSeq
    val total = sketchRows.iterator.map(_.getLong(2)).sum
    val minCount = math.ceil(phi * total).toLong
    // Candidate restriction: small sets inline as an isin predicate (pushed into
    // the scan); large ones (the union can reach fanin*k entries) would bloat the
    // plan linearly, so they go through a broadcast semi-join instead — same
    // shuffle shape, bounded plan size.
    val restricted =
      if (candidates.size <= 1024)
        grams.filter(col("gram").isin(candidates: _*))
      else {
        import df.sparkSession.implicits._
        grams.join(broadcast(candidates.toDF("gram")), Seq("gram"), "left_semi")
      }
    restricted
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }
}
