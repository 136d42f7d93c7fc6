package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag/drop training documents that share word
  * n-gram shingles with a held-out evaluation set (the published LLM-corpus
  * hygiene step: GPT-3 App. C / PaLM-style 13-gram overlap filters).
  *
  * Scale shape: eval sets are tiny (benchmarks, thousands of docs) while the
  * corpus is the 100 TB side — so the eval shingle set is aggregated first and
  * BROADCAST; the corpus-side plan is scan → in-scan shingling (explode) →
  * broadcast hash semi/inner join → per-doc count. The corpus is never
  * shuffled to find contamination: the only shuffle is the per-doc hit count
  * over the (rare) matching grams. `decontaminate` needs one more corpus-side
  * pass — a broadcast of the (small) contaminated-id set back onto the corpus
  * via left-anti join, again shuffle-free.
  */
object Decontamination {

  /** `keep` plus one `gram` row per DISTINCT n-gram shingle of each doc
    * ([[DedupSuite.shingled]]). */
  private def docGrams(docs: DataFrame, keep: Seq[Column], textCol: String,
                       n: Int): DataFrame =
    DedupSuite.shingled(docs, keep, textCol, n)(g => explode(array_distinct(g)).as("gram"))

  /** Distinct n-gram shingles of the eval set — one small frame to broadcast
    * (or, for the streaming twin, to collect). */
  private[graft] def evalGrams(evalDocs: DataFrame, textCol: String, n: Int): DataFrame =
    docGrams(evalDocs, Nil, textCol, n).distinct()

  /** Per-contaminated-doc report: (id, n_hits) where n_hits counts the DISTINCT
    * corpus-doc shingles also present in the eval set. Docs with zero overlap
    * do not appear (at corpus scale the report is the small output). */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String, n: Int): DataFrame =
    docGrams(docs, Seq(col(idCol)), textCol, n)
      .join(broadcast(evalGrams(evalDocs, textCol, n)), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** The REVERSE-direction report: per EVAL doc, how much of it leaks into the
    * training corpus — (eval id, n_grams, n_hit, hit_frac). This is the number
    * benchmark maintainers publish ("X% of eval items are ≥50% contaminated")
    * and the triage signal for which eval items to retire, where
    * [[contaminationReport]] answers the corpus-side question (which TRAINING
    * docs to drop).
    *
    * Same broadcast discipline: the eval gram set rides to every corpus scan
    * task; only MATCHING (eval_id, gram) pairs shuffle, deduplicated before
    * the per-eval count so a gram repeated across a million corpus docs
    * counts once. */
  def evalContaminationReport(docs: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String, n: Int): DataFrame = {
    // materialized once: the gram frame feeds BOTH the hits join and the
    // n_grams totals — without this the eval set tokenizes+shingles twice
    // (the incrementalDedup inKeys discipline)
    val ev = docGrams(evalDocs, Seq(col(idCol)), textCol, n).localCheckpoint(true)
    val hits = docGrams(docs, Nil, textCol, n).join(broadcast(ev), Seq("gram"))
      .select(col(idCol), col("gram")).distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    ev.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("hit_frac"))
  }

  /** Corpus minus every doc overlapping the eval set in >= minHits distinct
    * shingles. The contaminated-id set is small — broadcast left-anti join. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String, n: Int,
                    minHits: Int = 1): DataFrame = {
    val contaminated = contaminationReport(docs, evalDocs, idCol, textCol, n)
      .filter(col("n_hits") >= minHits)
      .select(col(idCol))
    docs.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }
}
