package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-weighted term scoring: per-document top terms by tf·idf. The
  * keyword-extraction primitive behind near-dup triage, topic labeling, and
  * quality heuristics.
  *
  * Scale shape: three bounded shuffles, nothing collected —
  *   1. (doc, term) tf aggregate (map-side combinable; explode rows are
  *      token-count-bounded);
  *   2. document frequency by term over the tf rows (already one row per
  *      (doc, term), so df = a plain count per term — no distinct needed);
  *   3. per-doc top-k window (partitioned by doc, never global).
  * The vocabulary-sized df table joins back by term as an equi-join — it is
  * corpus-sized, so it is NOT broadcast.
  *
  * Scoring uses the RATIONAL idf variant score = tf · (N+1)/(df+1): same
  * ranking monotonicity in df as the classical log form for fixed tf, but
  * composed only of IEEE double division/multiplication, which Spark and the
  * DuckDB oracle round identically — `ln` differs in the last ulp between
  * libm implementations and would break hash-exact verification. Swap in
  * `log(...)` for conventional magnitudes when exactness vs an external
  * engine is not required.
  */
object TfIdf {

  /** Top `k` terms per document: (id, rank, term, tf, score), rank 1..k by
    * score desc with lexical term tiebreak. */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tf = df.select(col(idCol), col(textCol))
      .select(col(idCol).as("id"), explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(countDistinct(col(idCol)).as("n"))
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n").cast("double") + 1.0) / (col("df").cast("double") + 1.0)))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("score"))
  }

  /** Per-document mean corpus frequency of its tokens — a CCNet-style
    * language-model-perplexity proxy built from the corpus's own unigram
    * counts: common-token documents score high, rare-token (gibberish,
    * wrong-language, encoding-damaged) documents score low. Output:
    * (id, n_tokens, sum_freq, mean_freq = sum_freq/n_tokens).
    *
    * Scale shape: two shuffles — the global unigram count (map-side
    * combinable, vocabulary-sized result) and the per-doc sum. Per-doc
    * accumulation SUMS LONGS, not doubles: integer addition is associative,
    * so the result is identical under any partial-aggregation order (and any
    * external engine); the single double division happens once per doc at the
    * end. The vocabulary table joins the exploded tokens by term equi-join —
    * at web scale the vocabulary still fits executor memory, so Spark's AQE
    * typically broadcasts it; nothing in the plan requires that.
    */
  def unigramFrequencyScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val vocab = tk.groupBy(col("term")).agg(count(lit(1)).as("freq"))
    tk.join(vocab, Seq("term"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("sum_freq"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens").cast("double"))
  }
}
