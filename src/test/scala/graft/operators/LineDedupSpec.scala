package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  // 5 docs; "boiler" appears in docs 1,2,3,4,5 (df=5); "semi" in 1,2 (df=2);
  // doc 4 repeats its own unique line; doc 5 is boilerplate-only.
  private def corpus: DataFrame = Seq(
    (1L, "alpha one\nboiler\nsemi"),
    (2L, "beta two\nsemi\nboiler"),
    (3L, "gamma three\nboiler"),
    (4L, "delta four\ndelta four\nboiler"),
    (5L, "boiler")
  ).toDF("doc_id", "text")

  test("repeatedLines counts document frequency, not occurrences") {
    val rep = LineDedup.repeatedLines(
      Seq((1L, "x\nx\nx"), (2L, "x"), (3L, "y")).toDF("doc_id", "text"),
      "text", maxDocs = 1).collect()
    assert(rep.map(r => (r.getString(0), r.getLong(1))).toSet === Set(("x", 2L)))
  }

  test("corpus-level removal drops only over-threshold lines, keeps order") {
    val out = LineDedup.removeRepeatedLines(corpus, "doc_id", "text", maxDocs = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(3)).toSeq === Seq(
      "alpha one\nsemi", "beta two\nsemi", "gamma three",
      "delta four\ndelta four", ""))
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 1L, 1L, 1L, 1L)) // n_removed
    assert(out.map(_.getLong(1)).toSeq === Seq(3L, 3L, 2L, 3L, 1L)) // n_lines
  }

  test("broadcast and distributed rebuilds agree, including all-removed docs") {
    val a = LineDedup.removeRepeatedLines(corpus, "doc_id", "text", 4)
      .orderBy("doc_id").collect().toSeq
    val b = LineDedup.removeRepeatedLines(corpus, "doc_id", "text", 4,
      maxBadLines = 0).orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("oversized broadcast sets fall through to the distributed rebuild, same result") {
    // at maxDocs = 4 the offending set is {"boiler"}: a cap of 1 holds it, 0 does not
    def run(cap: Int) = LineDedup.removeRepeatedLines(corpus, "doc_id", "text",
      maxDocs = 4, maxBadLines = cap)
    def distributed(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("posexplode")
    assert(!distributed(run(1)) && distributed(run(0)))
    val fallback = run(0).orderBy("doc_id").collect().toSeq
    val direct = run(1).orderBy("doc_id").collect().toSeq
    assert(fallback === direct)
  }

  test("within-doc dedup keeps first occurrence in order, leaves cross-doc repeats") {
    val out = LineDedup.dedupLinesWithinDoc(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(3)).toSeq === Seq(
      "alpha one\nboiler\nsemi", "beta two\nsemi\nboiler", "gamma three\nboiler",
      "delta four\nboiler", "boiler"))
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((3L, 3L), (3L, 3L), (2L, 2L), (3L, 2L), (1L, 1L)))
  }

  test("within-doc dedup shuffles nothing") {
    val plan = LineDedup.dedupLinesWithinDoc(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }
}
