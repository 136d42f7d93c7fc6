package graft.ops

import graft.SparkSpec

class MatrixBuilderSpec extends SparkSpec {
  import spark.implicits._

  private val long = Seq(
    ("Xist", "s1.genes.results", "812.44"),
    ("Uty", "s1.genes.results", "0.00"),
    ("Xist", "s2.genes.results", "1.50"),
    ("Uty", "s2.genes.results", "99.99")).toDF("gene_id", "source", "value")

  test("pivot preserves the caller-supplied (argv) column order, not sorted order") {
    val m = MatrixBuilder.pivotMatrix(long, "gene_id", "source", "value",
      sources = Seq("s2.genes.results", "s1.genes.results"))
    assert(m.columns.toSeq == Seq("Symbol", "s2.genes.results", "s1.genes.results"))
    val rows = m.collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("Xist") == ("1.50", "812.44"))
    assert(rows("Uty") == ("99.99", "0.00"))
  }

  test("aborts on inconsistent feature-id sets (rsem-generate-data-matrix:66-69)") {
    val bad = long.union(Seq(("Sry", "s1.genes.results", "5.00")).toDF("g", "s", "v"))
    val e = intercept[IllegalArgumentException] {
      MatrixBuilder.pivotMatrix(bad, "gene_id", "source", "value",
        Seq("s1.genes.results", "s2.genes.results"))
    }
    assert(e.getMessage.contains("Number of lines among samples are not equal!"))
    assert(e.getMessage.contains("Sry"), e.getMessage) // the offending id is named
  }

  test("aborts on empty source list (rsem-generate-data-matrix:39-42)") {
    intercept[IllegalArgumentException] {
      MatrixBuilder.pivotMatrix(long, "gene_id", "source", "value", Seq.empty)
    }
  }

  test("unpivot is the inverse of pivot") {
    val m = MatrixBuilder.pivotMatrix(long, "gene_id", "source", "value",
      Seq("s1.genes.results", "s2.genes.results"))
    val back = MatrixBuilder.unpivot(m).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(back(("Xist", "s1.genes.results")) == "812.44")
    assert(back(("Uty", "s2.genes.results")) == "99.99")
    assert(back.size == 4)
  }
}
