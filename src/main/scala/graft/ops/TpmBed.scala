package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TPM→BED track generation (J3 + P7 + P8 + P10 + O5).
  *
  * Re-expresses `archive/illuminaPaired_multipleSRA_IDperSample_v3/GeneTPMbed_v2.sh:52-141`:
  *   - hash-join gene TPMs onto the reference BED by gene name
  *     (`:96` awk `NR==FNR {a[$1]=$2} $4 in a` — build side is the TPM map → Spark
  *     broadcast hash join, the literal equivalent),
  *   - BED9 rows `(chr, start, end, name, tpm, ".", start, end, rgb)` (`:107-110`),
  *   - RGB bucket by TPM (`:53-63`): ≤0.5 gray, ≤10 light blue, ≤1000 medium blue,
  *     else dark blue,
  *   - drop unplaced scaffolds, keep `chr*` (`:123` `!/^NW_/ && /^chr/`),
  *   - drop zero-expression rows by *formatted string* compare (`:124` `$5 != "0.00"` —
  *     "0.000" would survive; preserved, not fixed),
  *   - genome-position sort `(chrom, start asc, end asc)` (`:141`) — a range-partitioned
  *     total sort in Spark, executed only at sink time.
  */
object TpmBed {

  /** P10 — RGB bucket for a numeric TPM (`GeneTPMbed_v2.sh:53-63`). */
  def rgbBucket(tpm: Column): Column =
    when(tpm <= 0.5, "128,128,128")
      .when(tpm <= 10.0, "173,216,230")
      .when(tpm <= 1000.0, "0,0,205")
      .otherwise("0,0,139")

  /** @param bed  Schemas.bed4-shaped reference intervals (name = gene id)
    * @param tpm  (gene_id, TPM) with TPM as the *formatted string* from RSEM */
  def build(bed: DataFrame, tpm: DataFrame): DataFrame =
    bed
      .join(broadcast(tpm.select(col("gene_id").as("name"), col("TPM").as("score"))),
        Seq("name"), "inner")
      .filter(col("chrom").rlike("^chr") && !col("chrom").startsWith("NW_"))
      .filter(col("score") =!= "0.00")
      .select(
        col("chrom"), col("start"), col("end"), col("name"), col("score"),
        lit(".").as("strand"),
        col("start").as("thickStart"), col("end").as("thickEnd"),
        rgbBucket(col("score").cast("double")).as("itemRgb"))
      .orderBy(col("chrom"), col("start").asc, col("end").asc)
}
