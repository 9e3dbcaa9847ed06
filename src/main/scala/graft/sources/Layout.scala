package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning.
  *
  * Parquet readers skip files (and row groups) whose min/max statistics
  * exclude a predicate. A sort on one column gives perfect pruning on that
  * column and none on the others; interleaving the bits of several columns'
  * bucket ranks (a Morton / Z-order curve) gives partial pruning on ALL of
  * them — the standard layout for multi-dimensional filter workloads
  * (Delta's OPTIMIZE ZORDER BY, Iceberg's sort orders).
  */
object Layout {

  /** Quantile boundaries for ALL z-order columns in ONE distributed pass
    * (the multi-column approxQuantile overload runs one Greenwald-Khanna
    * sketch job; the per-column overload would re-scan the table per
    * column). Result: per column, `2^bits - 1` interior cut points as a
    * driver-side array of ≤ 2^bits doubles — broadcast as literals, never
    * a shuffle.
    */
  private def boundaries(df: DataFrame, cols: Seq[String],
                         bits: Int): Seq[Array[Double]] = {
    val n = (1 << bits) - 1
    val probs = (1 to n).map(_.toDouble / (1 << bits)).toArray
    df.stat.approxQuantile(cols.toArray, probs, 0.01).toSeq.map(_.distinct)
  }

  /** Bucket index of `c` against sorted cut points: #(boundaries < value),
    * so a value sitting exactly on the lowest cut stays in bucket 0. A
    * when-chain over ≤ 15 literals stays inside whole-stage codegen.
    */
  private def bucketOf(c: Column, bounds: Array[Double]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(c.cast("double") > b, 1).otherwise(0)
    }

  /** Morton bit-interleave of pre-computed per-column bucket ranks: bit `i`
    * of column `c` lands at position `i * ncols + c`. Public (and pure
    * arithmetic — SQL-expressible) so gates can hash-check the interleave
    * math read-only, without a quantile sketch or a filesystem write.
    */
  def interleave(buckets: Seq[Column], bitsPerCol: Int): Column = {
    require(buckets.nonEmpty && bitsPerCol >= 1 && bitsPerCol * buckets.size <= 63)
    val terms = for {
      (b, ci) <- buckets.zipWithIndex
      bit <- 0 until bitsPerCol
    } yield shiftleft(b.bitwiseAND(lit(1 << bit)).cast("long")
        , bit * (buckets.size - 1) + ci) // value already carries 2^bit; shift the rest
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order key: rank-bucket each column (quantile cuts, so skewed
    * distributions still fill all buckets), then [[interleave]] the bucket
    * bits.
    */
  def zorderKey(df: DataFrame, cols: Seq[String], bitsPerCol: Int = 4): Column = {
    require(cols.nonEmpty)
    val cuts = boundaries(df, cols, bitsPerCol)
    interleave(cols.zip(cuts).map { case (c, b) => bucketOf(col(c), b) },
      bitsPerCol)
  }
}
