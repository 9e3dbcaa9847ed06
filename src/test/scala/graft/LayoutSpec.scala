package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Layout

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 10k points on a 100×100 grid, decorrelated dimensions
  private lazy val grid = spark.range(0, 10000)
    .select((col("id") % 100).cast("double").as("x"),
      ((col("id") * 37) % 100).cast("double").as("y"),
      col("id"))

  /** Per-file average extent of a column (fraction of its full range). */
  private def avgExtent(df: org.apache.spark.sql.DataFrame, c: String): Double = {
    val stats = df
      .groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).as("ext"))
      .agg(avg("ext")).head().getDouble(0)
    stats / 99.0
  }

  test("z-order clusters BOTH dimensions; single-column sort only one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder")
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    vl.write(grid, "silver", "z")
    vl.optimizeZOrder(spark, "silver", "z", Seq("x", "y"), slicesPerPartition = 16)
    val z = vl.read(spark, "silver", "z")
    val xPath = s"$tmp/xsort"
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xPath)
    val xs = spark.read.parquet(xPath)

    val (zx, zy) = (avgExtent(z, "x"), avgExtent(z, "y"))
    val (sx, sy) = (avgExtent(xs, "x"), avgExtent(xs, "y"))
    // x-sort: near-perfect on x, useless on y (full extent)
    assert(sx < 0.15, s"x-sort x extent $sx")
    assert(sy > 0.7, s"x-sort y extent $sy")
    // z-order: partial pruning on BOTH dimensions
    assert(zx < 0.6, s"zorder x extent $zx")
    assert(zy < 0.6, s"zorder y extent $zy")
    // and strictly better than the sorted layout on the unsorted dimension
    assert(zy < sy / 2)
    // no rows lost or duplicated by the rewrite
    assert(z.count() === 10000)
  }

  test("zorderKey interleaves bucket bits") {
    // 4 distinct values per axis, 2 bits → bucket == value; expected Morton
    // code: x bits at even positions, y bits at odd.
    val pts = Seq.tabulate(4, 4)((x, y) => (x.toDouble, y.toDouble))
      .flatten.toDF("x", "y")
    val got = pts.withColumn("z", Layout.zorderKey(pts, Seq("x", "y"), 2))
      .collect()
      .map(r => ((r.getDouble(0).toInt, r.getDouble(1).toInt), r.getLong(2)))
      .toMap
    def morton(x: Int, y: Int) =
      ((x & 1) | ((y & 1) << 1) | ((x & 2) << 1) | ((y & 2) << 2)).toLong
    for (x <- 0 until 4; y <- 0 until 4)
      assert(got((x, y)) === morton(x, y), s"($x,$y)")
  }
}
