package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{BikeshareGen, BikesharePipeline}

/** Q21/Q22 differential: the public functions aggregate per side and
  * multiply the counts; the reference (nb:5160-5171, nb:5365-5380) joins
  * trips⋈payments per rider and groups the pair rows. The reference shape
  * is kept here literally, unfactored, and the two must agree row for row
  * (exact multiset equality, same column names and types) on the
  * hand-built fixture and on generated warehouses at two scales.
  *
  * Outside this regime the two diverge, on purpose. The reference's
  * decimal sum over pairs is decimal(p+10): with enough pairs per group it
  * overflows and the reference's avg(amount) turns NULL, while the
  * factored per-rider average stays finite. Likewise avg(duration) over
  * pairs adds each trip n_payments times; once that integer-valued double
  * sum passes 2^53 it is no longer exact and the reference's average
  * drifts from the factored Σd/n_t. Neither regime is reachable at the
  * generator's or the reference's row counts; these tests pin the range
  * where the factorization is exact.
  */
class BikeshareFanoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def referenceQ21(w: BikesharePipeline.Warehouse): DataFrame =
    w.trips.join(w.payments, Seq("rider_id"))
      .join(w.riders, Seq("rider_id"))
      .where(col("is_member") === true)
      .withColumn("month", month(col("time_id")))
      .groupBy("rider_id", "month")
      .agg(avg("amount").as("avg_amount"), count("trip_id").as("num_rides"))
      .orderBy(col("num_rides").desc)

  private def referenceQ22(w: BikesharePipeline.Warehouse): DataFrame =
    w.trips.join(w.payments, Seq("rider_id"))
      .join(w.riders, Seq("rider_id"))
      .where(col("is_member") === true)
      .withColumn("month", month(col("time_id")))
      .withColumn("minutes", graft.functions.Derived.minutes(col("duration")))
      .groupBy("rider_id", "minutes", "month")
      .agg(avg("amount").as("avg_amount"), avg("duration").as("avg_duration"))
      .orderBy(col("avg_duration").desc)

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ===
      want.schema.map(f => f.name -> f.dataType), s"$what schema")
    def bag(df: DataFrame) = df.collect().toSeq.groupBy(identity)
      .map { case (r, rs) => r -> rs.size }
    val g = bag(got)
    assert(g.nonEmpty, s"$what is empty")
    assert(g === bag(want), s"$what rows")
  }

  private def check(w: BikesharePipeline.Warehouse, what: String): Unit = {
    assertSameRows(BikesharePipeline.q21MonthlySpendPerMember(w), referenceQ21(w),
      s"$what q21")
    assertSameRows(BikesharePipeline.q22SpendPerMinutePerMember(w), referenceQ22(w),
      s"$what q22")
  }

  test("q21/q22 equal the trips×payments reference on the fixture") {
    val dir = TestSpark.resourceDir("bikeshare")
    check(BikesharePipeline.build(spark,
      BikesharePipeline.conformFromCsv(spark, dir)), "fixture")
  }

  test("q21/q22 equal the trips×payments reference on generated warehouses") {
    for (scale <- Seq(0.001, 0.004))
      check(BikesharePipeline.build(spark, BikeshareGen.conformed(spark, scale)),
        s"scale $scale")
  }
}
