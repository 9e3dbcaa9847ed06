package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.BikesharePipeline
import graft.pipeline.BikesharePipeline.Warehouse

/** Session-wide settings of [[Engine.configure]] that no query result
  * shows: the generated-class cache holds the working set of a pass.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Janino compilations in this JVM so far (one per cache miss). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("test sessions size the codegen cache to the engine constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Engine.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("a second pass over the 22 bikeshare queries and the operator mix compiles no class") {
    val wh = BikesharePipeline.build(spark,
      BikesharePipeline.conformFromCsv(spark, TestSpark.resourceDir("bikeshare")))
    val bikeshare: Seq[Warehouse => DataFrame] = {
      import BikesharePipeline._
      Seq[Warehouse => DataFrame](q1AvgDurationByDayOfWeek, q2TotalDurationByDayOfWeek,
        q3AvgDurationByStartTime, q4TotalDurationByStartTime,
        q5AvgDurationByStartStation, q6TotalDurationByStartStation,
        q7AvgDurationByEndStation, q8TotalDurationByEndStation,
        q9TotalDurationByAge, q10AvgDurationByAge,
        q11AvgDurationByMembership, q12TotalDurationByMembership) ++
        Seq("month", "quarter", "year").flatMap(part =>
          Seq("sum", "avg").map(agg => (w: Warehouse) => paymentsByDatePart(w, part, agg))) ++
        Seq("sum", "avg").map(agg => (w: Warehouse) => memberPaymentsByAge(w, agg)) ++
        Seq[Warehouse => DataFrame](q21MonthlySpendPerMember, q22SpendPerMinutePerMember)
    }
    assert(bikeshare.size === 22)
    // the operator_mix benchmark workload's queries
    val mix = Seq("q01_scan_project", "q11_star_join", "q36b_minhash_exact",
      "q243_chi_merge", "q39d_ivf_topk", "q97_resample_ffill")
    def round(): Long = {
      val c0 = compiles
      bikeshare.foreach(q => q(wh).collect())
      mix.foreach(q => TestQueries.all(q)(spark, sf).collect())
      compiles - c0
    }
    val first = round()
    val second = round()
    assert(second === 0L, s"the warm round recompiled $second classes (first round: $first)")
    // the counter is live: a literal no earlier plan inlined compiles anew
    val c0 = compiles
    spark.range(3).selectExpr(s"id * ${System.nanoTime()}L AS x").collect()
    assert(compiles > c0)
  }
}
