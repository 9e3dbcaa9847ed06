package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract: every query runs on sf0.001 with a valid
  * schema, every oracle key maps to a real query, the flagship returns rows.
  */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle keys without queries: $missing")
  }

  test("every query executes on sf0.001 and yields a non-empty schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.schema.nonEmpty, name)
      // anti-join legitimately returns 0 rows; everything else must produce data
      val n = df.count()
      if (name != "q22_anti_join") assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("approx_count_distinct within 10% of exact (q28b vs q28)") {
    val exact = TestQueries.q28CountDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = TestQueries.q28bApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      assert(math.abs(a - exact(k)).toDouble / exact(k) < 0.10, s"flag $k")
    }
  }

  test("query numbers are unique (one qNNN per gate key)") {
    // two gate keys sharing a number+letter id (the r12 q274 pair) make
    // per-query diffing ambiguous — the qNNN[letter] prefix is the stable
    // identity; lettered variants (q36 vs q36b) are distinct on purpose
    val Pre = """^(q\d+[a-z]?)_.*$""".r
    val byId = SparkEntry.queries.keys.toSeq
      .groupBy { case Pre(id) => id; case other => other }
    val dups = byId.filter(_._2.length > 1)
    assert(dups.isEmpty, s"duplicate query numbers: $dups")
  }

  /** Committed `query → max build jobs` list: the most Spark jobs a query
    * was measured to start while its DataFrame is built. A query not
    * listed may start none. Lower a budget (or drop the line) when a query
    * gets lazier. A listed count is not exact from run to run: adaptive
    * execution re-plans as stages finish, so which stage jobs a build's
    * actions run depends on timing (q251, q77 and q115 varied by one
    * between runs), and a listed query fails only beyond its budget plus
    * one job plus 10 %.
    */
  private lazy val buildJobBudget: Map[String, Int] =
    scala.io.Source.fromResource("build_job_budget.tsv").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split("\\s+"); q -> n.toInt }.toMap

  test("queries have no duplicate output column names (parquet-writable)") {
    // Also the build-job ratchet: building a frame should run no Spark
    // job, so each fn(spark, sf) call may start at most its budget
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (df, jobs) = JobCount.of(spark)(fn(spark, sf))
      val cols = df.columns
      assert(cols.distinct.length === cols.length, s"$name: ${cols.mkString(",")}")
      name -> jobs
    }
    def allowed(q: String): Int =
      buildJobBudget.get(q).fold(0)(b => b + 1 + b / 10)
    val over = built.filter { case (q, n) => n > allowed(q) }
    assert(over.isEmpty,
      over.map { case (q, n) =>
        s"$q\t$n (budget ${buildJobBudget.getOrElse(q, 0)})" }.mkString(
        "build jobs over budget:\n", "\n", ""))
  }
}
