package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.tools.ScaleCheck

/** ScaleCheck's replicator: the rep× tables must be rep independent copies
  * of the 1× data, with every join keeping its 1× fan-out, so that a
  * scaling exponent measures the query and not the replication.
  */
class ScaleCheckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"
  private val rep = 3
  private lazy val out = {
    val d = java.nio.file.Files.createTempDirectory("scalecheck_x3").toString
    ScaleCheck.replicate(spark, src, d, rep)
    d
  }

  /** Replica index of a shifted key. */
  private def replica(c: String) = (col(c) / ScaleCheck.KeyShift).cast("int")

  test("every table is rep× its source, every key of replica i in band i; " +
    "nation and region are copied once") {
    // an unshifted foreign key would still join replica 0's parent rows
    // one to one, so the q11 sums alone cannot see it
    val keys = Seq("lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"), "customer" -> Seq("c_custkey"),
      "part" -> Seq("p_partkey"), "supplier" -> Seq("s_suppkey"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"), "nation" -> Nil, "region" -> Nil)
    for ((t, cols) <- keys) {
      val n1 = Tables.load(spark, src, t).count()
      val many = Tables.load(spark, out, t)
      assert(many.count() === (if (cols.isEmpty) n1 else rep * n1), t)
      for (k <- cols) {
        val bands = many.groupBy(replica(k)).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(bands === (0 until rep).map(_ -> n1).toMap, s"$t.$k")
      }
    }
  }

  test("q11_star_join's per-region sums are exactly rep× the 1× sums") {
    def sums(dir: String) = TestQueries.all("q11_star_join")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val one = sums(src)
    val many = sums(out)
    assert(one.nonEmpty && many.keySet === one.keySet)
    for ((k, (n, revenue)) <- one) {
      val (nN, revenueN) = many(k)
      assert(nN === rep * n, k)
      assert(math.abs(revenueN - rep * revenue) <= 1e-9 * rep * revenue, k)
    }
  }

  test("replica text is a new corpus with the 1× duplicate structure") {
    // sf0.001 has no exact duplicate documents, so plant 20 in a 1× copy
    val fx = java.nio.file.Files.createTempDirectory("scalecheck_dups").toString
    ScaleCheck.replicate(spark, src, fx, 1)
    val docs1 = Tables.loadDocuments(spark, src)
    docs1.unionByName(docs1.where(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L))
      .write.mode("overwrite").parquet(s"$fx/documents.parquet")
    val dx = java.nio.file.Files.createTempDirectory("scalecheck_dups_x3").toString
    ScaleCheck.replicate(spark, fx, dx, rep)
    def dupCount(d: org.apache.spark.sql.DataFrame) =
      d.count() - d.select("text").distinct().count()
    val planted = Tables.loadDocuments(spark, fx)
    assert(dupCount(planted) === 20)
    val docs = Tables.loadDocuments(spark, dx).withColumn("r", replica("doc_id"))
    val zero = docs.where(col("r") === 0).select("text").distinct()
    assert(docs.where(col("r") > 0).join(zero, "text").isEmpty)
    assert(dupCount(docs) === rep * dupCount(planted))
  }

  test("embedding replicas keep norms and clone no replica-0 vector") {
    val norm = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val src1 = Tables.loadEmbeddings(spark, src)
      .select(col("vec_id"), norm.as("n1"))
    val emb = Tables.loadEmbeddings(spark, out)
      .withColumn("r", replica("vec_id"))
    val normed = emb.select((col("vec_id") % ScaleCheck.KeyShift).as("vec_id"),
        norm.as("nN"))
      .join(src1, "vec_id")
    assert(normed.count() === rep * src1.count())
    assert(normed.where(abs(col("nN") - col("n1")) > lit(1e-9) * col("n1")).isEmpty)
    val zero = emb.where(col("r") === 0).select("embedding")
    assert(emb.where(col("r") > 0).join(zero, "embedding").isEmpty)
  }

  test("every events replica reads the source ts through Tables.loadEvents") {
    val ts1 = Tables.loadEvents(spark, src).select(col("event_id"), col("ts").as("ts1"))
    val tsN = Tables.loadEvents(spark, out)
      .select((col("event_id") % ScaleCheck.KeyShift).as("event_id"), col("ts"))
    val joined = tsN.join(ts1, "event_id")
    assert(joined.count() === rep * ts1.count())
    assert(joined.where(not(col("ts") <=> col("ts1"))).isEmpty)
  }
}
