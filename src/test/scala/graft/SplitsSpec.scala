package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Splits

class SplitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val keys = spark.range(0, 10000).toDF("id")

  test("hashSplit is deterministic, exhaustive, and disjoint") {
    val boundaries = Seq("train" -> 80, "val" -> 90, "test" -> 100)
    val a = Splits.hashSplit(keys, "id", boundaries)
    val b = Splits.hashSplit(keys, "id", boundaries)
    // same assignment on re-run (pure function of the key)
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
    // every row labeled exactly once
    assert(a.count() === 10000)
    assert(a.where(col("split").isNull).count() === 0)
  }

  test("hashSplit fractions approach the boundaries even on sequential keys") {
    val got = Splits
      .hashSplit(keys, "id", Seq("train" -> 80, "val" -> 90, "test" -> 100))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // xxhash64 bucketing: expect ~8000/1000/1000 within a loose tolerance
    assert(math.abs(got("train") - 8000L) < 400)
    assert(math.abs(got("val") - 1000L) < 200)
    assert(math.abs(got("test") - 1000L) < 200)
  }

  test("hashSplit keeps existing rows stable when new rows arrive") {
    val boundaries = Seq("train" -> 50, "test" -> 100)
    val before = Splits.hashSplit(keys, "id", boundaries)
    val after = Splits.hashSplit(spark.range(0, 20000).toDF("id"), "id", boundaries)
      .where(col("id") < 10000)
    assert(before.except(after).count() === 0 && after.except(before).count() === 0)
  }

  test("kFold covers all folds, stably, with roughly equal sizes") {
    val a = Splits.kFold(keys, "id", 5)
    val b = Splits.kFold(keys, "id", 5)
    assert(a.except(b).count() === 0)
    val sizes = a.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === Set(0, 1, 2, 3, 4))
    sizes.values.foreach(n => assert(math.abs(n - 2000L) < 300, sizes))
  }

  test("packByBudget: streaming-greedy pack assignment, per-shard, straddlers stay put") {
    import spark.implicits._
    val docs = Seq(
      ("en", 1L, 300), ("en", 2L, 300), // doc 2 straddles: starts at 300 → pack 0
      ("en", 3L, 300),                  // starts at 600 → pack 1
      ("en", 4L, 500),                  // starts at 900 → pack 1
      ("de", 10L, 499), ("de", 11L, 2)  // de packs independently: 0, 0
    ).toDF("lang", "doc_id", "n_tokens")
    val got = operators.Splits.packByBudget(docs, "doc_id", "n_tokens", 500, Seq("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got === Map(("en", 1L) -> 0L, ("en", 2L) -> 0L, ("en", 3L) -> 1L,
      ("en", 4L) -> 1L, ("de", 10L) -> 0L, ("de", 11L) -> 0L))
    // shard independence: adding docs to 'de' never moves an 'en' pack
    val more = docs.union(Seq(("de", 12L, 400)).toDF("lang", "doc_id", "n_tokens"))
    val again = operators.Splits.packByBudget(more, "doc_id", "n_tokens", 500, Seq("lang"))
      .where(col("lang") === "en")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(again === got.filter(_._1._1 == "en"))
  }

  test("stratifiedSample hits the exact per-stratum quota") {
    val rows = (0L until 1000L).map(i => (i, s"s${i % 7}")).toDF("id", "stratum")
    val got = Splits.stratifiedSample(rows, Seq("stratum"), 0.25, "id")
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = rows.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(got(s) === math.ceil(0.25 * n).toLong, s"stratum $s")
    }
  }

  test("stratifiedSample is a deterministic subset, stable under repartitioning") {
    val rows = (0L until 1000L).map(i => (i, s"s${i % 7}")).toDF("id", "stratum")
    val a = Splits.stratifiedSample(rows, Seq("stratum"), 0.3, "id")
    val b = Splits.stratifiedSample(rows.repartition(13), Seq("stratum"), 0.3, "id")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
    assert(a.except(rows).count() === 0) // pure subset, columns untouched
  }

  test("stratifiedSample rejects out-of-range fractions; fraction 1.0 keeps all") {
    val rows = (0L until 50L).map(i => (i, "only")).toDF("id", "stratum")
    intercept[IllegalArgumentException] {
      Splits.stratifiedSample(rows, Seq("stratum"), 0.0, "id")
    }
    assert(Splits.stratifiedSample(rows, Seq("stratum"), 1.0, "id").count() === 50)
  }

  test("balancedDownsample caps big groups, passes small groups whole, deterministically") {
    val df = (0 until 900).map(i => (i.toLong, if (i < 800) "big" else "small"))
      .toDF("id", "source")
    val got = Splits.balancedDownsample(df, Seq("source"), 100L, "id")
    val sizes = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes("big") === 100L, "over-cap group must be cut to the cap")
    assert(sizes("small") === 100L, "at-cap group must pass through whole")
    // membership is a pure function of the data: repartitioning changes nothing
    val again = Splits.balancedDownsample(df.repartition(7), Seq("source"), 100L, "id")
    assert(got.except(again).count() === 0 && again.except(got).count() === 0)
    intercept[IllegalArgumentException] {
      Splits.balancedDownsample(df, Seq("source"), 0L, "id")
    }
  }

  test("negativePairs: k per anchor, never self, ids in range, deterministic") {
    val n = 97L
    val df = spark.range(0, n).toDF("id")
    val got = Splits.negativePairs(df, "id", k = 4, n = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === (n * 4).toInt)
    got.foreach { case (a, _, neg) =>
      assert(neg !== a, s"anchor $a drew itself")
      assert(neg >= 0 && neg < n)
    }
    assert(got.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L)))
    // pure function of the data: a repartition changes nothing
    val again = Splits.negativePairs(df.repartition(13), "id", k = 4, n = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.toSeq === again.sorted.toSeq)
    // negatives are spread, not clustered on a few ids
    assert(got.map(_._3).distinct.length > n / 2)
  }

  test("hashSplit rejects malformed boundaries") {
    intercept[IllegalArgumentException] {
      Splits.hashSplit(keys, "id", Seq("train" -> 80, "test" -> 90))
    }
    intercept[IllegalArgumentException] {
      Splits.hashSplit(keys, "id", Seq("a" -> 90, "b" -> 80, "c" -> 100))
    }
  }

  test("expandingTimeFolds: trains only on the past, never splits a timestamp") {
    // 10 distinct seconds, 2 rows each; one timestamp (t=5) has 4 rows to
    // prove boundary rows never straddle a fold cut
    val rows = (0 until 10).flatMap { s =>
      val n = if (s == 5) 4 else 2
      Seq.fill(n)((s, java.sql.Timestamp.valueOf(f"2021-01-01 00:00:$s%02d")))
    }.toDF("i", "ts")
    val folds = Splits.expandingTimeFolds(rows, "ts", k = 4)
      .orderBy("fold").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(folds.length === 4)
    // monotone expanding train set; train + next-test are contiguous
    assert(folds.map(_._2).toSeq === folds.map(_._2).sorted.toSeq)
    folds.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 + a._3 === b._2, "test window must be the next train increment")
    }
    // total coverage: last train + its test = all 22 rows
    assert(folds.last._2 + folds.last._3 === 22L)
    // no fold boundary splits t=5's four rows: every count is even
    assert(folds.forall(f => f._2 % 2 === 0 && f._3 % 2 === 0))
  }

  test("expandingTimeFolds: with distinct ts ≈ N no single-partition " +
    "exchange carries the timestamps") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val n = 20000
    val rows = spark.range(n).select(timestamp_seconds(col("id")).as("ts"))
    val out = Splits.expandingTimeFolds(rows, "ts", k = 4)
    val folds = out.collect().sortBy(_.getLong(0)) // runs out's own plan
    assert(folds.length === 4)
    assert(folds.last.getLong(1) + folds.last.getLong(2) === n.toLong)
    // a global-order window (ntile over ts) would shuffle all n distinct
    // timestamps into one partition; only the per-range-partition offsets
    // and the per-fold totals may go there
    val single = new AdaptiveSparkPlanHelper {}.collect(
        out.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        e.metrics("shuffleRecordsWritten").value
    }
    assert(single.nonEmpty && single.forall(_ <= 100), single)
  }

  test("tokenChunks: stride/overlap math, short and empty docs") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 tokens
      (2L, "just a few tokens"),                       // 4 tokens
      (3L, "   ")                                      // whitespace-only
    ).toDF("doc_id", "text")
    val got = Splits.tokenChunks(docs, "doc_id", "text",
        maxTokens = 10, overlap = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d1 = got.filter(_._1 == 1L)
    // 100 tokens, stride 8: ceil((100-2)/8) = 13 chunks
    assert(d1.length === 13)
    assert(d1.init.forall(_._3 === 10L)) // full chunks
    assert(d1.last._3 === 100L - 12 * 8) // tail chunk: tokens 97..100
    // consecutive chunks overlap by exactly 2 tokens: starts differ by 8
    assert(d1.map(_._2).toSeq === (0L until 13L))
    assert(got.filter(_._1 == 2L).toSeq === Seq((2L, 0L, 4L)))
    assert(got.filter(_._1 == 3L).toSeq === Seq((3L, 0L, 0L))) // kept, empty
    intercept[IllegalArgumentException] {
      Splits.tokenChunks(docs, "doc_id", "text", maxTokens = 5, overlap = 5)
    }
  }

  test("materializePacks: every sequence is its members' text in doc order") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val docs = (1 to 60).map(i => (i.toLong, s"d$i", 1L + rnd.nextInt(9)))
    val df = docs.toDF("doc_id", "text", "n_tok")
    val got = Splits.materializePacks(df, "doc_id", "n_tok", "text",
        budget = 10L)
      .collect()
      .map(r => r.getAs[Long]("pack_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[String]("seq_text"))).toMap
    // reference: sequential fill in doc order
    var cum = 0L
    val expected = docs.map { case (id, t, n) =>
      val pid = cum / 10L; cum += n; (pid, id, t, n)
    }.groupBy(_._1).map { case (pid, ms) =>
      pid -> (ms.size.toLong, ms.map(_._4).sum,
        ms.sortBy(_._2).map(_._3).mkString("\n\n"))
    }
    assert(got === expected)
    // every doc's text appears in exactly one sequence
    assert(got.values.map(_._3.split("\n\n").length.toLong).sum === 60L)
  }

  test("mixtureSample: shares approach targets, binding group kept whole, subset of input") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // 'b' is scarce relative to its target → binding group, kept whole
    val rows = (1 to 300).map(i =>
      (i.toLong, if (i % 10 == 0) "b" else if (i % 3 == 0) "c" else "a",
        1L + rnd.nextInt(20)))
    val df = rows.toDF("id", "g", "tok")
    val kept = Splits.mixtureSample(df, "g", col("tok"),
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "id")
      .select("id", "g", "tok")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // subset, no duplication
    assert(kept.map(_._1).distinct.length === kept.length)
    assert(kept.toSet.subsetOf(rows.toSet))
    val massIn = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val massKept = kept.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // the binding group (max mass_g/target deficit = min n/t) survives whole
    val binding = massIn.map { case (g, n) =>
      g -> n / Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)(g) }.minBy(_._2)._1
    assert(massKept(binding) === massIn(binding))
    // every group's kept mass is within one straddling doc of its cap
    val total = massIn(binding) / Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)(binding)
    massKept.foreach { case (g, m) =>
      val cap = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)(g) * total
      assert(m <= cap + 1e-9, s"$g over cap")
      assert(m >= cap - 21, s"$g left more than one doc of slack")
    }
    // determinism under repartition
    val again = Splits.mixtureSample(df.repartition(7), "g", col("tok"),
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again === kept.map(_._1).toSet)
  }

  test("temperatureSample: tempered caps, low-resource boost, determinism") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // 'big' dominates 9:1 — tau < 1 must shift kept share toward 'small'
    val rows = (1 to 400).map(i =>
      (i.toLong, if (i % 10 == 0) "small" else "big", 1L + rnd.nextInt(20)))
    val df = rows.toDF("id", "g", "tok")
    def keptShares(tau: Double): Map[String, Double] = {
      val kept = Splits.temperatureSample(df, "g", col("tok"), "id",
          tau, budgetFraction = 0.3)
        .select("id", "g", "tok")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(kept.map(_._1).distinct.length === kept.length) // subset, no dup
      assert(kept.toSet.subsetOf(rows.toSet))
      val m = kept.groupBy(_._2).view.mapValues(_.map(_._3).sum.toDouble).toMap
      val t = m.values.sum
      m.view.mapValues(_ / t).toMap
    }
    val natural = keptShares(1.0)
    val tempered = keptShares(0.5)
    val massIn = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum.toDouble).toMap
    val inShare = massIn("small") / massIn.values.sum
    // tau = 1 ≈ natural proportions (within straddling-doc slack)
    assert(math.abs(natural("small") - inShare) < 0.05,
      s"tau=1 drifted: ${natural("small")} vs $inShare")
    // tau = 0.5 boosts the small group's share strictly
    assert(tempered("small") > natural("small") + 0.05,
      s"no boost: ${tempered("small")} vs ${natural("small")}")
    // budget respected: kept mass <= fraction x total (+ slack impossible —
    // straddlers are excluded, so the cut is one-sided)
    val keptMass = Splits.temperatureSample(df, "g", col("tok"), "id",
        0.5, budgetFraction = 0.3)
      .agg(sum("tok")).head.getLong(0).toDouble
    assert(keptMass <= 0.3 * massIn.values.sum + 1e-9)
    // determinism under repartition
    val a = Splits.temperatureSample(df, "g", col("tok"), "id", 0.5, 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Splits.temperatureSample(df.repartition(7), "g", col("tok"),
        "id", 0.5, 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  test("quantileBuckets: equal-population tiers, monotone in the value") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val rows = (1 to 400).map(i => (i.toLong, rnd.nextInt(10000).toLong))
    val got = Splits.quantileBuckets(rows.toDF("id", "v"), "v", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // monotone: higher value never lands in a lower bucket
    val byValue = got.sortBy(_._2)
    assert(byValue.sliding(2).forall(p => p(1)._3 >= p(0)._3))
    // quartiles of 400 distinct-ish values: each tier within a hair of 100
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet === Set(0, 1, 2, 3))
    sizes.values.foreach(n => assert(math.abs(n - 100) <= 2, sizes.toString))
    // approx variant agrees with exact away from the cut points
    val appr = Splits.quantileBuckets(rows.toDF("id", "v"), "v", 4,
        approxAccuracy = Some(10000))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val exact = got.map(r => r._1 -> r._3).toMap
    assert(exact.count { case (id, b) => appr(id) != b } <= 8)
    // column names that would break raw SQL interpolation resolve fine
    val weird = Splits.quantileBuckets(
        rows.toDF("id", "my.value-col"), "my.value-col", 4)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(weird === exact)
  }

  test("quantileBuckets: large-domain distributed thresholds equal the " +
    "percentile aggregate's") {
    import spark.implicits._
    // > 65536 distinct values routes to the distributed order-statistic
    // path; the buckets must be byte-identical to Spark's own exact
    // percentile aggregate over the same column (the small-domain route)
    val rnd = new scala.util.Random(11)
    val rows = (1 to 70000)
      .map(i => (i.toLong, i * 1000L + rnd.nextInt(999)))
    val df = rows.toDF("id", "v")
    val got = Splits.quantileBuckets(df, "v", 7)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ths = df.agg(org.apache.spark.sql.functions.percentile(col("v"),
        array((1 until 7).map(b => lit(b / 7.0)): _*)))
      .head.getSeq[Double](0)
    val want = rows.map { case (id, v) =>
      id -> ths.count(t => v > t)
    }.toMap
    assert(got === want)
  }

  test("sentenceChunks: window/stride semantics, terminators consumed") {
    val docs = Seq(
      (1L, "One. Two! Three? Four. Five."),
      (2L, "Lonely sentence"),
      (3L, "   "),
      (4L, "A.  B.")
    ).toDF("doc_id", "text")
    val got = Splits.sentenceChunks(docs, "doc_id", "text",
        window = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: sentences [One,Two,Three,Four,Five.] (trailing '.' has no
    // following whitespace so it stays attached); windows at 1,3,5
    val d1 = got.filter(_._1 == 1L)
    assert(d1 === Array(
      (1L, 0L, 3L, "One. Two. Three"),
      (1L, 1L, 3L, "Three. Four. Five."),
      (1L, 2L, 1L, "Five.")))
    // doc 2: one sentence, one short chunk
    assert(got.filter(_._1 == 2L) === Array((2L, 0L, 1L, "Lonely sentence")))
    // doc 3: whitespace-only → no sentences → omitted entirely
    assert(!got.exists(_._1 == 3L))
    // doc 4: multi-space after terminator still splits once
    assert(got.filter(_._1 == 4L) === Array((4L, 0L, 2L, "A. B.")))
    // every chunk holds between 1 and `window` sentences
    got.foreach { case (_, _, n, _) => assert(n >= 1 && n <= 3) }
  }

  test("weightedSample: A-Res priorities, weight dominance, stability") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (1L to 100L).map(i => (i, if (i == 42L) 1.0e9 else 1.0))
    val df = rows.toDF("id", "w")
    val got = Splits.weightedSample(df, "id", "w", k = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    // u^(1/1e9) ≈ 1 for any u in (0,1): the heavy row must be sampled
    assert(got.contains(42L) && got.size === 5)
    // membership is a pure function of the data: partitioning-independent
    val got2 = Splits.weightedSample(df.repartition(7), "id", "w", k = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2 === got)
    // appending a row displaces at most one survivor
    val got3 = Splits.weightedSample(
        df.union(Seq((1000L, 1.0)).toDF("id", "w")), "id", "w", k = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert((got intersect got3).size >= 4)
    // non-positive weights are excluded outright
    val zw = Splits.weightedSample(
        Seq((1L, 0.0), (2L, -3.0), (3L, 2.0)).toDF("id", "w"),
        "id", "w", k = 3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(zw === Seq(3L))
    // hand-checked priority: uniform fixed at 0.25, w = 2 → priority 0.5
    val p = Splits.weightedSample(Seq((7L, 2.0)).toDF("id", "w"),
        "id", "w", k = 1, uniform = _ => lit(0.25))
      .select(col("__priority")).head.getDouble(0)
    assert(math.abs(p - 0.5) < 1e-15)
  }

  test("weightedSamplePerGroup: matches the per-group window formulation, " +
    "quota per group, heavy row always survives its group") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.expressions.Window
    // 3 groups x 400 rows; one heavy row per group must always win
    val rows = (0L until 1200L).map { i =>
      (s"g${i % 3}", i, if (i < 3) 1.0e9 else 1.0 + (i % 5))
    }
    val df = rows.toDF("g", "id", "w")
    val got = Splits.weightedSamplePerGroup(df, Seq("g"), "id", "w", k = 4)
      .select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.size === 12)
    assert(Seq(0L, 1L, 2L).forall(i => got.contains((s"g$i", i))),
      "heavy rows missing from their groups")
    // equality with the naive per-group window formulation
    val w = Window.partitionBy("g")
      .orderBy(col("__priority").desc, col("id"))
    val want = df.where(col("w") > 0)
      .withColumn("__priority",
        org.apache.spark.sql.functions.pow(
          Splits.hashUniform(col("id")),
          org.apache.spark.sql.functions.lit(1.0) / col("w")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .where(col("__rn") <= 4)
      .select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("neymanAllocation: budget follows N_h·S_h; constant strata get 0") {
    import spark.implicits._
    // A: {0,2} (sd √2), B: {0,6} (sd √18 = 3√2), C constant → sd 0
    val df = Seq(("A", 0), ("A", 2), ("B", 0), ("B", 6), ("C", 5), ("C", 5))
      .toDF("s", "v")
    val got = Splits.neymanAllocation(df, Seq("s"), "v", totalBudget = 1000)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // weights 2·√2 : 2·3√2 : 0 → allocations 250 : 750 : 0
    assert(math.abs(got("A") - 250.0) < 1e-9)
    assert(math.abs(got("B") - 750.0) < 1e-9)
    assert(got("C") === 0.0)
    // allocations always sum to the budget when any stratum varies
    assert(math.abs(got.values.sum - 1000.0) < 1e-9)
  }

  test("neymanAllocation: all-constant strata allocate 0 (no 0/0 NaN)") {
    import spark.implicits._
    val df = Seq(("A", 1), ("A", 1), ("B", 2)).toDF("s", "v")
    val got = Splits.neymanAllocation(df, Seq("s"), "v", 100)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got === Map("A" -> 0.0, "B" -> 0.0))
  }

  test("paddingWaste: per-bucket waste against the bucket max") {
    import spark.implicits._
    // bucket 0 (w=10): lens 3, 7, 9 → max 9, padded 27−19 = 8
    // bucket 1: len 10 alone → zero waste
    val df = Seq(3L, 7L, 9L, 10L).toDF("n")
    val got = Splits.paddingWaste(df, "n", bucketWidth = 10L)
      .orderBy("bucket").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(5))).toSeq === Seq((0L, 0L, 3L, 8L), (1L, 10L, 1L, 0L)))
    assert(math.abs(got(0).getAs[Double]("waste_ratio") - 8.0 / 27) < 1e-9)
    assert(got(1).getAs[Double]("waste_ratio") === 0.0)
  }

  test("leakFreeSplit: a dup cluster can never straddle splits") {
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 1-2-3 chain through transitive pairs → one cluster labeled 1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Splits.leakFreeSplit(docs, "doc_id", pairs,
        Seq("train" -> 50, "test" -> 100),
        bucket = k => pmod(k * 37, lit(100)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("group_id"), r.getAs[String]("split"))).toMap
    // the whole cluster shares group 1 and therefore one split
    assert(Seq(1L, 2L, 3L).map(got(_)).distinct.size === 1)
    assert(got(1L)._1 === 1L)
    // singletons group by their own id and spread across splits
    assert((4L to 10L).forall(i => got(i)._1 === i))
    assert((4L to 10L).map(got(_)._2).distinct.size === 2)
  }

  test("apportionBudget: integral quotas allocate exactly, no remainder phase") {
    val rows = Seq(("a", 3L), ("b", 3L), ("c", 4L)).toDF("g", "m")
    val got = Splits.apportionBudget(rows, Seq("g"), col("m"), budget = 10L)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Double]("quota"), r.getAs[Long]("allocation"))).toMap
    assert(got("a") === ((3.0, 3L)))
    assert(got("b") === ((3.0, 3L)))
    assert(got("c") === ((4.0, 4L)))
  }

  test("apportionBudget: largest-remainder top-up, key-ordered ties, exact sum") {
    // equal masses, budget 10 over 3 groups → quotas 3.33…, floors sum 9,
    // one leftover unit → remainder tie broken by the SMALLER group key
    val rows = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("g", "m")
    val got = Splits.apportionBudget(rows, Seq("g"), col("m"), budget = 10L)
      .collect().map(r => r.getAs[String]("g") ->
        r.getAs[Long]("allocation")).toMap
    assert(got === Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
  }

  test("apportionBudget: sum == budget exactly; zero-mass groups sit out") {
    val rows = (1 to 97).map(i => (s"g$i", (i * 7 % 13 + 1).toLong))
      .union(Seq(("dead", 0L))).toDF("g", "m")
    val got = Splits.apportionBudget(rows, Seq("g"), col("m"),
      budget = 999983L)
    assert(got.agg(sum("allocation")).head().getLong(0) === 999983L)
    val dead = got.where(col("g") === "dead").head()
    assert(dead.getAs[Long]("allocation") === 0L)
    assert(dead.getAs[Double]("quota") === 0.0)
    // |allocation − quota| < 1 for every competing group
    assert(got.where(col("mass") > 0)
      .where(abs(col("allocation") - col("quota")) >= 1.0).count() === 0)
  }
}
