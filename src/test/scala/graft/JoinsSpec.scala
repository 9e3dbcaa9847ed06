package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Joins

class JoinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOfJoin picks the latest right row at or before each left row") {
    val trades = Seq(
      (1L, 100L, ts("2021-01-01 10:00:05")),
      (2L, 100L, ts("2021-01-01 10:01:00")),
      (3L, 100L, ts("2021-01-01 09:59:00")),  // before any quote → dropped
      (4L, 200L, ts("2021-01-01 10:00:00"))   // equal ts → matches
    ).toDF("trade_id", "acct", "t_ts")
    val quotes = Seq(
      (100L, ts("2021-01-01 10:00:00"), 10.0),
      (100L, ts("2021-01-01 10:00:30"), 11.0),
      (200L, ts("2021-01-01 10:00:00"), 20.0)
    ).toDF("acct", "q_ts", "px")

    val got = Joins.asOfJoin(trades, quotes, "acct", "t_ts", "q_ts", Seq("px"))
      .select("trade_id", "asof_px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 10.0, 2L -> 11.0, 4L -> 20.0))
  }

  test("asOfJoin: with keys ≈ rows the per-(partition, key) boundary " +
    "summary plans no broadcast") {
    // broadcasts only on an explicit hint in this session: the boundary
    // summary is one row per (range partition, key), data-sized here
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val left = s2.range(2000).select(col("id").as("k"),
      timestamp_seconds(col("id") + 10).as("lts"))
    val right = s2.range(4000).select((col("id") % 2000).as("k"),
      timestamp_seconds(col("id") % 2000 + (col("id") / 2000).cast("long") * 5)
        .as("rts"), col("id").as("v"))
    val out = Joins.asOfJoin(left, right, "k", "lts", "rts", Seq("v"))
    val got = out.collect() // runs out's own plan
    // every left row matches the later of its key's two right rows
    assert(got.length === 2000)
    assert(got.forall(r => r.getAs[Long]("asof_v") === r.getAs[Long]("k") + 2000))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("asOfJoin: toleranceSec bounds the look-back at microsecond precision") {
    val trades = Seq(
      (1L, 100L, ts("2021-01-01 10:00:05")),   // 5s after the quote → kept
      (2L, 100L, ts("2021-01-01 10:01:00")),   // 30s after → dropped at 10s
      (4L, 200L, ts("2021-01-01 10:00:00")))   // 0s → kept
      .toDF("trade_id", "acct", "t_ts")
    val quotes = Seq(
      (100L, ts("2021-01-01 10:00:00"), 10.0),
      (100L, ts("2021-01-01 10:00:30"), 11.0),
      (200L, ts("2021-01-01 10:00:00"), 20.0)).toDF("acct", "q_ts", "px")
    val got = Joins.asOfJoin(trades, quotes, "acct", "t_ts", "q_ts",
        Seq("px"), toleranceSec = Some(10L))
      .select("trade_id", "asof_px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 10.0, 4L -> 20.0))
    // sub-second precision: a match 1µs beyond the bound drops (second-
    // flooring would keep it)
    val l = Seq((1L, 9L, 10000000L + 1L), (2L, 9L, 10000000L))
      .toDF("id", "k", "lts_us")
      .select(col("id"), col("k"),
        timestamp_micros(col("lts_us")).as("lts"))
    val r2 = Seq((9L, 0L, 1.0)).toDF("k", "rts_us", "v")
      .select(col("k"), timestamp_micros(col("rts_us")).as("rts"), col("v"))
    val tight = Joins.asOfJoin(l, r2, "k", "lts", "rts", Seq("v"),
        toleranceSec = Some(10L))
      .select("id").as[Long].collect().toSet
    assert(tight === Set(2L))
  }

  test("asOfJoin: ONE hot key across many range partitions matches a " +
    "driver-computed as-of (cross-partition carry)") {
    // a single symbol with 8000 interleaved rows: under 32 shuffle
    // partitions the timeline spans every range partition, so most left
    // rows' match lives in an EARLIER partition and only the boundary
    // carry can supply it (a per-key window would put all 8000 in one task)
    val lefts = (0 until 4000).map(i => (i.toLong, "sym", i.toLong * 10 + 5))
    val rights = (0 until 4000).map(i => ("sym", i.toLong * 10, i.toLong))
    val got = Joins.asOfJoin(
        lefts.toDF("lid", "k", "lts"), rights.toDF("k", "rts", "rid"),
        "k", "lts", "rts", Seq("rid"))
      .select("lid", "asof_rid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 4000)
    // left i sits at 10i+5: latest right at-or-before is right i (at 10i)
    (0 until 4000).foreach(i => assert(got(i.toLong) === i.toLong, s"l$i"))
    // sparse rights: most partitions hold NO right row, so the carry must
    // look further back than the adjacent partition
    val sparse = Joins.asOfJoin(
        lefts.toDF("lid", "k", "lts"),
        rights.filter(_._3 < 10L).toDF("k", "rts", "rid"),
        "k", "lts", "rts", Seq("rid"))
      .select("lid", "asof_rid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sparse.size === 4000 && sparse.values.forall(_ <= 9L))
    assert(sparse(3999L) === 9L)
  }

  test("asOfJoin carries right rows atomically when value columns hold NULLs") {
    val trades = Seq((1L, 100L, ts("2021-01-01 10:05:00"))).toDF("trade_id", "acct", "t_ts")
    val quotes = Seq(
      (100L, ts("2021-01-01 09:00:00"), Some(4.0), Some(9L)),
      (100L, ts("2021-01-01 10:00:00"), Some(5.0), None) // matched row has NULL sz
    ).toDF("acct", "q_ts", "px", "sz")
    val got = Joins.asOfJoin(trades, quotes, "acct", "t_ts", "q_ts", Seq("px", "sz"))
      .select("trade_id", "asof_px", "asof_sz").collect()
    assert(got.length === 1) // row kept despite NULL field in the match
    assert(got(0).getDouble(1) === 5.0)
    assert(got(0).isNullAt(2)) // NOT stitched from the 09:00 quote
  }

  test("asOfJoin/Forward: duplicate right rows at one (key, ts) pick the " +
    "struct minimum deterministically") {
    val trades = Seq((1L, 100L, ts("2021-01-01 10:00:05"))).toDF(
      "trade_id", "acct", "t_ts")
    // two quotes at the SAME (acct, ts): the struct min — ordered by
    // (__rts, px, tag) — must win in both directions, every run
    val quotes = Seq(
      (100L, ts("2021-01-01 10:00:00"), 11.0, "zz"),
      (100L, ts("2021-01-01 10:00:00"), 10.0, "aa"),
      (100L, ts("2021-01-01 10:00:30"), 12.0, "bb"),
      (100L, ts("2021-01-01 10:00:30"), 13.0, "cc")
    ).toDF("acct", "q_ts", "px", "tag").repartition(4) // scatter the dups
    val back = Joins.asOfJoin(trades, quotes, "acct", "t_ts", "q_ts",
      Seq("px", "tag")).select("asof_px", "asof_tag").head()
    assert(back.getDouble(0) === 10.0 && back.getString(1) === "aa")
    val fwd = Joins.asOfJoinForward(trades, quotes, "acct", "t_ts", "q_ts",
      Seq("px", "tag")).select("asof_px", "asof_tag").head()
    assert(fwd.getDouble(0) === 12.0 && fwd.getString(1) === "bb")
  }

  test("asOfJoin: unorderable (map-typed) right payloads still join via " +
    "the raw path") {
    val trades = Seq((1L, 100L, ts("2021-01-01 10:00:05"))).toDF(
      "trade_id", "acct", "t_ts")
    val quotes = Seq((100L, ts("2021-01-01 10:00:00"), Map("px" -> 10.0)))
      .toDF("acct", "q_ts", "attrs")
    val got = Joins.asOfJoin(trades, quotes, "acct", "t_ts", "q_ts",
      Seq("attrs")).select("trade_id", "asof_attrs").head()
    assert(got.getLong(0) === 1L)
    assert(got.getMap[String, Double](1)("px") === 10.0)
  }

  test("asOfJoinForward picks the earliest right row at or after; tolerance bounds it") {
    val trades = Seq(
      (1L, 100L, ts("2021-01-01 10:00:05")),  // next quote 10:00:30
      (2L, 100L, ts("2021-01-01 10:01:00")),  // after all quotes → dropped
      (3L, 100L, ts("2021-01-01 09:59:00")),  // next quote 10:00:00
      (4L, 200L, ts("2021-01-01 10:00:00"))   // equal ts → matches
    ).toDF("trade_id", "acct", "t_ts")
    val quotes = Seq(
      (100L, ts("2021-01-01 10:00:00"), 10.0),
      (100L, ts("2021-01-01 10:00:30"), 11.0),
      (200L, ts("2021-01-01 10:00:00"), 20.0)
    ).toDF("acct", "q_ts", "px")
    val got = Joins.asOfJoinForward(trades, quotes, "acct", "t_ts", "q_ts", Seq("px"))
      .select("trade_id", "asof_px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 11.0, 3L -> 10.0, 4L -> 20.0))
    // tolerance 30s: trade 3's match is 60s ahead → dropped
    val tol = Joins.asOfJoinForward(trades, quotes, "acct", "t_ts", "q_ts",
        Seq("px"), toleranceSec = Some(30L))
      .select("trade_id", "asof_px").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tol === Map(1L -> 11.0, 4L -> 20.0))
  }

  test("rangeJoinBinned equals the plain inequality join, incl. overlaps") {
    val values = Seq.tabulate(500)(i => (i.toLong, (i * 7 % 483).toDouble / 1.7))
      .toDF("id", "v")
    // overlapping + boundary-aligned + bin-straddling ranges
    val ranges = Seq(
      (1L, 0.0, 50.0), (2L, 25.0, 125.0), (3L, 50.0, 100.0),
      (4L, 90.0, 290.0), (5L, 199.9, 200.1)
    ).toDF("range_id", "lo", "hi")
    val plain = values.join(ranges, col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "range_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val binned = Joins.rangeJoinBinned(values, "v", ranges, "lo", "hi", 50.0)
      .select("id", "range_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(binned.toSet === plain)
    assert(binned.length === binned.toSet.size) // exactly-once per (row, range)
  }

  test("saltedJoin salt assignment is content-derived: identical across partitionings") {
    val rows = Seq.tabulate(500)(i => (if (i % 3 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    def saltMap(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__salt", Joins.saltOf(df, 8))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    // monotonically_increasing_id-based salting changes with partition
    // layout; content-derived salting must not
    assert(saltMap(rows.repartition(1)) === saltMap(rows.repartition(7)))
  }

  test("saltedJoin equals plain join on a skewed key, in both scatter modes") {
    val large = Seq.tabulate(1000)(i => (if (i < 900) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", 1), ("k950", 2)).toDF("key", "w")
    val plain = large.join(small, Seq("key")).agg(count(lit(1)), sum("v"), sum("w"))
      .head()
    for (uniform <- Seq(false, true)) {
      val salted = Joins.saltedJoin(large, small, "key", 8, uniformScatter = uniform)
        .agg(count(lit(1)), sum("v"), sum("w")).head()
      assert(salted === plain, s"uniformScatter=$uniform")
    }
  }

  test("uniformScatter spreads duplicate-row hot keys that content salting cannot") {
    // 900 IDENTICAL rows on the hot key: content hashing maps them all to
    // one salt; the row-id mode must use several
    val dupHot = Seq.fill(900)(("hot", 1)).toDF("key", "v").repartition(8)
    val contentSalts = dupHot.withColumn("__salt", Joins.saltOf(dupHot, 8))
      .select("__salt").distinct().count()
    assert(contentSalts === 1)
    val spread = Joins.saltedJoin(dupHot, Seq(("hot", 9)).toDF("key", "w"),
        "key", 8, uniformScatter = true)
    assert(spread.count() === 900)
  }

  test("intervalOverlapJoin: half-open overlap, once per pair, key-scoped") {
    val left = Seq((1L, "u", 0L, 100L), (2L, "u", 250L, 260L),
      (3L, "v", 0L, 100L)).toDF("a_id", "k", "a_s", "a_e")
    val right = Seq((10L, "u", 50L, 300L), (11L, "u", 100L, 120L),
      (12L, "v", 99L, 200L)).toDF("b_id", "k", "b_s", "b_e")
    val got = Joins.intervalOverlapJoin(left, right, "a_s", "a_e",
        "b_s", "b_e", binWidth = 64.0, keys = Seq("k"))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // (1,10): overlap spanning several 64-cells → exactly once
    // (1,11): touch at the boundary — [0,100) vs [100,120) → NO overlap
    // (2,10): [250,260) inside [50,300) ✓;  (3,12): other key, [0,100)∩[99,200) ✓
    // (3,10)/(3,11): key v vs key u → never joined
    assert(got === Set((1L, 10L), (2L, 10L), (3L, 12L)))
  }

  test("intervalOverlapJoin: duplicate emission impossible across shared cells") {
    // both intervals span 5+ cells together; count must still be 1
    val l = Seq((1L, 0L, 500L)).toDF("a_id", "a_s", "a_e")
    val r = Seq((2L, 10L, 490L)).toDF("b_id", "b_s", "b_e")
    assert(Joins.intervalOverlapJoin(l, r, "a_s", "a_e", "b_s", "b_e",
      binWidth = 100.0).count() === 1)
  }

  test("nearestJoin: closer side wins, ties go backward, tolerance drops") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    val left = Seq(
      (1L, "u1", ts(100)),  // back at 90 (d 10), fwd at 130 (d 30) -> back
      (2L, "u1", ts(120)),  // back at 90 (d 30), fwd at 130 (d 10) -> fwd
      (3L, "u1", ts(110)),  // tie: 90 (d 20) vs 130 (d 20) -> EARLIER (90)
      (4L, "u2", ts(500)),  // only match at 9000 -> out of tolerance
      (5L, "u3", ts(50)))   // no right rows for u3 at all
      .toDF("id", "k", "lts")
    val right = Seq(
      ("u1", ts(90), 901L), ("u1", ts(90), 900L), // equal-ts: min id wins
      ("u1", ts(130), 913L),
      ("u2", ts(9000), 990L))
      .toDF("k", "rts", "rid")
    val got = Joins.nearestJoin(left, right, "k", "lts", "rts",
        Seq("rid"), toleranceSec = Some(1000L))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("nearest_rid"),
        r.getAs[Double]("nearest_dt_sec"))).toSeq
    assert(got === Seq(
      (1L, 900L, -10.0), (2L, 913L, 10.0), (3L, 900L, -20.0)))
  }
}
