package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Streaming results must equal the batch equivalents on the same static
  * data — the transforms are shared, streaming only adds incremental state.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val eventsDir: String = {
    // Stage a micro events dir (ts as proper timestamps so readStream's
    // declared schema applies directly).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    Seq(
      (1L, "2021-01-01 10:05:00", 7L, "click", 1.0, "{}"),
      (2L, "2021-01-01 10:15:00", 7L, "click", 2.0, "{}"),
      (3L, "2021-01-01 11:05:00", 7L, "view", 3.0, "{}"),
      (4L, "2021-01-01 11:20:00", 8L, "click", 4.0, "{}"),
      (5L, "2021-01-01 13:00:00", 8L, "view", 5.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("hourly tumbling counts: stream == batch") {
    val stream = EventStreams.readStream(spark, eventsDir)
    EventStreams.runToMemory(EventStreams.hourlyTypeCounts(stream),
      "hourly_out", mode = "complete")
    val got = spark.table("hourly_out")
      .orderBy("hour_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = EventStreams.hourlyTypeCounts(spark.read.parquet(eventsDir))
      .orderBy("hour_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === batch.toSeq)
    assert(got.length === 4)
    assert(got.head === (("2021-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  test("session windows group events by gap") {
    val stream = EventStreams.readStream(spark, eventsDir)
    EventStreams.runToMemory(EventStreams.sessionWindows(stream, "30 minutes"),
      "session_out", mode = "complete")
    val got = spark.table("session_out").orderBy("user_id", "s_start").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    // user 7: events at 10:05,10:15 (one session) + 11:05 (new); user 8: 11:20 and 13:00 separate
    assert(got.toSeq === Seq((7L, 2L), (7L, 1L), (8L, 1L), (8L, 1L)))
  }

  test("stateful sessionization (flatMapGroupsWithState) matches window-based") {
    val events = spark.read.parquet(eventsDir)
    val got = EventStreams.sessionizeStateful(events, 1800)
      .orderBy("user_id", "session_start").collect()
      .map(s => (s.user_id, s.n_events))
    // same grouping as the session_window test: user 7 → [2,1], user 8 → [1,1]
    assert(got.toSeq === Seq((7L, 2L), (7L, 1L), (8L, 1L), (8L, 1L)))
    // cross-check against the batch window-function sessionizer
    val batch = graft.operators.Sessionize
      .perUserStats(events, "user_id", "ts", "event_id", 1800)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_sessions")))
    assert(batch.toSeq === Seq((7L, 2L), (8L, 2L)))
  }

  test("sliding windows count each event in overlapping windows") {
    val stream = EventStreams.readStream(spark, eventsDir)
    EventStreams.runToMemory(EventStreams.slidingUserActivity(stream),
      "sliding_out", mode = "complete")
    val n = spark.table("sliding_out").count()
    assert(n > 5) // each event lands in 4 overlapping 1h/15m windows
  }

  private lazy val dupEventsDir: String = {
    // The same 5 events with event_id 1 and 4 re-delivered (at-least-once).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-events").toString
    Seq(
      (1L, "2021-01-01 10:05:00", 7L, "click", 1.0, "{}"),
      (1L, "2021-01-01 10:05:00", 7L, "click", 1.0, "{}"),
      (2L, "2021-01-01 10:15:00", 7L, "click", 2.0, "{}"),
      (3L, "2021-01-01 11:05:00", 7L, "view", 3.0, "{}"),
      (4L, "2021-01-01 11:20:00", 8L, "click", 4.0, "{}"),
      (4L, "2021-01-01 11:20:00", 8L, "click", 4.0, "{}"),
      (5L, "2021-01-01 13:00:00", 8L, "view", 5.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming dedup drops re-delivered events before aggregating") {
    val stream = EventStreams.readStream(spark, dupEventsDir)
    EventStreams.runToMemory(EventStreams.dedupedHourlyCounts(stream),
      "dedup_hourly_out", mode = "append")
    // Append mode emits only watermark-closed windows; compare against the
    // batch aggregate over the DISTINCT events, restricted to emitted hours.
    val got = spark.table("dedup_hourly_out")
      .orderBy("hour_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = EventStreams.hourlyTypeCounts(
        spark.read.parquet(dupEventsDir).dropDuplicates("event_id"))
      .orderBy("hour_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter { case (h, _, _, _) => got.exists(_._1 == h) }
    assert(got.nonEmpty)
    assert(got.toSeq === batch.toSeq)
    // the duplicated click (id=1) counted once: 10:00 click window n=2 value=3
    assert(got.head === (("2021-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  private lazy val funnelDir: String = {
    // click → purchase funnel: user 7 purchases 10 min after the click
    // (inside the 30m horizon), user 8 purchases 2h later (outside).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    Seq(
      (1L, "2021-01-01 10:05:00", 7L, "click", 0.0, "{}"),
      (2L, "2021-01-01 10:15:00", 7L, "purchase", 42.0, "{}"),
      (3L, "2021-01-01 11:00:00", 8L, "click", 0.0, "{}"),
      (4L, "2021-01-01 13:00:00", 8L, "purchase", 9.0, "{}"),
      (5L, "2021-01-01 14:00:00", 9L, "view", 1.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("stream-stream interval join pairs clicks with in-horizon purchases") {
    val clicks = EventStreams.readStream(spark, funnelDir)
    val purchases = EventStreams.readStream(spark, funnelDir)
    EventStreams.runToMemory(
      EventStreams.clickToPurchase(clicks, purchases, "30 minutes"),
      "funnel_out", mode = "append")
    val got = spark.table("funnel_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        r.getAs[Double]("amount")))
    assert(got.toSeq === Seq((7L, 1L, 42.0))) // user 8's purchase is late
    // batch formulation agrees
    val ev = spark.read.parquet(funnelDir)
    val batch = EventStreams.clickToPurchase(ev, ev, "30 minutes").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        r.getAs[Double]("amount")))
    assert(batch.toSeq === got.toSeq)
  }

  test("windowed aggregation runs on the RocksDB state store provider") {
    val s2 = spark.newSession()
    EventStreams.rocksDbStateConfs.foreach { case (k, v) => s2.conf.set(k, v) }
    val stream = EventStreams.readStream(s2, eventsDir)
    EventStreams.runToMemory(EventStreams.hourlyTypeCounts(stream),
      "rocksdb_hourly", mode = "complete")
    val got = s2.table("rocksdb_hourly").orderBy("hour_start", "event_type")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val batch = EventStreams.hourlyTypeCounts(spark.read.parquet(eventsDir))
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(got.toSeq === batch.toSeq)
  }

  test("transformWithState running totals match the batch aggregate") {
    val s2 = spark.newSession()
    EventStreams.rocksDbStateConfs.foreach { case (k, v) => s2.conf.set(k, v) }
    EventStreams.runToMemory(
      EventStreams.runningTotals(EventStreams.readStream(s2, eventsDir)).toDF(),
      "tws_totals", mode = "update")
    // single micro-batch → one row per user with lifetime totals
    val got = s2.table("tws_totals").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val batch = spark.read.parquet(eventsDir)
      .groupBy("user_id").agg(sum("value"), count(lit(1)))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq === batch.toSeq)
  }

  test("foreachBatch ingest dedup appends only corpus-new keys; replay is key-idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-dedup")
    val lake = graft.sources.VersionedLake(s"file://$tmp/lake")
    val q = EventStreams.dedupToLake(
      EventStreams.readStream(spark, dupEventsDir), lake, "bronze", "events_new",
      keyCol = "event_id", checkpoint = s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    val got = lake.read(spark, "bronze", "events_new")
    assert(got.count() === 5) // within-batch re-deliveries collapsed
    assert(got.select("event_id").distinct().count() === 5)
    // the same source replayed through a FRESH stream (new checkpoint):
    // every key is already in the table, so nothing is appended
    val q2 = EventStreams.dedupToLake(
      EventStreams.readStream(spark, dupEventsDir), lake, "bronze", "events_new",
      keyCol = "event_id", checkpoint = s"$tmp/chk2")
    q2.processAllAvailable()
    q2.stop()
    assert(lake.read(spark, "bronze", "events_new").count() === 5)
  }

  test("streaming count-min accumulator == one batch sketch (monoidal merge)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms-stream")
    val acc = new EventStreams.CmsAccumulator()
    val q = EventStreams.heavyHittersSink(
      EventStreams.readStream(spark, eventsDir), "event_type", acc,
      checkpoint = s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    // batch truth: one sketch over the same static rows — CM sketches are
    // monoidal, so however the stream batched, estimates must be identical
    val batchAcc = new EventStreams.CmsAccumulator()
    batchAcc.fold(batchAcc.sketchFor(spark.read.parquet(eventsDir), "event_type"))
    for (k <- Seq("click", "view", "absent")) {
      assert(acc.estimate(k) === batchAcc.estimate(k), s"key $k")
    }
    // and on this tiny stream the estimates are exact
    assert(acc.estimate("click") === 3L)
    assert(acc.estimate("view") === 2L)
    assert(acc.estimate("absent") === 0L)
  }

  test("foreachBatch upsert streams micro-batches into a lake table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lake-stream")
    val lake = graft.sources.VersionedLake(s"file://$tmp/lake")
    val q = EventStreams.upsertToLake(
      EventStreams.readStream(spark, dupEventsDir), lake, "silver", "events",
      checkpoint = s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    val got = lake.read(spark, "silver", "events")
    assert(got.count() === 5) // re-delivered ids 1 and 4 collapsed
    assert(got.select("event_id").distinct().count() === 5)
    // a second upsert with a newer version of event 5 replaces it
    import spark.implicits._
    val update = Seq((5L, "2021-01-01 13:30:00", 8L, "view", 7.5, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    lake.upsert(spark, "silver", "events", update, "event_id", "ts")
    val after = lake.read(spark, "silver", "events")
    assert(after.count() === 5)
    assert(after.where(col("event_id") === 5).select("value")
      .head().getDouble(0) === 7.5)
  }

  test("foreachBatch upsert into a VERSIONED lake commits one snapshot per batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-vlake-stream")
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    val q = EventStreams.upsertToLake(
      EventStreams.readStream(spark, dupEventsDir), vl, "silver", "events",
      checkpoint = s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    val got = vl.read(spark, "silver", "events")
    assert(got.count() === 5) // re-delivered ids collapsed in the merge
    assert(got.select("event_id").distinct().count() === 5)
    // every micro-batch left a committed, time-travelable snapshot
    val vs = vl.versions(spark, "silver", "events")
    assert(vs.nonEmpty && vs === (1 to vs.length))
    // ingest keeps flowing AFTER a maintenance commit bumped the version
    // out from under the stream's table (the race retryingCommit absorbs)
    vl.compact(spark, "silver", "events", filesPerPartition = 1)
    import spark.implicits._
    val update = Seq((5L, "2021-01-01 13:30:00", 8L, "view", 7.5, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    vl.upsert(spark, "silver", "events", update, "event_id", "ts")
    val after = vl.read(spark, "silver", "events")
    assert(after.count() === 5)
    assert(after.where(col("event_id") === 5).select("value")
      .head().getDouble(0) === 7.5)
    // pre-maintenance snapshot still time-travels
    assert(vl.read(spark, "silver", "events", Some(vs.last)).count() === 5)
  }

  test("streamed hourly gold equals the batch aggregate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gold-stream")
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    val q = EventStreams.hourlyGoldToLake(
      EventStreams.readStream(spark, eventsDir), vl, "gold", "hourly",
      checkpoint = s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    assert(goldRows(vl.read(spark, "gold", "hourly")) ===
      goldRows(EventStreams.hourlyTypeCounts(spark.read.parquet(eventsDir))))
  }

  /** The `eventsDir` rows as two one-file drops (two micro-batches under
    * `maxFilesPerTrigger` 1), `dayShift` days later. */
  private def goldDrops(dir: String, dayShift: Int = 0): String = {
    import spark.implicits._
    Seq(
      Seq((1L, "10:05:00", 7L, "click", 1.0), (2L, "10:15:00", 7L, "click", 2.0),
        (3L, "11:05:00", 7L, "view", 3.0)),
      Seq((4L, "11:20:00", 8L, "click", 4.0), (5L, "13:00:00", 8L, "view", 5.0)))
      .zipWithIndex.foreach { case (rows, i) =>
        rows.map { case (id, t, u, typ, v) =>
          (id, s"2021-01-${1 + dayShift} $t", u, typ, v, "{}") }
          .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
          .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/d$i")
      }
    dir
  }

  private def runGold(vl: graft.sources.VersionedLake, src: String,
                      chk: String): Unit = {
    val q = EventStreams.hourlyGoldToLake(
      spark.readStream.schema(EventStreams.eventsSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*"),
      vl, "gold", "hourly", checkpoint = chk)
    q.processAllAvailable(); q.stop()
  }

  private def goldRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("hour_start", "event_type").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  /** Forget the checkpoint's last committed batch: the crash after the
    * sink's commit and before Spark's, so a restart replays that batch. */
  private def dropLastCommit(chk: String): Unit = {
    val commits = new java.io.File(s"$chk/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(new java.io.File(commits, last).delete())
    new java.io.File(commits, s".$last.crc").delete()
  }

  test("hourlyGoldToLake: a batch replayed after its fold committed folds once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gold-crash").toString
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    val src = goldDrops(s"$tmp/drops")
    runGold(vl, src, s"$tmp/chk")
    dropLastCommit(s"$tmp/chk")
    // no side file may carry the replay check: only the table survives
    new java.io.File(s"$tmp/lake/gold").listFiles()
      .filterNot(_.getName == "hourly")
      .foreach(f => org.apache.commons.io.FileUtils.forceDelete(f))
    val before = vl.currentVersion(spark, "gold", "hourly")
    runGold(vl, src, s"$tmp/chk")
    assert(goldRows(vl.read(spark, "gold", "hourly")) ===
      goldRows(EventStreams.hourlyTypeCounts(spark.read.parquet(s"$src/*"))))
    assert(vl.currentVersion(spark, "gold", "hourly") === before)
  }

  test("hourlyGoldToLake: a stream on a new checkpoint folds all of its batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gold-newchk").toString
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    runGold(vl, goldDrops(s"$tmp/drops1"), s"$tmp/chk1")
    // new events, new checkpoint: its batch ids restart at 0
    runGold(vl, goldDrops(s"$tmp/drops2", dayShift = 1), s"$tmp/chk2")
    val all = spark.read.parquet(s"$tmp/drops1/*")
      .unionByName(spark.read.parquet(s"$tmp/drops2/*"))
    assert(goldRows(vl.read(spark, "gold", "hourly")) ===
      goldRows(EventStreams.hourlyTypeCounts(all)))
  }

  test("hourlyGoldToLake: a replay after lake.compact of the gold table folds once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gold-compact").toString
    val vl = graft.sources.VersionedLake(s"file://$tmp/lake")
    val src = goldDrops(s"$tmp/drops")
    runGold(vl, src, s"$tmp/chk")
    vl.compact(spark, "gold", "hourly", filesPerPartition = 1)
    dropLastCommit(s"$tmp/chk")
    runGold(vl, src, s"$tmp/chk")
    assert(goldRows(vl.read(spark, "gold", "hourly")) ===
      goldRows(EventStreams.hourlyTypeCounts(spark.read.parquet(s"$src/*"))))
  }

  test("streaming doc curation: NFC collapses cross-encoding dups, quality floor holds, replay appends nothing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-docstream").toString
    val lake = graft.sources.VersionedLake(s"$tmp/lake")
    def write(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir)
    // drop 1: composed + decomposed spellings of ONE doc, a good doc, junk
    write(s"$tmp/drop1", Seq(
      (1L, "r\u00e9sum\u00e9 of the quick brown fox and the lazy dog"),
      (2L, "re\u0301sume\u0301 of the quick brown fox and the lazy dog"),
      (3L, "a perfectly ordinary second document about parquet files"),
      (4L, "!!!! ???? %%%% @@@@")))   // fails the quality floor
    val q = streaming.DocStreams.curateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop1"), lake,
      "bronze", "docs", s"$tmp/chk1", minQuality = 0.05)
    q.processAllAvailable(); q.stop()
    val got = lake.read(spark, "bronze", "docs")
    // cross-encoding dup collapsed to ONE row; junk filtered
    assert(got.count() === 2)
    assert(got.select("doc_id").as[Long].collect().toSet.subsetOf(Set(1L, 2L, 3L)))
    // drop 2 via a FRESH stream: a re-encoded replay of doc 3 + one new doc
    write(s"$tmp/drop2", Seq(
      (5L, "a perfectly ordinary second document about parquet files"),
      (6L, "genuinely new content that has never been seen before")))
    val q2 = streaming.DocStreams.curateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop2"), lake,
      "bronze", "docs", s"$tmp/chk2", minQuality = 0.05)
    q2.processAllAvailable(); q2.stop()
    val after = lake.read(spark, "bronze", "docs")
    assert(after.count() === 3) // only doc 6 appended
    assert(after.where(col("doc_id") === 6L).count() === 1)
    // stream == batch: the same curation applied statically agrees
    val batchFps = spark.read.parquet(s"$tmp/drop1").unionByName(
        spark.read.parquet(s"$tmp/drop2"))
      .withColumn("text", graft.functions.Text.normalizeUnicode(col("text")))
      .where(graft.functions.Text.qualityScore(col("text")) >= 0.05)
      .select(graft.functions.Text.fingerprint(col("text")).as("fp"))
      .distinct().as[Long].collect().toSet
    assert(after.select("fp").as[Long].collect().toSet === batchFps)
  }

  test("nearDupCurateToLake: batch-local near-dups collapse, corpus keys grow, replay appends nothing") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val lake = graft.sources.VersionedLake(s"$tmp/lake")
    def write(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir)
    // drop 1: doc 2 is a verbatim copy of doc 1 (identical signature →
    // guaranteed within-batch collapse); doc 3 is its own content
    write(s"$tmp/drop1", Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a perfectly ordinary second document about parquet files")))
    val q = streaming.DocStreams.nearDupCurateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop1"), lake,
      "bronze", "docs", "corpus_keys", s"$tmp/chk1")
    q.processAllAvailable(); q.stop()
    val got1 = lake.read(spark, "bronze", "docs")
    assert(got1.count() === 2)
    assert(got1.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    // the corpus-key table holds the survivors' band keys
    val keys1 = lake.read(spark, "bronze", "corpus_keys")
    assert(keys1.select("id").distinct().as[Long].collect().toSet === Set(1L, 3L))
    // drop 2 via a FRESH stream: a verbatim replay of doc 1 under a new id
    // (drops against the stored keys) + genuinely new content (survives)
    write(s"$tmp/drop2", Seq(
      (5L, "the quick brown fox jumps over the lazy dog tonight"),
      (6L, "genuinely new content that has never been seen before anywhere")))
    val q2 = streaming.DocStreams.nearDupCurateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop2"), lake,
      "bronze", "docs", "corpus_keys", s"$tmp/chk2")
    q2.processAllAvailable(); q2.stop()
    val got2 = lake.read(spark, "bronze", "docs")
    assert(got2.count() === 3)
    assert(got2.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 6L))
    // stream == batch: static transitive minhash dedup over both drops
    // keeps the same SET of texts (ids differ by arrival order — first
    // writer wins in the stream, min id in the batch; content agrees)
    val all = spark.read.parquet(s"$tmp/drop1")
      .unionByName(spark.read.parquet(s"$tmp/drop2"))
    val batchKept = graft.operators.Dedup.minhashKeepIdsTransitive(
        all, "doc_id", "text")
      .join(all, Seq("doc_id")).select("text").as[String].collect().toSet
    assert(got2.select("text").as[String].collect().toSet === batchKept)
  }

  test("nearDupCurateToLake: sub-shingle docs replay-idempotent via the fingerprint rescue screen") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-shortdoc").toString
    val lake = graft.sources.VersionedLake(s"$tmp/lake")
    def write(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(dir)
    // "ok bye" has 2 tokens < shingleSize 3 → emits NO band keys; its
    // twin (id 2) can only be caught by the batch-local fingerprint pass
    write(s"$tmp/drop1", Seq(
      (1L, "ok bye"),
      (2L, "ok bye"),
      (3L, "a perfectly ordinary long document about parquet row groups")))
    val q = streaming.DocStreams.nearDupCurateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop1"), lake,
      "bronze", "docs", "corpus_keys", s"$tmp/chk1")
    q.processAllAvailable(); q.stop()
    val got1 = lake.read(spark, "bronze", "docs")
    assert(got1.count() === 2)
    assert(got1.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    // replay the SAME drop through a FRESH checkpoint (the lost-checkpoint
    // scenario): the short doc passes every key screen (it has no keys),
    // so only the exact-fingerprint pass against the lake can drop it
    val q2 = streaming.DocStreams.nearDupCurateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop1"), lake,
      "bronze", "docs", "corpus_keys", s"$tmp/chk2")
    q2.processAllAvailable(); q2.stop()
    val got2 = lake.read(spark, "bronze", "docs")
    assert(got2.count() === 2) // nothing re-appended — including "ok bye"
    assert(got2.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  private def docRows(rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Data dirs the current snapshot of `zone/table` references. */
  private def snapshotDirs(lake: graft.sources.VersionedLake, zone: String,
                           table: String): Int =
    lake.history(spark, zone, table).orderBy(col("version").desc)
      .head().getAs[Int]("n_entries")

  test("nearDupCurateToLake: the near-dup screen is identical before and " +
    "after lake.compact of the keys table") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val lake = graft.sources.VersionedLake(s"$tmp/lake")
    // three separate drops → three key-append micro-batches → three dirs
    val texts = Seq(
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      5L -> "one two three four five six seven eight nine ten eleven",
      6L -> "parquet files hold columnar row groups with statistics pages")
    texts.zipWithIndex.foreach { case ((id, txt), i) =>
      docRows(Seq(id -> txt)).write.mode("overwrite").parquet(s"$tmp/drop$i")
      val q = streaming.DocStreams.nearDupCurateToLake(
        streaming.DocStreams.readStream(spark, s"$tmp/drop$i"), lake,
        "bronze", "docs", "corpus_keys", s"$tmp/chk$i")
      q.processAllAvailable(); q.stop()
    }
    assert(snapshotDirs(lake, "bronze", "corpus_keys") === 3)
    // a probe batch: near-dup of doc 4 (must drop) + new content (must pass)
    val probe = docRows(Seq(
      7L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      8L -> "completely fresh content nothing upstream has ever mentioned"))
    def screen(): Set[Long] = graft.operators.Incremental
      .minhashNewDocsAgainstKeys(probe, lake.read(spark, "bronze", "corpus_keys"),
        "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val before = screen()
    assert(before === Set(8L))
    val keyRows = lake.read(spark, "bronze", "corpus_keys").count()
    lake.compact(spark, "bronze", "corpus_keys", filesPerPartition = 1)
    assert(snapshotDirs(lake, "bronze", "corpus_keys") === 1)
    assert(lake.read(spark, "bronze", "corpus_keys").count() === keyRows)
    assert(screen() === before) // identical screen pre/post compaction
  }

  test("nearDupCurateToLake: the key table compacts at its 64th commit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-autocomp").toString
    val lake = graft.sources.VersionedLake(s"$tmp/lake")
    // every token carries the doc index → shingle sets are fully
    // DISJOINT across docs (Jaccard 0), so no legitimate doc can ever
    // LSH-collide with another and the lake count is exact
    def doc(i: Int) = (100L + i,
      s"doc$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i " +
        s"eta$i theta$i iota$i kappa$i lambda$i")
    def keys(i: Int) =
      graft.operators.Incremental.bandedKeys(docRows(Seq(doc(i))), "doc_id", "text")
    // seed the keys table as a caller would, grow it to 3 dirs, then
    // advance it to v63 with metadata-only commits instead of 60 batches
    lake.write(keys(0), "bronze", "corpus_keys")
    lake.append(keys(1), "bronze", "corpus_keys")
    lake.append(keys(2), "bronze", "corpus_keys")
    while (lake.currentVersion(spark, "bronze", "corpus_keys") < 63)
      lake.restore(spark, "bronze", "corpus_keys",
        lake.currentVersion(spark, "bronze", "corpus_keys"))
    assert(snapshotDirs(lake, "bronze", "corpus_keys") === 3)
    // one micro-batch: a copy of seeded doc 0 (screened out) + doc 3 (new)
    docRows(Seq(doc(0).copy(_1 = 900L), doc(3)))
      .write.mode("overwrite").parquet(s"$tmp/drop")
    val q = streaming.DocStreams.nearDupCurateToLake(
      streaming.DocStreams.readStream(spark, s"$tmp/drop"), lake,
      "bronze", "docs", "corpus_keys", s"$tmp/chk")
    q.processAllAvailable(); q.stop()
    assert(lake.read(spark, "bronze", "docs").select("doc_id").as[Long]
      .collect().toSeq === Seq(103L))
    // the batch's key append was commit 64, so the table compacted (v65)
    assert(lake.currentVersion(spark, "bronze", "corpus_keys") === 65)
    assert(snapshotDirs(lake, "bronze", "corpus_keys") === 1)
    assert(lake.read(spark, "bronze", "corpus_keys").select("id").distinct()
      .as[Long].collect().toSet === Set(100L, 101L, 102L, 103L))
  }

  test("abMonitorSink: cumulative e-process across micro-batches; " +
    "replay never double-counts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-abmon").toString
    val src = s"$tmp/drops"; new java.io.File(src).mkdirs()
    def drop(name: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (id, uid, typ) =>
        (id, new java.sql.Timestamp(1609500000000L + id * 1000), uid,
          typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$src/$name")
    // batch 0: arm A (even uid) converts 2/2, arm B 0/2
    drop("d0", Seq((1L, 2L, "purchase"), (2L, 4L, "purchase"),
      (3L, 3L, "view"), (4L, 5L, "view")))
    def run(chk: String) = {
      val q = EventStreams.abMonitorSink(
        spark.readStream.schema(spark.read.parquet(s"$src/d0").schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$src/*"),
        col("user_id") % 2 === 0, col("event_type") === "purchase",
        s"$tmp/out", chk, tau = 0.25, alpha = 0.5)
      q.processAllAvailable(); q
    }
    val q1 = run(s"$tmp/chk1")
    // batch 1: one more A conversion → cumulative 3/3 vs 0/2
    drop("d1", Seq((5L, 6L, "purchase")))
    q1.processAllAvailable(); q1.stop()
    val mon = spark.read.parquet(s"$tmp/out/monitor")
      .orderBy("batch_id").collect()
    assert(mon.length === 2)
    val b0 = mon(0)
    // pooled p .5, V .25, τ .25: ln Λ = .5·ln(.5) + 1 (the q298 fixture)
    assert(math.abs(b0.getAs[Double]("log_e_value") -
      (0.5 * math.log(0.5) + 1.0)) < 1e-12)
    assert(!b0.getAs[Boolean]("can_stop")) // .653 < ln 2
    val b1 = mon(1)
    assert(b1.getAs[Long]("n_a") === 3L && b1.getAs[Long]("n_b") === 2L)
    assert(b1.getAs[Long]("conv_a") === 3L)
    assert(b1.getAs[Boolean]("can_stop")) // .983 ≥ ln 2 — stop reached
    // REPLAY through a fresh checkpoint: each batch id's cells replace
    // their own row, so the cumulative cells must not double-count
    val q2 = run(s"$tmp/chk2"); q2.stop()
    val last = spark.read.parquet(s"$tmp/out/monitor")
      .orderBy(org.apache.spark.sql.functions.col("batch_id").desc)
      .head()
    assert(last.getAs[Long]("n_a") === 3L && last.getAs[Long]("n_b") === 2L)
    assert(last.getAs[Long]("conv_a") === 3L)
  }

  test("abMonitorSink: the state is one data dir after 5 micro-batches; " +
    "monitor rows carry the cumulative cells") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-abmonc").toString
    val src = s"$tmp/drops"; new java.io.File(src).mkdirs()
    // batch i: arm A (even uid) converts iff i is even, arm B never
    (0 until 5).foreach { i =>
      Seq((2L * i + 1, 2L * i + 2, if (i % 2 == 0) "purchase" else "view"),
        (2L * i + 2, 2L * i + 3, "view"))
        .map { case (id, uid, typ) =>
          (id, new java.sql.Timestamp(1609500000000L + id * 1000), uid,
            typ, 1.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$src/d$i")
    }
    val q = EventStreams.abMonitorSink(
      spark.readStream.schema(spark.read.parquet(s"$src/d0").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/*"),
      col("user_id") % 2 === 0, col("event_type") === "purchase",
      s"$tmp/out", s"$tmp/chk", tau = 0.25, alpha = 0.5)
    q.processAllAvailable(); q.stop()
    val state = graft.sources.VersionedLake(s"$tmp/out")
    assert(snapshotDirs(state, "state", "cells") === 1)
    val mon = spark.read.parquet(s"$tmp/out/monitor").orderBy("batch_id")
      .select("batch_id", "n_a", "n_b", "conv_a", "conv_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(mon === (0 until 5).map(i =>
      (i.toLong, i + 1L, i + 1L, i / 2 + 1L, 0L)))
  }

  test("driftMonitorSink: per-batch drift report equals the batch operator") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val reference = Seq.fill(8)("click").union(Seq.fill(2)("view"))
      .toDF("event_type")
    val stream = EventStreams.readStream(spark, eventsDir)
    val q = EventStreams.driftMonitorSink(stream, reference, "event_type",
      s"$tmp/out", s"$tmp/chk")
    q.processAllAvailable(); q.stop()
    val report = spark.read.parquet(s"$tmp/out")
    // one batch over the 5 staged events (3 click / 2 view)
    assert(report.select("batch_id").distinct().count() === 1)
    val batchEquiv = graft.operators.Quality.categoricalDrift(
      reference, spark.read.parquet(eventsDir), "event_type")
    val got = report.select("category", "cur_share", "chi2_term")
      .orderBy("category").collect().map(_.toSeq)
    val want = batchEquiv.select("category", "cur_share", "chi2_term")
      .orderBy("category").collect().map(_.toSeq)
    assert(got.toSeq === want.toSeq)
  }

  test("streaming SFT ingest: validate -> flatten -> exactly-once Delta sink") {
    import spark.implicits._
    import graft.operators.Chats
    import graft.sources.{DeltaExport, DeltaRead}
    val tmp = java.nio.file.Files.createTempDirectory("graft-chat-stream")
    val src = s"$tmp/src"
    Seq(
      (1L, """[{"role":"user","content":"hi"},""" +
        """{"role":"assistant","content":"hello"}]"""),
      (2L, """[{"role":"user","content":"a"},{"role":"user",""" +
        """"content":"b"},{"role":"assistant","content":"c"}]"""),
      (3L, """[{"role":"system","content":"s"},{"role":"user",""" +
        """"content":"q"},{"role":"assistant","content":"a"}]"""),
      (4L, "not json"))
      .toDF("conv_id", "conv").coalesce(1)
      .write.mode("overwrite").parquet(src)
    val table = s"$tmp/delta"
    def run(chk: String): Unit = {
      val stream = spark.readStream
        .schema("conv_id LONG, conv STRING").parquet(src)
      val cleaned = Chats.flatten(
        Chats.validChats(stream, "conv_id", "conv"), "conv_id", "conv")
      val q = cleaned.writeStream
        .foreachBatch(DeltaExport.foreachBatchSink(table, appId = "chat-sft"))
        .option("checkpointLocation", chk)
        .start()
      q.processAllAvailable(); q.stop()
    }
    run(s"$tmp/chk")
    val got = DeltaRead.read(spark, table).orderBy("conv_id").collect()
    // 2 fails alternation, 4 is unparseable
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(got(0).getString(1) === "<|user|>hi\n<|assistant|>hello")
    assert(got(1).getString(1) ===
      "<|system|>s\n<|user|>q\n<|assistant|>a")
    // replay from a FRESH checkpoint, same appId: the txn action makes
    // the re-delivered batch 0 a no-op — exactly-once without coordination
    run(s"$tmp/chk2")
    assert(DeltaRead.read(spark, table).count() === 2)
  }
}
