package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface over the `events` table shape
  * (`event_id long, ts timestamp, user_id long, event_type string,
  * value double, props string`).
  *
  * The reference is batch-only (SURVEY.md §2.10); this is the engine's
  * streaming extension: the same aggregations expressed incrementally with
  * watermarked state. Transform functions are shared between the batch and
  * streaming paths — `spark.read` vs `spark.readStream` produce the same
  * logical plan shape, so correctness is testable in batch and the
  * streaming path only adds state/watermark semantics.
  */
object EventStreams {

  val eventsSchema: StructType = StructType.fromDDL(
    "event_id long, ts timestamp, user_id long, event_type string, " +
      "value double, props string")

  /** Production state-store settings for large stateful streams: the
    * default in-memory HDFS-backed provider holds every key in executor
    * heap — at 100 TB-scale key cardinality that's the first OOM. RocksDB
    * spills state to local disk with bounded memory, and changelog
    * checkpointing ships deltas instead of full snapshots. Apply to the
    * session before `.start()` (state format is per-checkpoint — don't
    * switch providers on an existing checkpoint).
    */
  val rocksDbStateConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(dir)

  /** Tumbling-window counts/sums per event type with a 10-minute watermark —
    * late rows beyond the watermark are dropped, state is bounded.
    */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window per-user activity (1h window, 15m slide). */
  def slidingUserActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("user_id"), col("n_events"))

  /** Session windows (native session_window, gap-based) — streaming
    * equivalent of [[graft.operators.Sessionize]].
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming exact dedup on `event_id` (at-least-once sources re-deliver)
    * feeding the hourly aggregate. `dropDuplicatesWithinWatermark` keeps
    * per-key state only inside the watermark horizon — bounded, unlike
    * `dropDuplicates` whose state grows forever on an unbounded stream.
    */
  def dedupedHourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream-stream interval join: each click paired with the same user's
    * purchases in the following `horizon`. Watermarks on BOTH sides plus the
    * time-bound condition let Spark expire join state — without the bound
    * each side would buffer forever waiting for late matches.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      horizon: String = "30 minutes"): DataFrame = {
    val c = clicks.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("amount"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select("user_id", "click_id", "click_ts", "purchase_ts", "amount")
  }

  /** Incremental ingest (stream → silver, the medallion hand-off): each
    * micro-batch MERGEs into a [[graft.sources.VersionedLake]] table on
    * `event_id` via [[graft.sources.VersionedLake.upsert]] — one committed
    * snapshot per batch, so concurrent readers never observe a
    * half-written micro-batch, replayed batches and re-delivered rows
    * collapse in the keyed merge, maintenance jobs racing the stream
    * resolve through the commit-retry loop, and any retained version
    * time-travels. The plain-parquet emulation of a streaming Delta MERGE
    * sink.
    */
  def upsertToLake(events: DataFrame, lake: graft.sources.VersionedLake,
                   zone: String, table: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        lake.upsert(batch.sparkSession, zone, table, batch.toDF(),
          key = "event_id", versionCol = "ts"): Unit
      }
      .start()

  /** Streaming heavy-hitter sketch: each micro-batch aggregates its OWN
    * count–min sketch (one constant-size partial-combining agg — no keyed
    * state at all), and the driver folds batch sketches into a running
    * accumulator via the sketch's native merge. Point-frequency estimates
    * over the whole stream are then available at any moment without a
    * vocabulary-sized state store — the streaming face of
    * [[graft.operators.Sketches.cmsTokenCounts]], with the same
    * true ≤ est ≤ true + eps·N bound (N = rows seen so far). CM sketches
    * are monoidal, so batch boundaries don't affect the result
    * (StreamingSpec asserts stream == batch exactly).
    *
    * foreachBatch is at-least-once: a replayed batch would double-count
    * into the accumulator, exactly like re-summing any non-idempotent
    * foreachBatch aggregate — pair with the checkpoint for exactly-once
    * batch ids, or rebuild the accumulator from an idempotent sink on
    * recovery.
    */
  final class CmsAccumulator(eps: Double = 0.001, confidence: Double = 0.99,
                             seed: Int = 42) extends Serializable {
    private var acc: Option[org.apache.spark.util.sketch.CountMinSketch] = None
    /** Fold serialized sketch bytes (same eps/conf/seed) into the total. */
    def fold(bytes: Array[Byte]): Unit = synchronized {
      val s = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      acc = acc match {
        case Some(a) => Some(a.mergeInPlace(s))
        case None => Some(s)
      }
    }
    def estimate(key: String): Long = synchronized {
      acc.map(_.estimateCount(key)).getOrElse(0L)
    }
    def sketchFor(batch: DataFrame, keyCol: String): Array[Byte] = batch
      .agg(count_min_sketch(col(keyCol), lit(eps), lit(confidence),
        lit(seed)).as("sk"))
      .head().getAs[Array[Byte]](0)
  }

  /** Start a stream folding per-batch count–min sketches of `keyCol` into
    * `into` — query the accumulator for estimates while the stream runs.
    */
  def heavyHittersSink(events: DataFrame, keyCol: String,
                       into: CmsAccumulator, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) into.fold(into.sketchFor(batch.toDF(), keyCol))
      }
      .start()

  /** Streaming vintage-drift monitor: each micro-batch's categorical mix
    * over `catCol` is scored against a STATIC reference distribution
    * ([[graft.operators.Quality.categoricalDrift]] — the same arithmetic
    * the batch gate q163 hash-checks), and the per-batch drift report
    * (batch id, category shares, chi²/JS terms) APPENDS to `outDir` as
    * parquet — the continuously-updated data-quality alarm a crawl
    * ingest runs beside its main sink.
    *
    * The reference frame is read once per batch from the captured plan
    * (tiny: it is an aggregate input, the categorical domain); the batch
    * side is one count aggregate over the micro-batch. Alert policy is
    * downstream's (Σ chi2_term over a batch row group vs a threshold).
    */
  def driftMonitorSink(events: DataFrame, reference: DataFrame,
                       catCol: String, outDir: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Quality.categoricalDrift(
              reference, batch.toDF(), catCol)
            .withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
        }
      }
      .start()

  /** Streaming always-valid A/B monitor — the e-process readout whose
    * ENTIRE point is streaming: an anytime-valid test may be peeked at
    * every micro-batch without alpha inflation, so the experiment stops
    * the moment the cumulative evidence crosses ln(1/α), not at a
    * scheduled readout ([[graft.operators.EventAnalytics
    * .alwaysValidMonitor]]'s arithmetic, cumulated across batches).
    * Per micro-batch: the batch's four conversion cells upsert on
    * `batch_id` into the [[graft.sources.VersionedLake]] table
    * `state/cells` under `outDir`, the cumulative cells recompute over
    * that snapshot, and one monitor row (batch_id, counts, rates, diff,
    * log_e_value, can_stop) appends to `outDir/monitor`.
    *
    * Replay safety: a replayed batch id REPLACES its own row (the
    * incoming row wins the `batch_id` tie), so cumulative counts never
    * double-count, and a SAME-CHECKPOINT replay rewrites identical cells.
    * A restart with a DIFFERENT checkpoint may assign events to batch ids
    * differently, so exact cumulative replay assumes same-checkpoint
    * replay (or a fresh outDir). The monitor may carry a duplicate row
    * per replayed batch id with identical content (dedup downstream by
    * batch_id). Each upsert rewrites the one unpartitioned data dir, so
    * the state stays one dir of batch-count-sized rows — nothing
    * event-scale is ever re-read.
    */
  def abMonitorSink(events: DataFrame, armACol: Column, convCol: Column,
                    outDir: String, checkpoint: String,
                    tau: Double = 1e-4, alpha: Double = 0.05):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(tau > 0, s"tau must be positive: $tau")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    val state = graft.sources.VersionedLake(outDir)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val conv = when(convCol, 1L).otherwise(0L)
          val cells = batch.toDF().agg(
              sum(when(armACol, 1L).otherwise(0L)).as("na"),
              sum(when(!armACol, 1L).otherwise(0L)).as("nb"),
              sum(when(armACol, conv).otherwise(0L)).as("ca"),
              sum(when(!armACol, conv).otherwise(0L)).as("cb"))
            .withColumn("batch_id", lit(id))
          state.upsert(spark, "state", "cells", cells,
            key = "batch_id", versionCol = "batch_id")
          val cum = state.read(spark, "state", "cells")
            .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
              sum("ca").as("conv_a"), sum("cb").as("conv_b"))
          val na = col("n_a").cast("double")
          val nb = col("n_b").cast("double")
          val pa = col("conv_a") / na
          val pb = col("conv_b") / nb
          val pool = (col("conv_a") + col("conv_b")).cast("double") /
            (na + nb)
          val v = pool * (lit(1.0) - pool) *
            (lit(1.0) / na + lit(1.0) / nb)
          cum
            .withColumn("batch_id", lit(id))
            .withColumn("p_a", pa).withColumn("p_b", pb)
            .withColumn("diff", pa - pb)
            .withColumn("__v", v)
            .withColumn("log_e_value",
              when(col("n_a") > 0 && col("n_b") > 0 && col("__v") > 0,
                lit(0.5) * log(col("__v") / (col("__v") + tau)) +
                  col("diff") * col("diff") * tau /
                    (lit(2.0) * col("__v") * (col("__v") + tau))))
            .withColumn("can_stop",
              col("log_e_value") >= math.log(1.0 / alpha))
            .select("batch_id", "n_a", "n_b", "conv_a", "conv_b",
              "p_a", "p_b", "diff", "log_e_value", "can_stop")
            .write.mode("append").parquet(s"$outDir/monitor")
        }
      }
      .start()
  }

  /** Streaming ingest dedup — the continuous form of
    * [[graft.operators.Incremental.newRows]]: each micro-batch is reduced
    * to rows unique within the batch AND absent from the standing table,
    * and only those survivors are APPENDED, as one snapshot commit
    * ([[graft.sources.VersionedLake.append]]). The bloom sketch prefilters
    * the batch scan-side; bloom-positive rows verify with an exact
    * anti-join, so no duplicate key is ever appended. The survivor plan
    * reads the manifest-resolved snapshot, so it never sees the dirs its
    * own append writes.
    *
    * Replay is key-idempotent WITHOUT a watermark: a re-delivered batch's
    * keys are already in the table, so the filter drops them — unlike the
    * additive fold in [[hourlyGoldToLake]], which needs one.
    *
    * The sketch is rebuilt from the standing table each batch (simple and
    * correct); a long-running deployment caches it and refreshes on corpus
    * version bumps — the verify join keeps the result exact either way.
    * Size `expectedItems` to the standing table's eventual key count: the
    * per-batch sketch build pays for the declared size whether or not the
    * table has grown into it.
    */
  def dedupToLake(events: DataFrame, lake: graft.sources.VersionedLake,
                  zone: String, table: String, keyCol: String,
                  checkpoint: String, expectedItems: Long = 1L << 20):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.toDF().dropDuplicates(keyCol)
        val survivors =
          if (lake.currentVersion(spark, zone, table) == 0) fresh
          else graft.operators.Incremental.newRows(fresh,
            lake.read(spark, zone, table).select(keyCol), keyCol, expectedItems)
        lake.append(survivors, zone, table): Unit
      }
      .start()

  /** Incremental gold-aggregate maintenance: each micro-batch partial-
    * aggregates locally, then folds into the gold table via
    * [[graft.sources.VersionedLake.mergeAggregate]] — the batch view of a
    * continuously-maintained rollup (counts/sums are additive, so
    * batch-at-a-time folding is exact regardless of batch boundaries).
    *
    * foreachBatch is AT-LEAST-once: after a crash between the fold and the
    * checkpoint commit, the same batch replays — and an additive fold is
    * not idempotent. So the fold carries `(queryId, batchId)` as its
    * `txn`, and the manifest commit that publishes the folded rows also
    * records the batch as this query's watermark: a replay finds its own
    * watermark exactly when its fold landed, and skips. The query id is
    * persisted in the checkpoint, so a restart on the same checkpoint is
    * the same writer, and a new checkpoint is a new writer whose batch ids
    * start afresh.
    */
  def hourlyGoldToLake(events: DataFrame, lake: graft.sources.VersionedLake,
                       zone: String, table: String, checkpoint: String):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val queryId = spark.sparkContext.getLocalProperty(
          org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY)
        require(queryId != null,
          "hourlyGoldToLake: no streaming query id on the batch thread, so " +
            "a replayed batch could not be told from a new one")
        val delta = batch
          .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        lake.mergeAggregate(spark, zone, table, delta,
          keys = Seq("hour_start", "event_type"),
          sumCols = Seq("n", "total_value"),
          txn = Some(queryId -> batchId)): Unit
      }
      .start()

  // ---- custom state: transformWithState (Spark 4 arbitrary-state API) ------

  final case class UserValue(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, total_value: Double, n_events: Long)
  final case class TotState(total: Double, n: Long)

  /** Running per-user totals on the `transformWithState` API — the Spark 4
    * replacement for flatMapGroupsWithState: typed per-key `ValueState`
    * handles with optional TTL, explicit TimeMode, and timer callbacks.
    * Requires the RocksDB state store provider
    * ([[rocksDbStateConfs]] — the operator rejects the default provider).
    */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserValue, UserTotal] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[TotState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TotState]("totals",
        Encoders.product[TotState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserValue],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotal] = {
      val prev = if (st.exists()) st.get() else TotState(0.0, 0L)
      var t = prev.total
      var n = prev.n
      rows.foreach { e => t += e.value; n += 1 }
      st.update(TotState(t, n))
      Iterator.single(UserTotal(key, t, n))
    }
  }

  /** Continuously-updated per-user totals (update mode: one row per user
    * per micro-batch it appears in, carrying the lifetime total).
    * NULL-valued events are dropped up front: the `value` field decodes
    * into a primitive Double, and one NULL would otherwise kill the whole
    * streaming query at runtime.
    */
  def runningTotals(events: DataFrame): Dataset[UserTotal] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val uvEnc = Encoders.product[UserValue]
    implicit val keyEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[UserTotal]
    events.select(col("user_id"), col("value"))
      .where(col("user_id").isNotNull && col("value").isNotNull)
      .as[UserValue]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  // ---- custom state: flatMapGroupsWithState --------------------------------

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long)
  final case class SessState(lastTs: Long, start: Long, n: Long)

  /** Gap-based sessionization with explicit state — the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` form for session logic
    * `session_window` can't express (custom emit shape, per-session
    * aggregates).
    *
    * BATCH-ORIENTED: the trailing open session is flushed at the end of
    * each invocation, so in a multi-micro-batch streaming run a session
    * spanning batches would be split. For streaming-correct session windows
    * use [[sessionWindows]] (watermarked `session_window`); a streaming
    * version of this operator would hold the open session in state with an
    * event-time timeout instead of flushing.
    */
  def sessionizeStateful(events: DataFrame, gapSeconds: Long): Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val eEnc: Encoder[Event] = Encoders.product[Event]
    implicit val sEnc: Encoder[SessState] = Encoders.product[SessState]
    implicit val oEnc: Encoder[SessionOut] = Encoders.product[SessionOut]
    implicit val kEnc: Encoder[Long] = Encoders.scalaLong

    def flush(uid: Long, st: SessState): SessionOut =
      SessionOut(uid, new java.sql.Timestamp(st.start * 1000),
        new java.sql.Timestamp(st.lastTs * 1000), st.n)

    events.select(col("event_id"), col("ts"), col("user_id")).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val sec = e.ts.getTime / 1000
            st = st match {
              case null => SessState(sec, sec, 1)
              case s if sec - s.lastTs > gapSeconds =>
                out += flush(uid, s); SessState(sec, sec, 1)
              case s => SessState(sec, s.start, s.n + 1)
            }
          }
          if (st != null) { out += flush(uid, st); state.remove() }
          out.iterator
      }
  }

  /** Run a streaming query to completion against a static directory via the
    * memory sink — used by tests to assert streaming results equal the batch
    * equivalents.
    */
  def runToMemory(df: DataFrame, name: String, mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
