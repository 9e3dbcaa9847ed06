package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Oracles, TestQueries}
import graft.pipeline.BikesharePipeline
import graft.pipeline.BikesharePipeline.Warehouse
import graft.operators.DateSpine
import graft.sources.{Tables, VersionedLake}

/** A workload: inputs generated before any clock starts, a set-up that
  * can be repeated into fresh directories, and a pass of fixed work.
  */
trait Workload {
  /** Writes the inputs; not part of any measurement. */
  def prepare(): Unit = ()
  /** One set-up repetition into the empty directory `dir`. */
  def setup(dir: File): Unit
  def pass(h: Harness): Unit
  /** Fewest passes a window may hold. */
  def minPasses: Int
  /** Facts the outside checker needs (input locations, oracle SQL). */
  def checkInputs: Map[String, Any]
  /** Workload-specific per-layer values, computed after the traced window. */
  def layerExtras(h: Harness): Map[String, Double] = Map.empty
}

/** The reference notebook end to end on the versioned lake. The seeded raw
  * CSVs are written before timing starts. Set-up conforms the dimension
  * CSVs (riders, stations, payments), commits each to a lake table and
  * opens them again. A pass starts a fresh fact table: each batch op
  * conforms and enriches one seeded batch of trips, upserts it into a
  * month-partitioned fact table and reads the whole snapshot back; a
  * compaction runs as its own op after the last batch. The warehouse op
  * then joins the snapshot with the dimensions and builds the date
  * dimensions, and one op per public query function collects each of the
  * 22 analytical results.
  */
final class Bikeshare(spark: SparkSession, tr: Tracer, seed: Long, trips: Int,
                      batches: Int, runDir: File) extends Workload {
  private val sizes = Data.sizes(trips)
  private val in = new File(runDir, "batches")
  private var csvBytes = 0L
  private var csvGenS = 0.0
  private var riders, stations, payments: DataFrame = _
  private var lakeBytes = 0L
  private var episode = 0
  // traced accounting of the files the lake writes
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var bytesRewritten = 0L
  private var tracedLakeOps = 0

  val queries: Seq[(String, Warehouse => DataFrame)] = {
    import BikesharePipeline._
    Seq(
      "q1" -> q1AvgDurationByDayOfWeek _, "q2" -> q2TotalDurationByDayOfWeek _,
      "q3" -> q3AvgDurationByStartTime _, "q4" -> q4TotalDurationByStartTime _,
      "q5" -> q5AvgDurationByStartStation _, "q6" -> q6TotalDurationByStartStation _,
      "q7" -> q7AvgDurationByEndStation _, "q8" -> q8TotalDurationByEndStation _,
      "q9" -> q9TotalDurationByAge _, "q10" -> q10AvgDurationByAge _,
      "q11" -> q11AvgDurationByMembership _, "q12" -> q12TotalDurationByMembership _,
      "q13" -> ((w: Warehouse) => paymentsByDatePart(w, "month", "sum")),
      "q14" -> ((w: Warehouse) => paymentsByDatePart(w, "month", "avg")),
      "q15" -> ((w: Warehouse) => paymentsByDatePart(w, "quarter", "sum")),
      "q16" -> ((w: Warehouse) => paymentsByDatePart(w, "quarter", "avg")),
      "q17" -> ((w: Warehouse) => paymentsByDatePart(w, "year", "sum")),
      "q18" -> ((w: Warehouse) => paymentsByDatePart(w, "year", "avg")),
      "q19" -> ((w: Warehouse) => memberPaymentsByAge(w, "sum")),
      "q20" -> ((w: Warehouse) => memberPaymentsByAge(w, "avg")),
      "q21" -> q21MonthlySpendPerMember _, "q22" -> q22SpendPerMinutePerMember _)
  }

  override def prepare(): Unit = {
    val t0 = System.nanoTime()
    csvBytes = Data.writeBatches(in, seed, sizes, batches)
    csvGenS = (System.nanoTime() - t0) / 1e9
  }

  def setup(dir: File): Unit = {
    val lake = VersionedLake(new File(dir, "lake").getPath)
    // every batch directory links the same dimension CSVs
    val c = tr.span("pipeline", "conform")(
      BikesharePipeline.conformFromCsv(spark, new File(in, "batch_000").getPath))
    val dims = Seq("riders" -> BikesharePipeline.enrichRiders(c.riders), "stations" -> c.stations,
      "payments" -> c.payments)
    dims.foreach { case (t, df) => tr.span("sources", "write")(lake.write(df, "dim", t)) }
    val Seq(r, s, p) = dims.map { case (t, _) => tr.span("sources", "read")(lake.read(spark, "dim", t)) }
    riders = r; stations = s; payments = p
  }

  private def files(root: File): Map[String, Long] =
    if (!root.exists) Map.empty
    else {
      val it = java.nio.file.Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally it.close()
    }

  private val PartKey = """__gp_\w+=[^/]+""".r

  /** One lake op, checked by the snapshot it leaves, which it reads back
    * whole; while tracing, counts the files it adds and the bytes of those
    * that rewrite a partition which already had data.
    */
  private def lakeOp(h: Harness, name: String, root: File)(body: => Unit): Unit = {
    val before = if (tr.on) files(root) else Map.empty[String, Long]
    h.op(name) {
      body
      val snapshot = tr.span("sources", "read")(VersionedLake(root.getPath).read(spark, "fact", "trips"))
      (snapshot.schema, tr.span("sources", "scan")(snapshot.collect()))
    }
    if (tr.on) {
      val after = files(root)
      val seen = before.keys.flatMap(PartKey.findFirstIn).toSet
      val added = after.filter { case (p, _) => !before.contains(p) }
      filesWritten += added.size
      bytesWritten += added.values.sum
      bytesRewritten += added.filter { case (p, _) => PartKey.findFirstIn(p).exists(seen) }.values.sum
      tracedLakeOps += 1
    }
  }

  def pass(h: Harness): Unit = {
    val root = new File(runDir, s"lake_$episode")
    episode += 1
    val lake = VersionedLake(root.getPath)
    for (b <- 0 until batches) {
      val bdir = new File(in, f"batch_$b%03d").getPath
      lakeOp(h, f"batch_$b%02d", root) {
        val c = tr.span("pipeline", "conform")(BikesharePipeline.conformFromCsv(spark, bdir))
        val enriched = tr.span("pipeline", "enrich")(BikesharePipeline.enrichTrips(c.trips, riders))
          .withColumn("version", lit(b + 1))
          .withColumn("trip_month", date_format(col("started_at"), "yyyy-MM"))
        tr.span("sources", "upsert")(lake.upsert(spark, "fact", "trips", enriched, key = "trip_id",
          versionCol = "version", partitionCols = Seq("trip_month")))
      }
    }
    lakeOp(h, "compact", root) {
      tr.span("sources", "compact")(lake.compact(spark, "fact", "trips", filesPerPartition = 1))
    }
    var wh: Warehouse = null
    h.op("warehouse") {
      val trips = tr.span("sources", "read")(lake.read(spark, "fact", "trips").drop("version", "trip_month"))
      wh = tr.span("pipeline", "build")(Warehouse(payments, trips, riders, stations,
        DateSpine.tripDates(spark, trips), DateSpine.paymentDates(spark, payments)))
      (StructType.fromDDL("trip_hours BIGINT, payment_days BIGINT"),
        Array(tr.span("execute", "count")(Row(wh.tripDates.count(), wh.paymentDates.count()))))
    }
    queries.foreach { case (name, f) => h.query(name, "pipeline")(f(wh)) }
    lakeBytes = files(root).values.sum
    org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  val minPasses = 1
  /** Trip rows the batches send: new trips plus re-sent ones. */
  private def rowsSent: Long = {
    val perBatch = sizes.trips / batches
    batches.toLong * perBatch + (batches - 1) * (perBatch / 10)
  }
  def checkInputs: Map[String, Any] = Map("batches_dir" -> in.getAbsolutePath, "batches" -> batches)
  override def layerExtras(h: Harness): Map[String, Double] = {
    // ingest rate of each untraced pass: rows sent / time of its lake ops
    val lakeOps = h.ops.filter(o => o.window == "untraced" && (o.name.startsWith("batch_") || o.name == "compact"))
    val rates = lakeOps.groupBy(_.pass).values.map(os => rowsSent / os.map(_.seconds).sum).toSeq
    Map(
      "pipeline.csv_gen_s" -> csvGenS,
      "sources.ingest_rows_per_s" -> Harness.median(rates),
      "sources.files_written" -> filesWritten.toDouble / math.max(1, tracedLakeOps),
      "sources.bytes_written" -> bytesWritten.toDouble / math.max(1, tracedLakeOps),
      "sources.bytes_rewritten" -> bytesRewritten.toDouble / math.max(1, tracedLakeOps),
      "sources.stored_bytes_per_input_byte" -> lakeBytes.toDouble / csvBytes)
  }
}

/** Operator catalog over testdata-shaped tables (written before the JVM
  * starts by `perfbench/mixdata.py`): one pass runs a fixed list of
  * `TestQueries` entries that have DuckDB oracles, in a seed-permuted order.
  * Set-up opens every table through `Tables`.
  */
final class OperatorMix(spark: SparkSession, tr: Tracer, seed: Long, dir: File) extends Workload {
  val queries: Seq[String] = new scala.util.Random(seed).shuffle(OperatorMix.queries)
  val tables = Seq("lineitem", "orders", "customer", "nation", "region", "documents",
    "embeddings", "events")

  def setup(d: File): Unit = tables.foreach { t =>
    tr.span("sources", s"open_$t")(t match {
      case "documents" => Tables.loadDocuments(spark, dir.getPath)
      case "events" => Tables.loadEvents(spark, dir.getPath)
      case "embeddings" => Tables.loadEmbeddings(spark, dir.getPath)
      case _ => Tables.load(spark, dir.getPath, t)
    })
  }

  def pass(h: Harness): Unit =
    queries.foreach(q => h.query(q, "operators")(TestQueries.all(q)(spark, dir.getPath)))

  /** A pass holds only six ops, so a window takes at least two. */
  val minPasses = 2
  def checkInputs: Map[String, Any] = Map("tables_dir" -> dir.getAbsolutePath,
    "tables" -> tables, "oracle_sql" -> queries.map(q => q -> Oracles.sql(q)).toMap)
}

object OperatorMix {
  /** One query per kind of operator work the mix covers: the
    * table-open floor, a star join, a native expression (MinHash over the
    * native shingles), an iterative loop with build-time jobs (chi-merge),
    * ANN training (IVF) and a pinned explode (resample + forward fill).
    */
  val queries = Seq("q01_scan_project", "q11_star_join", "q36b_minhash_exact",
    "q243_chi_merge", "q39d_ivf_topk", "q97_resample_ffill")
}
