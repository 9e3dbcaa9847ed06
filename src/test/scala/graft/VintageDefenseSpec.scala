package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Testdata-vintage defenses exercised against SIMULATED hostile vintages —
  * the round-8 failure mode (the driver regenerated parquet with different
  * physical types and five queries died at analysis) must be a no-op next
  * time. The loaders' normalization branches are driven here with actual
  * adversarial files, not just the pass-through on current data.
  */
class VintageDefenseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("events shipped as TIMESTAMP_NTZ normalize to instants in loadEvents") {
    val dir = Files.createTempDirectory("vintage_ntz").toString
    // write an events.parquet whose ts is TIMESTAMP_NTZ — the r8 vintage
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "view", 1.5, """{"k":1}"""),
      (2L, "2024-01-01 10:30:00", 7L, "click", 2.5, """{"k":2}"""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // raw read really is NTZ (the hostile condition holds)...
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
      === TimestampNTZType)
    // ...and loadEvents serves an instant timestamp the cast sites accept
    val ev = Tables.loadEvents(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val secs = ev.select(col("ts").cast("long")).collect().map(_.getLong(0))
    assert(secs.max - secs.min === 1800L) // 30 min survives the normalize
    // a representative downstream operator runs end to end
    val sessions = graft.operators.Sessionize.perUserStats(
      ev, "user_id", "ts", "event_id", 1800)
    assert(sessions.count() === 1L)
  }

  test("embeddings shipped as array<double> normalize to float in loadEmbeddings") {
    val dir = Files.createTempDirectory("vintage_dbl").toString
    Seq((1L, Seq(1.0, 0.0), 0), (2L, Seq(0.99, 0.01), 0),
        (3L, Seq(0.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(spark.read.parquet(s"$dir/embeddings.parquet")
      .schema("embedding").dataType === ArrayType(DoubleType))
    val e = Tables.loadEmbeddings(spark, dir)
    assert(e.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType === FloatType)
    // the native float-array expression path works on the normalized scan
    val top = graft.operators.Similarity.bruteForceTopK(
      e, e.where(col("vec_id") === 1), "vec_id", "embedding", k = 1)
    assert(top.select("nbr_id").head().getLong(0) === 2L)
    // non-numeric element types fail AT THE SCAN — a silent cast to
    // float-nulls would surface as empty similarity results downstream
    Seq((1L, Seq("x"))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e2 = intercept[IllegalArgumentException] {
      Tables.loadEmbeddings(spark, dir)
    }
    assert(e2.getMessage.contains("unreadable type"))
  }

  test("documents: ids widen, drifted text refuses, missing column refuses") {
    val dir = Files.createTempDirectory("vintage_docs").toString
    // int doc_id / int n_chars (a narrower-typed vintage) widens to long
    Seq((1, "hello world", "en", "web", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("doc_id", col("doc_id").cast(IntegerType))
      .withColumn("n_chars", col("n_chars").cast(IntegerType))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = Tables.loadDocuments(spark, dir)
    assert(d.schema("doc_id").dataType === LongType)
    assert(d.schema("n_chars").dataType === LongType)
    assert(d.select("text").head().getString(0) === "hello world")

    // text shipped as BINARY is corruption — refused at the scan
    Seq((1L, "hello".getBytes("UTF-8"), "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.loadDocuments(spark, dir)
    }
    assert(e.getMessage.contains("documents.text"))

    // a vintage that dropped a declared column names the gap
    Seq((1L, "hello")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e3 = intercept[IllegalArgumentException] {
      Tables.loadDocuments(spark, dir)
    }
    assert(e3.getMessage.contains("missing declared column"))
  }

  test("events: value as float/decimal widens to double, string user_id refuses") {
    val dir = Files.createTempDirectory("vintage_ev").toString
    Seq((1L, "2024-01-01 10:00:00", 7L, "view", 1.5f, """{"k":1}"""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast(TimestampType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.loadEvents(spark, dir)
    assert(ev.schema("value").dataType === DoubleType)
    assert(ev.select("value").head().getDouble(0) === 1.5)

    // ids shipped as strings cannot be trusted numerically — refuse
    Seq(("1", "2024-01-01 10:00:00", "u7", "view", 1.5, """{"k":1}"""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast(TimestampType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.loadEvents(spark, dir)
    }
    assert(e.getMessage.contains("events.event_id"))
  }

  /** Writes `rows` to a single parquet file with a raw parquet schema and
    * no Spark schema metadata, as non-Spark writers (pyarrow) do.
    */
  private def writeRawParquet(file: String, messageType: String)(
      rows: (org.apache.parquet.example.data.Group => Unit)*): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(messageType)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)).withType(mt).withConf(conf).build()
    val groups = new SimpleGroupFactory(mt)
    try rows.foreach { fill => val g = groups.newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  test("Tables.load* start no Spark job and keep the inferred schema of every vintage") {
    val dir = Files.createTempDirectory("vintage_open").toString
    def events(ts: String) = s"""message events {
      required int64 event_id; required int64 ts ($ts); required int64 user_id;
      required binary event_type (STRING); required double value;
      required binary props (STRING); }"""
    def event(ts: Long)(g: org.apache.parquet.example.data.Group): Unit = {
      g.append("event_id", 1L).append("ts", ts).append("user_id", 7L)
        .append("event_type", "view").append("value", 1.5)
        .append("props", "{}")
      ()
    }
    val t0 = 1704103200L // 2024-01-01 10:00:00 UTC
    // TIMESTAMP(NANOS): read as long nanos under nanosAsLong
    new java.io.File(s"$dir/nanos").mkdirs()
    writeRawParquet(s"$dir/nanos/events.parquet",
      events("TIMESTAMP(NANOS,true)"))(event(t0 * 1000000000L))
    // timestamp[us] without the UTC flag (pyarrow's naive timestamps)
    new java.io.File(s"$dir/naive").mkdirs()
    writeRawParquet(s"$dir/naive/events.parquet",
      events("TIMESTAMP(MICROS,false)"))(event(t0 * 1000000L))
    // Spark-written vintages: NTZ ts, array<double> embeddings, int ids
    Seq((1L, "2024-01-01 10:00:00", 7L, "view", 1.5, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/ntz/events.parquet")
    Seq((1L, Seq(1.0, 0.0), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/dbl/embeddings.parquet")
    Seq((1, "hello world", "en", "web", 11))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/int/documents.parquet")

    val tables = Seq(s"$dir/nanos" -> "events", s"$dir/naive" -> "events",
      s"$dir/ntz" -> "events", s"$dir/dbl" -> "embeddings",
      s"$dir/int" -> "documents")
    for ((d, t) <- tables) {
      val (df, jobs) = JobCount.of(spark)(Tables.load(spark, d, t))
      assert(jobs === 0, s"$d/$t")
      assert(df.schema === spark.read.parquet(s"$d/$t.parquet").schema, s"$d/$t")
      val (_, loaderJobs) = JobCount.of(spark)(t match {
        case "events" => Tables.loadEvents(spark, d)
        case "embeddings" => Tables.loadEmbeddings(spark, d)
        case "documents" => Tables.loadDocuments(spark, d)
      })
      assert(loaderJobs === 0, s"$d/$t")
    }
    assert(Tables.load(spark, s"$dir/nanos", "events").schema("ts").dataType
      === LongType)
    for (v <- Seq("nanos", "naive", "ntz")) {
      val ev = Tables.loadEvents(spark, s"$dir/$v")
      assert(ev.select(col("ts").cast("long")).head().getLong(0) === t0, v)
    }
    // a missing table fails as Spark's own read does
    intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, "absent"))
  }
}
