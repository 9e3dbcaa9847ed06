package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaShim
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Sources, sinks and catalog ops (SURVEY.md §2.1, S1-S6).
  *
  * The reference reads headerless CSV with all-string `_c0…` columns
  * (nb:250-253), persists every stage as a managed table (nb:264, nb:982)
  * and re-reads each stage from the catalog. We keep that surface but make
  * the schema declared at read time where possible — strictly cheaper than
  * read-then-cast because the parquet/CSV scanner prunes and parses directly
  * into the target types.
  */
object Tables {

  /** Parquet table scan from an sf directory (harness testdata layout).
    * Starts no Spark job: the footer Spark's inference would read is read
    * on the driver ([[FooterSchemaShim]]) and the scan gets that schema
    * declared, so the result is the inferred one. Nothing is cached; every
    * open reads its footer again. When that read fails (a missing path, a
    * corrupt footer), Spark's own inference runs and reports it as it
    * always did.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema =
      try FooterSchemaShim.inferredSchema(spark.asInstanceOf[classic.SparkSession], path)
      catch { case scala.util.control.NonFatal(_) => None }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** events `ts` normalization — the testdata's physical type has shifted
    * across vintages, so normalize every case to a session-TZ TIMESTAMP:
    *  - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong` it
    *    arrives as long nanos — convert via integer division (`div`: nanos
    *    exceed double's 53-bit mantissa, so `/ 1000` would lose precision);
    *  - timestamp[us] without the UTC flag: Spark 4 infers TIMESTAMP_NTZ
    *    (inferTimestampNTZ defaults true), and `CAST(ntz AS BIGINT)` is
    *    illegal downstream — reinterpret the wall-clock as UTC instant
    *    (session TZ is pinned UTC in [[graft.Engine.configure]]).
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    val tsFixed = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
    // the remaining columns get the generic normalize-or-refuse pass (ids
    // widen, event_type/props must BE strings, value must be numeric)
    normalizeTo(tsFixed, "events", eventsSchema)
  }

  private lazy val eventsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("props",
      org.apache.spark.sql.types.StringType)))

  /** embeddings `embedding` normalization — the same testdata-vintage
    * defense as [[loadEvents]]: every vector operator (native
    * CosineSim/MinHash/PQ expressions included) requires `array<float>`,
    * so a regenerated parquet shipping `array<double>` (or any numeric
    * element) would break the whole vector surface at analysis time the
    * way TIMESTAMP_NTZ broke the event surface in round 8. NUMERIC
    * elements normalize at the scan; float passes untouched; anything
    * else (array<string>, structs, ...) is a corrupt vintage and must
    * fail HERE — a silent cast-to-null would surface as empty similarity
    * results three operators downstream.
    */
  def loadEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "embeddings")
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => df
      case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.NumericType, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        throw new IllegalArgumentException(
          s"embeddings.embedding has unreadable type $other — expected an " +
            "array of a numeric element type; refusing to scan a corrupt " +
            "vintage into float-nulls")
    }
  }

  /** Normalize-or-refuse vintage defense for an arbitrary table: each
    * declared column must be present and either exact, LOSSLESSLY
    * widenable (integral → wider integral, float → double, NTZ →
    * session-TZ timestamp — the drifts parquet regeneration actually
    * produces), or the scan fails with the table+column named. The
    * alternative — letting a drifted physical type flow into 140
    * downstream operators — produced round 8's five-query breakage; a
    * narrowing or cross-family cast (string → long, double → string)
    * is DATA corruption and always refused.
    */
  private[graft] def normalizeTo(df: DataFrame, tableName: String,
                                 declared: StructType): DataFrame = {
    import org.apache.spark.sql.types._
    def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
      case (f, t) if f == t => true
      case (ByteType | ShortType | IntegerType, IntegerType | LongType) => true
      case (LongType, LongType) => true
      case (FloatType, DoubleType) => true
      case (TimestampNTZType, TimestampType) => true
      // decimals up to 15 digits sit inside double's 53-bit mantissa
      case (f: DecimalType, DoubleType) => f.precision <= 15
      case _ => false
    }
    val cols = declared.fields.toSeq.map { want =>
      require(df.columns.contains(want.name),
        s"$tableName is missing declared column '${want.name}' " +
          s"(vintage has: ${df.columns.mkString(", ")})")
      val have = df.schema(want.name).dataType
      if (have == want.dataType) col(want.name)
      else if (widenable(have, want.dataType))
        col(want.name).cast(want.dataType).as(want.name)
      else throw new IllegalArgumentException(
        s"$tableName.${want.name} has unreadable type $have — expected " +
          s"${want.dataType} (or a lossless widening); refusing to scan " +
          "a drifted vintage")
    }
    df.select(cols: _*)
  }

  private val documentsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  /** documents with the vintage defense: ids/counters widen to long, text
    * columns must BE strings (a binary or numeric `text` is corruption —
    * every text operator's tokenization would silently degrade, the exact
    * failure mode [[loadEmbeddings]] refuses for vectors).
    */
  def loadDocuments(spark: SparkSession, dir: String): DataFrame =
    normalizeTo(load(spark, dir, "documents"), "documents", documentsSchema)

  /** S1 — headerless CSV scan, all columns arrive as string `_c0…_cN`
    * (nb:250-253). No inferSchema: one pass, conform applies types.
    */
  def readCsvRaw(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read.format("csv").option("sep", sep).option("header", "false").load(path)

  /** S1 (declared-schema form) — parse straight into the target schema.
    * Preferred at scale: avoids a second projection pass over 100 TB.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              sep: String = ","): DataFrame =
    spark.read.format("csv").option("sep", sep).option("header", "false")
      .schema(schema).load(path)

  /** JSONL scan with a DECLARED schema — schema-on-read, no inference
    * pass (inference reads the whole dataset once before the real scan;
    * at 100 TB that doubles the job). Malformed lines surface as nulls
    * (PERMISSIVE) — audit with [[graft.operators.Quality.audit]] rather
    * than failing the scan.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC scan/sink — Spark-native columnar alternative when the lake
    * standard is ORC (Hive estates); same pushdown/pruning machinery as
    * parquet (PushedFilters — spec-pinned).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** S2 — managed-table scan. */
  def table(spark: SparkSession, name: String): DataFrame = spark.read.table(name)

  /** S3/S4 — overwrite table sink. Parquet-backed (no Delta jars on this
    * classpath — SURVEY.md §1.4); `overwriteSchema` is implicit in a full
    * parquet overwrite. NOTE: unlike Delta, plain parquet has no
    * read-snapshot isolation, so a read-then-overwrite of the SAME table
    * must materialize first — see [[replaceTable]].
    */
  def saveTable(df: DataFrame, name: String): Unit =
    df.write.format("parquet").mode("overwrite").saveAsTable(name)

  /** Self-overwrite with snapshot semantics (stage-3 conform pattern,
    * nb:960-996): localCheckpoint pins the input so the overwrite cannot
    * corrupt its own source. Only used for table-replace-in-place; new
    * pipelines should write to a fresh name instead.
    */
  def replaceTable(df: DataFrame, name: String): Unit =
    saveTable(df.localCheckpoint(eager = true), name)

  /** Date/key-partitioned table sink — the 100 TB layout: facts partitioned
    * by a low-cardinality derived column (e.g. a date) so time-range queries
    * prune at the directory level (SURVEY.md §7.4 risk 7).
    */
  def savePartitioned(df: DataFrame, name: String, partitionCols: Seq[String]): Unit =
    df.write.format("parquet").mode("overwrite")
      .partitionBy(partitionCols: _*).saveAsTable(name)

  /** Bucketed+sorted table sink: co-locates join keys so repeated joins on
    * `bucketCols` skip the shuffle entirely (both sides bucketed the same
    * way → SortMergeJoin with no Exchange).
    */
  def saveBucketed(df: DataFrame, name: String, buckets: Int,
                   bucketCols: Seq[String]): Unit =
    df.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)

  /** S5 — DDL drop. */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  /** P1+P2 — the reference's conform pass (nb:960-991): bulk rename of
    * positional `_cN` columns then bulk cast to the declared types, as one
    * projection (Catalyst collapses them anyway; one `select` keeps the
    * plan minimal).
    */
  def conform(df: DataFrame, renames: Map[String, String],
              types: Map[String, DataType]): DataFrame = {
    val cols = df.columns.toSeq.map { c =>
      val named = renames.getOrElse(c, c)
      types.get(named) match {
        case Some(t) => col(c).cast(t).as(named)
        case None    => col(c).as(named)
      }
    }
    df.select(cols: _*)
  }
}
