package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.DeltaRead

/** [[DeltaRead]] against hand-written `_delta_log` fixtures — the protocol
  * surface a reference-produced Delta table exercises: multi-commit replay
  * with latest-action-wins, remove tombstones, time travel, partitioned
  * tables (values from the LOG, not the directory layout), parquet
  * checkpoints seeding the state, and the unsupported-feature guard.
  */
class DeltaReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
  }

  private def schemaJson(s: StructType): String = esc(s.json)

  /** Write one data file from rows of (a, b); returns path relative to dir. */
  private def dataFile(dir: String, name: String,
                       rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val tmp = s"$dir/__stage"
    rows.toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(s"$dir/$name").getParent)
    Files.move(part.toPath, Paths.get(s"$dir/$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def commit(dir: String, v: Long, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(s"$dir/_delta_log"))
    Files.writeString(
      Paths.get(f"$dir/_delta_log/$v%020d.json"), lines.mkString("\n"))
  }

  private val abSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType)))

  private def metaLine(s: StructType, partCols: Seq[String] = Seq.empty) =
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${schemaJson(s)}",""" +
      s""""partitionColumns":[${partCols.map(c => s""""$c"""").mkString(",")}],""" +
      s""""configuration":{},"createdTime":0}}"""

  /** add action with the file's REAL size — the scan plans splits from
    * the log's add.size, so a fake size would truncate reads. `dir`+`path`
    * locate the staged file; percent-encoded paths are decoded to stat.
    */
  private def addLine(dir: String, path: String,
                      pv: Map[String, String] = Map.empty) = {
    val dec = new java.net.URI(path).getPath
    val size = Files.size(Paths.get(dir, dec))
    s"""{"add":{"path":"$path","partitionValues":{${
      pv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    }},"size":$size,"modificationTime":0,"dataChange":true}}"""
  }

  test("multi-commit replay: adds accumulate, removes tombstone, time travel") {
    val dir = Files.createTempDirectory("delta_basic").toString
    dataFile(dir, "f0.parquet", Seq((1L, "x"), (2L, "y")))
    dataFile(dir, "f1.parquet", Seq((3L, "z")))
    dataFile(dir, "f2.parquet", Seq((4L, "w")))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(abSchema),
      addLine(dir, "f0.parquet")))
    commit(dir, 1, Seq(addLine(dir, "f1.parquet")))
    commit(dir, 2, Seq(
      """{"remove":{"path":"f0.parquet","deletionTimestamp":1,"dataChange":true}}""",
      addLine(dir, "f2.parquet")))

    assert(DeltaRead.versions(spark, dir) === Seq(0L, 1L, 2L))
    // latest: f1 + f2 live, f0 tombstoned
    val latest = DeltaRead.read(spark, dir)
    assert(latest.schema === abSchema)
    assert(latest.select("a").collect().map(_.getLong(0)).sorted
      === Array(3L, 4L))
    // as of v1: f0 + f1
    val v1 = DeltaRead.read(spark, dir, asOf = Some(1L))
    assert(v1.select("a").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // as of v0: just f0
    assert(DeltaRead.read(spark, dir, asOf = Some(0L)).count() === 2L)
  }

  test("partitioned table: partition values come from the log, typed") {
    val dir = Files.createTempDirectory("delta_part").toString
    // files deliberately NOT in key=value dirs — the log is authoritative
    dataFile(dir, "p_en.parquet", Seq((1L, "hello")))
    dataFile(dir, "p_de.parquet", Seq((2L, "hallo")))
    val full = StructType(abSchema.fields.toSeq :+
      StructField("lang", StringType) :+ StructField("day", DateType))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(full, Seq("lang", "day")),
      addLine(dir, "p_en.parquet", Map("lang" -> "en", "day" -> "2021-02-01")),
      addLine(dir, "p_de.parquet", Map("lang" -> "de", "day" -> "2021-02-02"))))

    val df = DeltaRead.read(spark, dir)
    assert(df.columns.toSeq === Seq("a", "b", "lang", "day"))
    assert(df.schema("day").dataType === DateType)
    val got = df.select("a", "lang", "day").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString)).sorted
    assert(got === Array((1L, "en", "2021-02-01"), (2L, "de", "2021-02-02")))
    // partition predicate prunes at PLANNING time: DeltaFileIndex.listFiles
    // receives the predicate and keeps only the matching tuple's file group
    // — the scan's numFiles metric must show 1 of the 2 live files touched
    val pruned = df.where(col("lang") === "en")
    val qe = pruned.queryExecution
    assert(qe.executedPlan.executeCollect().length === 1)
    val scan = qe.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value === 1,
      s"partition pruning must keep 1 file of 2, scanned ${scan.metrics("numFiles").value}")
  }

  test("checkpoint parquet seeds the state; pre-checkpoint commits not needed") {
    val dir = Files.createTempDirectory("delta_ckpt").toString
    dataFile(dir, "f0.parquet", Seq((1L, "x")))
    dataFile(dir, "f1.parquet", Seq((2L, "y")))
    dataFile(dir, "f2.parquet", Seq((3L, "z")))
    // checkpoint at v1 holds the full state (meta + protocol + adds f0,f1)
    val addT = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("dataChange", BooleanType)))
    val metaT = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoT = StructType(Seq(StructField("minReaderVersion", IntegerType)))
    val ckptSchema = StructType(Seq(StructField("add", addT),
      StructField("metaData", metaT), StructField("protocol", protoT)))
    val rows = Seq(
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("f0.parquet", Map.empty[String, String],
          Files.size(Paths.get(dir, "f0.parquet")), true),
        null, null),
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row("f1.parquet", Map.empty[String, String],
          Files.size(Paths.get(dir, "f1.parquet")), true),
        null, null),
      org.apache.spark.sql.Row(null,
        org.apache.spark.sql.Row("fixture", abSchema.json,
          Seq.empty[String], Map.empty[String, String]), null),
      org.apache.spark.sql.Row(null, null, org.apache.spark.sql.Row(1)))
    val stage = s"$dir/__ckpt"
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), ckptSchema)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(s"$dir/_delta_log"))
    Files.move(part.toPath,
      Paths.get(f"$dir/_delta_log/${1L}%020d.checkpoint.parquet"))
    // v0 deliberately ABSENT (vacuumed after checkpointing); v1 empty marker,
    // v2 adds f2 — replay must start from the checkpoint
    commit(dir, 1, Seq("""{"commitInfo":{"operation":"noop"}}"""))
    commit(dir, 2, Seq(addLine(dir, "f2.parquet")))

    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version === 2L)
    assert(snap.files.map(_._1) === Seq("f0.parquet", "f1.parquet", "f2.parquet"))
    assert(DeltaRead.read(spark, dir).select("a").collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }

  test("v2 checkpoint: UUID parquet manifest + sidecar file actions") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("delta_v2ckpt").toString
    dataFile(dir, "f0.parquet", Seq((1L, "x")))
    dataFile(dir, "f1.parquet", Seq((2L, "y")))
    dataFile(dir, "f2.parquet", Seq((3L, "z")))
    def write1(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val stage = s"$dir/__stage_v2"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dest).getParent)
      Files.move(part.toPath, Paths.get(dest))
    }
    val addT = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("dataChange", BooleanType)))
    // sidecar parquet: the two seed adds live here, not in the manifest
    val scSchema = StructType(Seq(StructField("add", addT)))
    val scRows = Seq("f0.parquet", "f1.parquet").map(f =>
      Row(Row(f, Map.empty[String, String],
        Files.size(Paths.get(dir, f)), true)))
    write1(spark.createDataFrame(
        spark.sparkContext.parallelize(scRows, 1), scSchema),
      s"$dir/_delta_log/_sidecars/sc1.parquet")
    // manifest: metaData + protocol(v2Checkpoint) + sidecar pointer + a
    // checkpointMetadata column the reader must tolerate (and ignore)
    val metaT = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoT = StructType(Seq(StructField("minReaderVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType))))
    val scT = StructType(Seq(StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val cmT = StructType(Seq(StructField("version", LongType)))
    val mSchema = StructType(Seq(StructField("metaData", metaT),
      StructField("protocol", protoT), StructField("sidecar", scT),
      StructField("checkpointMetadata", cmT)))
    val scSize = Files.size(Paths.get(s"$dir/_delta_log/_sidecars/sc1.parquet"))
    val mRows = Seq(
      Row(Row("fixture", abSchema.json, Seq.empty[String],
        Map.empty[String, String]), null, null, null),
      Row(null, Row(3, Seq("v2Checkpoint")), null, null),
      Row(null, null, Row("sc1.parquet", scSize, 0L), null),
      Row(null, null, null, Row(1L)))
    write1(spark.createDataFrame(
        spark.sparkContext.parallelize(mRows, 1), mSchema),
      f"$dir/_delta_log/${1L}%020d.checkpoint.80a083e8-7026.parquet")
    // v0 vacuumed away; v1 marker; v2 adds f2 — replay must seed from
    // the v2 manifest + sidecar
    commit(dir, 1, Seq("""{"commitInfo":{"operation":"noop"}}"""))
    commit(dir, 2, Seq(addLine(dir, "f2.parquet")))
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version === 2L)
    assert(snap.files.map(_._1) === Seq("f0.parquet", "f1.parquet", "f2.parquet"))
    assert(DeltaRead.read(spark, dir).select("a").collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }

  test("v2 checkpoint: JSON manifest with inline file actions") {
    val dir = Files.createTempDirectory("delta_v2json").toString
    dataFile(dir, "f0.parquet", Seq((10L, "x")))
    dataFile(dir, "f2.parquet", Seq((30L, "z")))
    Files.createDirectories(Paths.get(s"$dir/_delta_log"))
    Files.writeString(
      Paths.get(f"$dir/_delta_log/${1L}%020d.checkpoint.cafe-44.json"),
      Seq(metaLine(abSchema),
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["v2Checkpoint"],"writerFeatures":[]}}""",
        addLine(dir, "f0.parquet"),
        """{"checkpointMetadata":{"version":1}}""").mkString("\n"))
    commit(dir, 1, Seq("""{"commitInfo":{"operation":"noop"}}"""))
    commit(dir, 2, Seq(addLine(dir, "f2.parquet")))
    assert(DeltaRead.read(spark, dir).select("a").collect()
      .map(_.getLong(0)).sorted === Array(10L, 30L))
  }

  test("join on the partition column works (incl. any dynamic pruning path)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_dpp").toString
    dataFile(dir, "p_en.parquet", Seq((1L, "hello")))
    dataFile(dir, "p_de.parquet", Seq((2L, "hallo")))
    dataFile(dir, "p_fr.parquet", Seq((3L, "salut")))
    val full = StructType(abSchema.fields.toSeq :+ StructField("lang", StringType))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(full, Seq("lang")),
      addLine(dir, "p_en.parquet", Map("lang" -> "en")),
      addLine(dir, "p_de.parquet", Map("lang" -> "de")),
      addLine(dir, "p_fr.parquet", Map("lang" -> "fr"))))
    val fact = DeltaRead.read(spark, dir)
    // selective dim filtered on the join (= partition) key: the shape that
    // triggers dynamic partition pruning when the planner opts in — the
    // FileIndex must serve whatever filter forms reach listFiles
    val dim = Seq(("en", "English"), ("es", "Spanish"))
      .toDF("lang", "lang_name").where(col("lang_name").startsWith("Eng"))
    val joined = fact.join(dim, Seq("lang"))
      .select("a", "lang", "lang_name").collect()
    assert(joined.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((1L, "en", "English")))
  }

  test("multipart checkpoint: all parts present → used; missing part → ignored") {
    val dir = Files.createTempDirectory("delta_mpck").toString
    dataFile(dir, "f0.parquet", Seq((1L, "x")))
    dataFile(dir, "f1.parquet", Seq((2L, "y")))
    val addT = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType), StructField("dataChange", BooleanType)))
    val metaT = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val ckptSchema = StructType(Seq(StructField("add", addT),
      StructField("metaData", metaT)))
    def part(rows: Seq[org.apache.spark.sql.Row], name: String): Unit = {
      val stage = s"$dir/__mp"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ckptSchema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val p = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(s"$dir/_delta_log"))
      Files.move(p.toPath, Paths.get(s"$dir/_delta_log/$name"))
    }
    // state at v1 split across 2 parts: part 1 = meta + f0, part 2 = f1
    part(Seq(
      org.apache.spark.sql.Row(null, org.apache.spark.sql.Row("m",
        abSchema.json, Seq.empty[String], Map.empty[String, String])),
      org.apache.spark.sql.Row(org.apache.spark.sql.Row("f0.parquet",
        Map.empty[String, String], Files.size(Paths.get(dir, "f0.parquet")),
        true), null)),
      f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    part(Seq(org.apache.spark.sql.Row(org.apache.spark.sql.Row("f1.parquet",
        Map.empty[String, String], Files.size(Paths.get(dir, "f1.parquet")),
        true), null)),
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    commit(dir, 1, Seq("""{"commitInfo":{"operation":"noop"}}"""))
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version === 1L)
    assert(snap.files.map(_._1) === Seq("f0.parquet", "f1.parquet"))
    assert(DeltaRead.read(spark, dir).count() === 2L)
    // remove part 2 of 2 → incomplete checkpoint must NOT be used; with no
    // commit 0 available either, reconstruction fails loudly instead of
    // silently serving half the table
    Files.delete(Paths.get(
      s"$dir/_delta_log/" + f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    val e = intercept[IllegalArgumentException] {
      DeltaRead.snapshot(spark, dir)
    }
    assert(e.getMessage.contains("gap"))
  }

  test("unsupported reader requirements are refused, not misread") {
    val dir = Files.createTempDirectory("delta_v2ckpt").toString
    dataFile(dir, "f0.parquet", Seq((1L, "x")))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      metaLine(abSchema),
      addLine(dir, "f0.parquet")))
    val e = intercept[IllegalArgumentException] {
      DeltaRead.read(spark, dir)
    }
    assert(e.getMessage.contains("typeWidening"))
    // ...but a v3 table whose features are all benign reads fine
    val dir2 = Files.createTempDirectory("delta_ntz").toString
    dataFile(dir2, "f0.parquet", Seq((1L, "x")))
    commit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      metaLine(abSchema),
      addLine(dir, "f0.parquet")))
    assert(DeltaRead.read(spark, dir2).count() === 1L)
  }

  test("column mapping 'name' mode: physical file names read as logical; 'id' refused") {
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cmap").toString
    // data file carries PHYSICAL column names (what Databricks writes under
    // column mapping); the partition column is absent from the file
    val tmp2 = s"$dir/__stage"
    Seq((1L, "hello")).toDF("col-aaaa", "col-bbbb")
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    val p2 = new java.io.File(tmp2).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(p2.toPath, Paths.get(s"$dir/part0.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
    def mappedField(name: String, tpe: String, phys: String) =
      s"""{"name":"$name","type":"$tpe","nullable":true,"metadata":""" +
        s"""{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"$phys"}}"""
    val schemaStr = esc(
      s"""{"type":"struct","fields":[${mappedField("a", "long", "col-aaaa")},""" +
        s"""${mappedField("b", "string", "col-bbbb")},""" +
        s"""${mappedField("lang", "string", "col-pppp")}]}""")
    def metaWithMapping(mode: String) =
      s"""{"metaData":{"id":"cmap","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaStr","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"$mode"},"createdTime":0}}"""
    // partitionValues keyed by the PHYSICAL partition name, per protocol
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaWithMapping("name"),
      s"""{"add":{"path":"part0.parquet","partitionValues":{"col-pppp":"en"},""" +
        s""""size":${Files.size(Paths.get(dir, "part0.parquet"))},""" +
        s""""modificationTime":0,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq === Seq("a", "b", "lang"))
    val row = got.head()
    assert((row.getLong(0), row.getString(1), row.getString(2))
      === ((1L, "hello", "en")))
    // and partition pruning still binds on the logical name
    assert(got.where(col("lang") === "de").count() === 0L)
    assert(got.where(col("lang") === "en").count() === 1L)
    // NESTED struct fields carry physical names too — a top-level-only
    // mapping would read them as null; every level must map
    val dirN = Files.createTempDirectory("delta_cmap_nested").toString
    val tmpN = s"$dirN/__stage"
    Seq((7L, ("deep", 42L)))
      .toDF("col-top", "col-nest")
      .select(col("col-top"), col("col-nest").cast(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("col-inner-s",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("col-inner-n",
            org.apache.spark.sql.types.LongType)))).as("col-nest"))
      .coalesce(1).write.mode("overwrite").parquet(tmpN)
    val pN = new java.io.File(tmpN).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(pN.toPath, Paths.get(s"$dirN/part0.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpN))
    def innerField(name: String, tpe: String, phys: String) =
      s"""{"name":"$name","type":"$tpe","nullable":true,"metadata":""" +
        s"""{"delta.columnMapping.physicalName":"$phys"}}"""
    val nestedType =
      s"""{"type":"struct","fields":[${innerField("s", "string", "col-inner-s")},""" +
        s"""${innerField("n", "long", "col-inner-n")}]}"""
    val schemaN = esc(
      s"""{"type":"struct","fields":[${mappedField("top", "long", "col-top")},""" +
        s"""{"name":"nest","type":$nestedType,"nullable":true,"metadata":""" +
        s"""{"delta.columnMapping.physicalName":"col-nest"}}]}""")
    commit(dirN, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cmapn","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaN","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}""",
      s"""{"add":{"path":"part0.parquet","partitionValues":{},""" +
        s""""size":${Files.size(Paths.get(dirN, "part0.parquet"))},""" +
        s""""modificationTime":0,"dataChange":true}}"""))
    val gotN = DeltaRead.read(spark, dirN)
    assert(gotN.columns.toSeq === Seq("top", "nest"))
    assert(gotN.schema("nest").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq === Seq("s", "n"))
    val rowN = gotN.head()
    assert(rowN.getLong(0) === 7L)
    val nest = rowN.getStruct(1)
    assert(nest.getString(0) === "deep", "nested string must not be null")
    assert(nest.getLong(1) === 42L, "nested long must not be null")
    assert(gotN.select(col("nest.n")).head().getLong(0) === 42L)

    // 'id' mode: resolution is by parquet FIELD ID — the file's column
    // names (x1/x2, and x3.x4 nested) match NEITHER the logical nor the
    // physical names, so only id matching can produce these values
    val dir2 = Files.createTempDirectory("delta_cmap_id").toString
    val tmpId = s"$dir2/__stage"
    def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val writeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x1",
        org.apache.spark.sql.types.LongType, true, fid(1)),
      org.apache.spark.sql.types.StructField("x2",
        org.apache.spark.sql.types.StringType, true, fid(2)),
      org.apache.spark.sql.types.StructField("x3",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("x4",
            org.apache.spark.sql.types.LongType, true, fid(4)))),
        true, fid(3))))
    val idRows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(9L, "idm", org.apache.spark.sql.Row(77L)))
    spark.createDataFrame(idRows, writeSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmpId)
    val pId = new java.io.File(tmpId).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(pId.toPath, Paths.get(s"$dir2/part0.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpId))
    def idField(name: String, tpe: String, phys: String, id: Long) =
      s"""{"name":"$name","type":"$tpe","nullable":true,"metadata":""" +
        s"""{"delta.columnMapping.id":$id,""" +
        s""""delta.columnMapping.physicalName":"$phys"}}"""
    val nestedIdType =
      s"""{"type":"struct","fields":[${idField("n", "long", "col-inner", 4)}]}"""
    val schemaId = esc(
      s"""{"type":"struct","fields":[${idField("a", "long", "col-aaaa", 1)},""" +
        s"""${idField("b", "string", "col-bbbb", 2)},""" +
        s"""{"name":"nest","type":$nestedIdType,"nullable":true,"metadata":""" +
        s"""{"delta.columnMapping.id":3,""" +
        s""""delta.columnMapping.physicalName":"col-nnnn"}}]}""")
    commit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cmapid","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaId","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"id"},"createdTime":0}}""",
      s"""{"add":{"path":"part0.parquet","partitionValues":{},""" +
        s""""size":${Files.size(Paths.get(dir2, "part0.parquet"))},""" +
        s""""modificationTime":0,"dataChange":true}}"""))
    val gotId = DeltaRead.read(spark, dir2)
    assert(gotId.columns.toSeq === Seq("a", "b", "nest"))
    val rowId = gotId.head()
    assert(rowId.getLong(0) === 9L)
    assert(rowId.getString(1) === "idm")
    assert(rowId.getStruct(2).getLong(0) === 77L,
      "nested field must resolve by parquet field id")
    // the read never flips the caller's session: with field-id reads off
    // it refuses, naming the conf, and leaves the conf as it was
    val fieldIdKey = "spark.sql.parquet.fieldId.read.enabled"
    val off = spark.newSession()
    off.conf.set(fieldIdKey, "false")
    val refused = intercept[IllegalArgumentException](DeltaRead.read(off, dir2))
    assert(refused.getMessage.contains(fieldIdKey))
    assert(off.conf.get(fieldIdKey) === "false")
  }

  test("schema evolution: latest metaData wins, pre-evolution files null-pad") {
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_evo").toString
    dataFile(dir, "old.parquet", Seq((1L, "x")))
    // newer file carries the added column
    val tmp2 = s"$dir/__stage2"
    Seq((2L, "y", 9.5)).toDF("a", "b", "score")
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    val p2 = new java.io.File(tmp2).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(p2.toPath, Paths.get(s"$dir/new.parquet"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
    val evolved = StructType(abSchema.fields.toSeq :+
      StructField("score", DoubleType))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(abSchema),
      addLine(dir, "old.parquet")))
    commit(dir, 1, Seq(
      metaLine(evolved),
      addLine(dir, "new.parquet")))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq === Seq("a", "b", "score"))
    val rows = got.orderBy("a").collect()
    assert(rows(0).isNullAt(2))            // pre-evolution file null-pads
    assert(rows(1).getDouble(2) === 9.5)
    // time travel to v0 serves the OLD schema
    assert(DeltaRead.read(spark, dir, Some(0L)).columns.toSeq === Seq("a", "b"))
  }

  test("url-encoded paths and gap detection") {
    val dir = Files.createTempDirectory("delta_enc").toString
    dataFile(dir, "with space.parquet", Seq((7L, "s")))
    commit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(abSchema),
      addLine(dir, "with%20space.parquet")))
    assert(DeltaRead.read(spark, dir).select("a").head().getLong(0) === 7L)
    // a hole in the commit sequence must fail loudly
    commit(dir, 2, Seq(addLine(dir, "with%20space.parquet")))
    val e = intercept[IllegalArgumentException] {
      DeltaRead.snapshot(spark, dir)
    }
    assert(e.getMessage.contains("gap"))
  }
}
