package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Read-only reader for Delta-protocol tables (`_delta_log/`), implemented
  * directly against the PUBLIC protocol spec (delta.io PROTOCOL.md) with no
  * Delta jars on the classpath.
  *
  * Why it exists: the reference persists every warehouse stage as a Delta
  * table (adls_bikeshare_project_IsmaelDawuda.ipynb:264, :982), so a user
  * switching to this library must be able to READ reference-produced data
  * in place. Writes stay on [[VersionedLake]] / plain parquet — write-side
  * Delta (optimistic commit protocol, checkpoints, invariants) is exactly
  * the part that needs the real implementation.
  *
  * Shape for scale, mirroring what Delta's own driver does:
  *  - the log is reconstructed DISTRIBUTED: commit JSONs are read with a
  *    DECLARED action schema (no inference pass), the newest complete
  *    parquet checkpoint at-or-before the target version seeds the state so
  *    only the checkpoint + trailing commits are read, and latest-action-
  *    per-file reconciliation is one `max_by` aggregation on the file path;
  *  - only the final live FILE LIST is collected to the driver (same
  *    driver-side file index every Delta reader holds);
  *  - data is then scanned with the DECLARED data schema. Partitioned
  *    tables read as one scan per distinct partition tuple with the
  *    partition values attached as typed literals, unioned — partition
  *    predicates constant-fold per branch, so partition pruning falls out
  *    of the optimizer for free. (A million-tuple table would want a custom
  *    FileIndex instead; the per-tuple union is the right trade below ~10⁴
  *    tuples, and the reference's tables are date-partitioned at most.)
  *
  * Deletion vectors (the default on-DML format of DBR 14+) are READ: the
  * protocol's z85 paths, versioned `.bin` sidecars and portable
  * RoaringBitmapArray are handled by [[DeltaDv]], and deleted row
  * positions drop via a scan-side `_metadata.row_index` filter — no join.
  * Column mapping reads in BOTH modes: `name` via recursive physical-name
  * schemas, `id` via Spark's parquet field-id matching. V2 checkpoints
  * (protocol § V2 Spec; UUID-named manifests with `sidecar` actions under
  * `_delta_log/_sidecars/`) seed the replay like classic ones — the
  * manifest's own actions union the sidecars'. Still unsupported (checked,
  * not silently misread): minReaderVersion 3 with any reader feature
  * beyond timestampNtz / vacuumProtocolCheck / columnMapping /
  * deletionVectors / v2Checkpoint (type widening, ... change scan
  * semantics and need the real reader).
  */
object DeltaRead {

  private val CommitFile = """(\d{20})\.json""".r
  private val CkptSingle = """(\d{20})\.checkpoint\.parquet""".r
  private val CkptPart = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // v2 spec: <version>.checkpoint.<uniqueStr>.{json|parquet}; the unique
  // string is one dot-free segment, so part-file names (two numeric
  // segments) never match
  private val CkptV2 = """(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)""".r

  /** The add action's deletionVector descriptor (protocol § Deletion
    * Vectors) — the fields [[DeltaDv]] needs to locate and verify the
    * bitmap.
    */
  private val dvSchema = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  /** Action schema for commit JSON — only the fields replay needs. */
  private val actionSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvSchema)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("dataChange", BooleanType)))),
    StructField("cdc", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType)))),
    StructField("commitInfo", StructType(Seq(
      StructField("timestamp", LongType),
      StructField("inCommitTimestamp", LongType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType))))))

  /** The v2-checkpoint `sidecar` action (protocol § V2 Spec) — only the
    * path is needed to locate the file; size/modificationTime are
    * advisory.
    */
  private val sidecarSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType)))

  private val readerFeaturesOk =
    Set("timestampNtz", "vacuumProtocolCheck", "columnMapping",
      "deletionVectors", "v2Checkpoint")

  /** Re-project a parquet-read action DataFrame onto `want`: real
    * checkpoints/sidecars carry extra nested fields (stats, tags,
    * maxRowIndex...) and may lack whole action columns (no tombstones → no
    * `remove`, pre-features writer → no readerFeatures) — project
    * field-by-field at every nesting level, substituting typed nulls for
    * anything absent (a struct-to-struct Cast would require matching
    * arity).
    */
  private def reproject(raw: DataFrame, want: StructType): DataFrame = {
    def has(path: Seq[String]): Boolean = {
      var t: DataType = raw.schema
      path.forall { n => t match {
        case s: StructType if s.fieldNames.contains(n) =>
          t = s(n).dataType; true
        case _ => false
      }}
    }
    def proj(path: Seq[String], w: DataType): Column = w match {
      case st: StructType =>
        when(col(path.mkString(".")).isNotNull,
          struct(st.fields.toSeq.map { f =>
            (if (has(path :+ f.name)) proj(path :+ f.name, f.dataType)
             else lit(null).cast(f.dataType)).as(f.name)
          }: _*))
      case dt => col(path.mkString(".")).cast(dt)
    }
    raw.select(want.fields.toSeq.map { f =>
      (if (has(Seq(f.name))) proj(Seq(f.name), f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  /** The log's latest protocol action, carried VERBATIM so a re-emitted
    * checkpoint never downgrades the table (a reader-features table —
    * columnMapping, timestampNtz — must keep advertising them even after
    * its DVs compact away).
    */
  final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
                            readerFeatures: Seq[String],
                            writerFeatures: Seq[String])

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      /** (relative path, partitionValues, size) of every live data file —
        * size is the LOG's add.size (the protocol requires it accurate;
        * the scan trusts it, as Delta's own reader does).
        */
      files: Seq[(String, Map[String, String], Long)],
      configuration: Map[String, String],
      /** Highest committed txn version per appId (streaming idempotence). */
      txns: Map[String, Long] = Map.empty,
      /** Deletion-vector descriptor per live file (relative path key);
        * absent key = no deleted rows in that file.
        */
      dvs: Map[String, DeltaDv.Descriptor] = Map.empty,
      /** add.modificationTime per live file — carried so a re-emitted
        * checkpoint add can include it (the protocol lists it required).
        */
      modTimes: Map[String, Long] = Map.empty,
      /** The log's latest protocol action; None only for a log that never
        * committed one (non-conforming writer) — treat as (1, 2).
        */
      protocol: Option[Protocol] = None)

  /** Reconstruct the table state at `asOf` (default: latest version). */
  def snapshot(spark: SparkSession, tablePath: String,
               asOf: Option[Long] = None): Snapshot = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $tablePath")
    val names = fs.listStatus(logDir).map(_.getPath.getName).toSeq

    val commits = names.collect { case n @ CommitFile(v) => v.toLong -> n }
      .toMap
    require(commits.nonEmpty, s"empty _delta_log under $tablePath")
    val latest = commits.keys.max
    val target = asOf.getOrElse(latest)
    require(commits.contains(target) || asOf.isEmpty,
      s"version $target not present in $logDir (have ≤ $latest)")

    // newest COMPLETE checkpoint at-or-before target: single-file, all
    // `i.of.n` parts present, or a v2 UUID-named manifest. At equal
    // versions the classic form wins (both are complete states; classic
    // needs no sidecar hop).
    val singles = names.collect { case n @ CkptSingle(v)
      if v.toLong <= target => v.toLong -> Seq(n) }
    val parts = names.collect { case n @ CkptPart(v, _, total)
      if v.toLong <= target => (v.toLong, total.toInt, n) }
      .groupBy { case (v, total, _) => (v, total) }
      .collect { case ((v, total), ps) if ps.size == total =>
        v -> ps.map(_._3).sorted }
    val classic = (singles ++ parts).sortBy(_._1).lastOption
    val v2 = names.collect { case n @ CkptV2(v, _, _)
      if v.toLong <= target => v.toLong -> n }.sortBy(_._1).lastOption
    val checkpoint: Option[(Long, Either[Seq[String], String])] =
      (classic, v2) match {
        case (Some((cv, cf)), Some((vv, vn))) =>
          if (vv > cv) Some(vv -> Right(vn)) else Some(cv -> Left(cf))
        case (Some((cv, cf)), None) => Some(cv -> Left(cf))
        case (None, Some((vv, vn))) => Some(vv -> Right(vn))
        case _ => None
      }

    val cpVersion = checkpoint.map(_._1).getOrElse(-1L)
    val tail = commits.keys.filter(v => v > cpVersion && v <= target).toSeq.sorted
    // the replay window must be gap-free or the state is unreconstructable
    val expect = (cpVersion + 1) to target
    require(tail == expect,
      s"gap in _delta_log: need versions $expect after checkpoint $cpVersion, have $tail")

    def norm(df: DataFrame, v: org.apache.spark.sql.Column): DataFrame =
      df.select(v.as("__v"), col("add"), col("remove"),
        col("metaData"), col("protocol"), col("txn"))

    val fromJson = if (tail.isEmpty) None else Some(norm(
      spark.read.schema(actionSchema)
        .json(tail.map(v => new Path(logDir, commits(v)).toString): _*),
      regexp_extract(input_file_name(), """(\d{20})\.json""", 1).cast("long")))
    val fromCkpt = checkpoint.map {
      case (v, Left(fs0)) =>
        norm(reproject(spark.read
          .parquet(fs0.map(n => new Path(logDir, n).toString): _*),
          actionSchema), lit(v))
      case (v, Right(manifest)) =>
        // v2: the manifest holds checkpointMetadata + sidecar pointers +
        // any non-file actions; file actions live in the manifest and/or
        // the referenced `_sidecars/` parquets. The sidecar NAME list is a
        // bounded driver collect (same budget as the live-file list).
        val mPath = new Path(logDir, manifest).toString
        val v2Schema = StructType(
          actionSchema.fields :+ StructField("sidecar", sidecarSchema))
        val raw =
          if (manifest.endsWith(".json"))
            spark.read.schema(v2Schema).json(mPath)
          else reproject(spark.read.parquet(mPath), v2Schema)
        val sidecars = raw.where(col("sidecar.path").isNotNull)
          .select(col("sidecar.path")).collect().map(_.getString(0))
          .toSeq.map { p =>
            // relative per the protocol; tolerate absolute URIs
            if (p.contains("://") || p.startsWith("/")) p
            else new Path(new Path(logDir, "_sidecars"), p).toString
          }
        val manifestActs = raw.select(
          actionSchema.fieldNames.toSeq.map(col): _*)
        val acts =
          if (sidecars.isEmpty) manifestActs
          else manifestActs.unionByName(
            reproject(spark.read.parquet(sidecars: _*), actionSchema))
        norm(acts, lit(v))
    }
    val acts = (fromCkpt.toSeq ++ fromJson.toSeq).reduce(_ union _)

    // metaData / protocol: ≤ one per commit — a bounded driver collect
    val metas = acts.where(col("metaData").isNotNull)
      .select(col("__v"), col("metaData.*")).orderBy(col("__v").desc)
      .limit(1).collect()
    require(metas.nonEmpty, s"no metaData action found in $logDir")
    val meta = metas.head
    val protos = acts.where(col("protocol").isNotNull)
      .select(col("__v"), col("protocol.*")).orderBy(col("__v").desc)
      .limit(1).collect()
    val config = Option(meta.getMap[String, String](4))
      .map(_.toMap).getOrElse(Map.empty)
    val protocolOpt = protos.headOption.map { p =>
      Protocol(
        if (p.isNullAt(1)) 1 else p.getInt(1),
        if (p.isNullAt(2)) 2 else p.getInt(2),
        Option(p.getSeq[String](3)).getOrElse(Seq.empty),
        Option(p.getSeq[String](4)).getOrElse(Seq.empty))
    }
    protocolOpt.foreach { p =>
      val mrv = p.minReaderVersion
      val feats = p.readerFeatures.toSet
      val mapping = config.getOrElse("delta.columnMapping.mode", "none")
      // column mapping: 'name' mode reads via physical names from the
      // schemaString metadata; 'id' mode reads via parquet field-id
      // matching (Spark's fieldId.read path, on in Engine.configure)
      val mappingOk =
        mapping == "none" || mapping == "name" || mapping == "id"
      require(mrv <= 1 ||
        (mrv == 2 && mappingOk) ||
        (mrv == 3 && (feats -- readerFeaturesOk).isEmpty && mappingOk),
        s"unsupported Delta reader requirement: minReaderVersion=$mrv " +
          s"features=${feats.mkString(",")} columnMapping=$mapping")
    }

    val schema = DataType.fromJson(meta.getString(2)).asInstanceOf[StructType]
    val partCols = Option(meta.getSeq[String](3)).getOrElse(Seq.empty)

    // latest action per file path wins; within one commit an add
    // supersedes a remove of the same path — DV-writing DML re-adds a
    // file (with its new deletionVector) in the SAME commit that removes
    // its old state, so the tie-break key is (version, isAdd)
    val fileActs = acts.select(col("__v"),
        coalesce(col("add.path"), col("remove.path")).as("path"),
        col("add.path").isNotNull.as("isAdd"),
        col("add.partitionValues").as("pv"),
        col("add.size").as("sz"),
        col("add.deletionVector").as("dv"),
        col("add.modificationTime").as("mt"))
      .where(col("path").isNotNull)
    val liveRows = fileActs.groupBy("path")
      .agg(max_by(struct(col("isAdd"), col("pv"), col("sz"), col("dv"),
        col("mt")), struct(col("__v"), col("isAdd"))).as("last"))
      .where(col("last.isAdd"))
      .select(col("path"), col("last.pv").as("pv"), col("last.sz").as("sz"),
        col("last.dv").as("dv"), col("last.mt").as("mt"))
      .collect()
    val live = liveRows
      .map(r => (r.getString(0),
        Option(r.getMap[String, String](1)).map(_.toMap)
          .getOrElse(Map.empty[String, String]),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .toSeq.sortBy(_._1)
    val dvs = liveRows.flatMap { r =>
      if (r.isNullAt(3)) None
      else {
        val d = r.getStruct(3)
        // a descriptor with cardinality 0 (or a null storageType from a
        // non-conforming writer) filters nothing — drop it here
        if (d.isNullAt(0)) None
        else Some(r.getString(0) -> DeltaDv.Descriptor(
          d.getString(0), d.getString(1),
          if (d.isNullAt(2)) None else Some(d.getInt(2)),
          d.getInt(3), if (d.isNullAt(4)) 0L else d.getLong(4)))
      }
    }.toMap
    val modTimes = liveRows.flatMap { r =>
      if (r.isNullAt(4)) None else Some(r.getString(0) -> r.getLong(4))
    }.toMap

    // highest txn version per appId — a handful of rows (one per streaming
    // writer), the standard idempotent-retry bookkeeping
    val txns = acts.where(col("txn.appId").isNotNull)
      .groupBy(col("txn.appId").as("appId"))
      .agg(max(col("txn.version")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    Snapshot(target, schema, partCols, live, config, txns, dvs, modTimes,
      protocolOpt)
  }

  /** Version visible as of a wall-clock instant: the newest commit whose
    * log-file modification time is ≤ `ts` (the protocol's documented
    * timestamp-travel semantics — commit mtime approximates commit time).
    */
  def versionAsOfTimestamp(spark: SparkSession, tablePath: String,
                           ts: Long): Long = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = fs.listStatus(logDir).toSeq
      .flatMap(st => st.getPath.getName match {
        case CommitFile(v) => Some(v.toLong -> st.getModificationTime)
        case _ => None
      }).sortBy(_._1)
    require(commits.nonEmpty, s"empty _delta_log under $tablePath")
    // filter, not takeWhile: a single out-of-order mtime (clock skew, a
    // restored/copied log file) must not hide every later commit — the
    // protocol semantics are "newest commit at-or-before ts"
    val eligible = commits.filter(_._2 <= ts)
    require(eligible.nonEmpty,
      s"no commit at or before timestamp $ts (earliest is ${commits.head._2})")
    eligible.last._1
  }

  def readAsOfTimestamp(spark: SparkSession, tablePath: String,
                        ts: Long): DataFrame =
    read(spark, tablePath, Some(versionAsOfTimestamp(spark, tablePath, ts)))

  /** Incremental tail: the rows of files ADDED in versions (fromV, toV]
    * with `dataChange=true` — the append-only change feed a polling
    * consumer drains after a [[DeltaExport.foreachBatchSink]] writer
    * (track `toV` as the cursor, like `VersionedLake.changesSince`).
    * Compactions commit `dataChange=false` and are invisible here, per
    * the flag's protocol meaning. Only valid for append-only ranges: a
    * remove with `dataChange=true` inside the range (overwrite/delete)
    * is refused rather than silently under-reported.
    */
  def readAppendsBetween(spark: SparkSession, tablePath: String,
                         fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val snap = snapshot(spark, tablePath, Some(toV))
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = (fromV + 1) to toV
    val paths = versions.map(v => new Path(logDir, f"$v%020d.json"))
    val missing = paths.filterNot(fs.exists)
    require(missing.isEmpty,
      s"commits missing for range ($fromV, $toV] (cleaned log?): " +
        missing.map(_.getName).mkString(", ") +
        " — fall back to a full snapshot read")
    val acts = spark.read.schema(actionSchema).json(paths.map(_.toString): _*)
    val dataRemoves = acts
      .where(col("remove.path").isNotNull &&
        coalesce(col("remove.dataChange"), lit(true)))
      .limit(1).collect()
    require(dataRemoves.isEmpty,
      s"versions ($fromV, $toV] of $tablePath contain data-changing removes" +
        " — not an append-only range; re-read the full snapshot instead")
    val dvAdds = acts
      .where(col("add.path").isNotNull &&
        col("add.deletionVector.storageType").isNotNull)
      .limit(1).collect()
    require(dvAdds.isEmpty,
      s"versions ($fromV, $toV] of $tablePath add files carrying deletion " +
        "vectors (DML rewrite) — not an append-only range; re-read the " +
        "full snapshot instead")
    val added = acts
      .where(col("add.path").isNotNull &&
        coalesce(col("add.dataChange"), lit(true)))
      .select(col("add.path").as("path"),
        col("add.partitionValues").as("pv"), col("add.size").as("sz"))
      .collect()
      .map(r => (r.getString(0),
        Option(r.getMap[String, String](1)).map(_.toMap)
          .getOrElse(Map.empty[String, String]),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .toSeq.sortBy(_._1)
    if (added.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        logicalSchema(snap.schema))
    // in-range files are DV-free (checked above) — don't load snapshot
    // bitmaps for files outside the range
    scan(spark, tablePath, snap.copy(files = added, dvs = Map.empty))
  }

  /** Physical column name under column mapping (`name` mode): the
    * `delta.columnMapping.physicalName` field metadata; the logical name
    * otherwise.
    */
  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** `parquet.field.id` metadata from the Delta field's columnMapping id
    * — the key Spark's field-id-matching parquet reader resolves by
    * (`spark.sql.parquet.fieldId.read.enabled`), which is exactly the
    * resolution `id`-mode column mapping requires.
    */
  private def idMeta(f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.types.Metadata =
    if (f.metadata.contains("delta.columnMapping.id"))
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
        .build()
    else org.apache.spark.sql.types.Metadata.empty

  /** Recursively rewrite a type to PHYSICAL field names at every nesting
    * level — under column mapping the parquet files carry physical names
    * for nested struct fields too (their physicalName lives in the nested
    * field's metadata), so mapping only the top level would silently read
    * every nested field as null. With `withIds` (id mode) each field also
    * carries its parquet.field.id so the scan matches by id, not name.
    */
  private def physicalType(dt: DataType, withIds: Boolean): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalName(f), physicalType(f.dataType, withIds), f.nullable,
        if (withIds) idMeta(f) else org.apache.spark.sql.types.Metadata.empty)))
    case ArrayType(et, n) => ArrayType(physicalType(et, withIds), n)
    case MapType(k, v, n) =>
      MapType(physicalType(k, withIds), physicalType(v, withIds), n)
    case o => o
  }

  /** The declared type with LOGICAL names at every level and mapping
    * metadata stripped — the cast target that renames physical nested
    * fields back (struct-to-struct Cast renames by position).
    */
  private def plainType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, plainType(f.dataType), f.nullable)))
    case ArrayType(et, n) => ArrayType(plainType(et), n)
    case MapType(k, v, n) => MapType(plainType(k), plainType(v), n)
    case o => o
  }

  /** The user-facing schema: logical names, mapping metadata stripped. */
  private def logicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, plainType(f.dataType), f.nullable)))

  /** Shared scan construction: one `HadoopFsRelation` over
    * [[DeltaFileIndex]]. Under column mapping `name` mode the FILES carry
    * physical column names and `add.partitionValues` is keyed by physical
    * partition names — the scan requests physical names and the final
    * projection renames to logical, while partition values/keys are
    * rewritten to logical before the index so partition predicates (which
    * reference the output's logical attributes) bind directly.
    */
  private def scan(spark: SparkSession, tablePath: String,
                   snap: Snapshot): DataFrame = {
    val declared = snap.schema
    val mode = snap.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    val mapped = mode == "name" || mode == "id"
    // id mode resolves parquet columns by FIELD ID (names are arbitrary);
    // Spark's reader does exactly that when the requested schema carries
    // parquet.field.id metadata and this conf is on. Refused rather than
    // set here: the session is the caller's (Engine.configure turns it on)
    val fieldIdConf = org.apache.spark.sql.internal.SQLConf.PARQUET_FIELD_ID_READ_ENABLED
    require(mode != "id" || spark.sessionState.conf.getConf(fieldIdConf),
      s"$tablePath uses id-mode column mapping, which resolves parquet " +
        s"columns by field id: set ${fieldIdConf.key}=true on the session")
    val physByLogical = declared.fields.map(f => f.name -> physicalName(f)).toMap
    val partPhysToLogical = snap.partitionColumns
      .map(c => physByLogical(c) -> c).toMap
    val files =
      if (!mapped) snap.files
      else snap.files.map { case (rel, pv, sz) =>
        (rel, pv.map { case (k, v) =>
          partPhysToLogical.getOrElse(k, k) -> v }, sz)
      }
    val partitionSchema = StructType(snap.partitionColumns.map(c =>
      org.apache.spark.sql.types.StructField(c, declared(c).dataType,
        declared(c).nullable)))
    val dataSchema = StructType(declared.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
      .map(f => org.apache.spark.sql.types.StructField(
        if (mapped) physicalName(f) else f.name,
        if (mapped) physicalType(f.dataType, mode == "id") else f.dataType,
        f.nullable,
        if (mode == "id") idMeta(f)
        else org.apache.spark.sql.types.Metadata.empty)))
    val index = new DeltaFileIndex(spark, new Path(tablePath),
      snap.copy(files = files), partitionSchema)
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty[String, String])(spark)
    val base = spark.baseRelationToDataFrame(relation)
    // deletion vectors: drop deleted row positions with a scan-side filter
    // on the parquet row index — bitmap bytes are loaded once driver-side
    // (small, log-bounded) and ride the plan as expression literals keyed
    // by the data file's URI path; no join, no shuffle
    val filtered =
      if (snap.dvs.isEmpty) base
      else {
        val table = new Path(tablePath)
        val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
        val qualified = fs.makeQualified(table)
        def decode(rel: String): String =
          try new java.net.URI(rel).getPath
          catch { case _: java.net.URISyntaxException => rel }
        val bytesByPath: Map[String, Array[Byte]] = snap.dvs.map {
          case (rel, d) =>
            val abs = new Path(qualified, decode(rel))
            abs.toUri.getPath -> DeltaDv.loadBitmapBytes(fs, qualified, d)
        }
        val meta = base.metadataColumn("_metadata")
        base.where(!DeltaDv.deletedCol(
          meta.getField("file_path"), meta.getField("row_index"), bytesByPath))
      }
    // restore declared order; rename physical → logical where mapped —
    // nested levels rename via a cast to the logical type (position-wise
    // struct cast), a no-op for flat columns
    filtered
      .select(declared.fieldNames.toSeq.map { n =>
        if (mapped && !snap.partitionColumns.contains(n))
          col(physByLogical(n)).cast(plainType(declared(n).dataType)).as(n)
        else col(n)
      }: _*)
  }

  /** Read the table at `asOf` (default: latest) as a DataFrame with the
    * log's declared schema, partition columns included and typed.
    *
    * The scan is ONE `HadoopFsRelation` over a log-backed [[FileIndex]]
    * ([[DeltaFileIndex]]) — the same integration point Spark's built-in
    * file sources use — so a partitioned table of ANY tuple count plans a
    * single `FileScan` whose `PartitionFilters` prune at planning time
    * from the log's partitionValues, with no directory listing and no
    * per-tuple plan fan-out. (The earlier union-of-scans formulation was
    * correct but planned one scan per tuple — wrong shape above ~10⁴
    * tuples.)
    */
  def read(spark: SparkSession, tablePath: String,
           asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOf)
    require(snap.files.nonEmpty || snap.schema.nonEmpty,
      s"Delta table $tablePath has no schema")
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        logicalSchema(snap.schema))
    scan(spark, tablePath, snap)
  }

  /** Version list visible in the log (commit files present), ascending. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case CommitFile(v) => v.toLong }.toSeq.sorted
  }

  /** Change Data Feed over `[fromV, toV]` (protocol § Change Data Files):
    * per commit, either the commit's explicit `cdc` files (row-level
    * `_change_type` incl. update pre/post images, written by CDF-enabled
    * DML) or — when a commit carries no cdc action — changes synthesized
    * from its data-changing adds (`insert`) and removes (`delete`, reading
    * the still-present tombstoned file), exactly the reader behavior the
    * protocol specifies. Appends `_change_type`, `_commit_version`,
    * `_commit_timestamp` (the commitInfo in-commit timestamp when present,
    * else the commit file's mtime — the same source timestamp travel
    * uses).
    *
    * Each commit's files scan through the same log-backed FileIndex path
    * as a table read (partition values from the LOG, pruning intact); the
    * per-version frames union, so plan size is O(versions in range) —
    * the CDF consumer shape (bounded cursor ranges, like
    * [[readAppendsBetween]]). Refused, not misread: column-mapped tables
    * (cdc data columns would need the physical-name path while
    * `_change_type` stays literal) and DV-carrying adds in cdc-less
    * commits (row-level deltas a file-level synthesis cannot express).
    */
  def readChanges(spark: SparkSession, tablePath: String,
                  fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val snap = snapshot(spark, tablePath, Some(toV))
    require(snap.configuration
        .getOrElse("delta.columnMapping.mode", "none") == "none",
      "readChanges on a column-mapped table is not supported")
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fromV to toV
    val paths = versions.map(v => v -> new Path(logDir, f"$v%020d.json"))
    val missing = paths.filterNot(p => fs.exists(p._2))
    require(missing.isEmpty,
      s"commits missing for range [$fromV, $toV] (cleaned log?): " +
        missing.map(_._2.getName).mkString(", "))
    val withType = StructType(snap.schema.fields :+
      StructField("_change_type", StringType))
    def emptyOut = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(logicalSchema(withType).fields ++ Seq(
        StructField("_commit_version", LongType, nullable = false),
        StructField("_commit_timestamp", LongType, nullable = false))))
    val perVersion = paths.map { case (v, p) =>
      val acts = spark.read.schema(actionSchema).json(p.toString)
      // one bounded collect per commit: the commit's own action list
      val rows = acts.select(col("add"), col("remove"), col("cdc"),
        col("commitInfo.inCommitTimestamp").as("ict")).collect()
      def pvOf(r: org.apache.spark.sql.Row, i: Int): Map[String, String] =
        if (r.isNullAt(i)) Map.empty
        else Option(r.getStruct(i).getAs[scala.collection.Map[String, String]](
          "partitionValues")).map(_.toMap).getOrElse(Map.empty)
      val cdcFiles = rows.filter(r => !r.isNullAt(2)).map { r =>
        val c = r.getStruct(2)
        (c.getAs[String]("path"), pvOf(r, 2),
          Option(c.getAs[java.lang.Long]("size")).map(_.toLong).getOrElse(0L))
      }.toSeq
      val ts = rows.flatMap(r =>
          if (r.isNullAt(3)) None else Some(r.getLong(3))).headOption
        .getOrElse(fs.getFileStatus(p).getModificationTime)
      val frame: Option[DataFrame] =
        if (cdcFiles.nonEmpty) {
          // explicit change files carry _change_type in their content
          Some(scan(spark, tablePath, snap.copy(schema = withType,
            files = cdcFiles.sortBy(_._1), dvs = Map.empty)))
        } else {
          val adds = rows.filter { r => !r.isNullAt(0) &&
            Option(r.getStruct(0).getAs[java.lang.Boolean]("dataChange"))
              .forall(_.booleanValue) }
          val dvAdds = adds.filter(r => !r.getStruct(0).isNullAt(
            r.getStruct(0).fieldIndex("deletionVector")))
          require(dvAdds.isEmpty,
            s"version $v adds files carrying deletion vectors without cdc" +
              " files — row-level changes not reconstructable file-level")
          val removes = rows.filter { r => !r.isNullAt(1) &&
            Option(r.getStruct(1).getAs[java.lang.Boolean]("dataChange"))
              .forall(_.booleanValue) }
          def files(rs: Array[org.apache.spark.sql.Row], i: Int) =
            rs.map { r =>
              val s = r.getStruct(i)
              val sz = if (i == 0)
                Option(s.getAs[java.lang.Long]("size"))
                  .map(_.toLong).getOrElse(0L)
              else {
                // removes carry no size — stat the (still present) file;
                // absence means vacuum beat the CDF consumer: refuse
                val abs = new Path(tablePath,
                  new java.net.URI(s.getAs[String]("path")).getPath)
                require(fs.exists(abs),
                  s"version $v removes ${s.getAs[String]("path")} but the " +
                    "file is gone (vacuumed) — change feed unavailable")
                fs.getFileStatus(abs).getLen
              }
              (s.getAs[String]("path"), pvOf(r, i), sz)
            }.toSeq.sortBy(_._1)
          val ins =
            if (adds.isEmpty) None
            else Some(scan(spark, tablePath,
                snap.copy(files = files(adds, 0), dvs = Map.empty))
              .withColumn("_change_type", lit("insert")))
          val del =
            if (removes.isEmpty) None
            else Some(scan(spark, tablePath,
                snap.copy(files = files(removes, 1), dvs = Map.empty))
              .withColumn("_change_type", lit("delete")))
          (ins, del) match {
            case (Some(a), Some(b)) => Some(a.unionByName(b))
            case (a, b) => a.orElse(b)
          }
        }
      frame.map(_.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(ts)))
    }
    perVersion.flatten
      .reduceOption(_ unionByName _)
      .getOrElse(emptyOut)
  }
}
