package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Write-side Delta-protocol interop: publish graft-produced parquet as a
  * Delta table other engines (the reference's Databricks stack included)
  * can read — the inverse of [[DeltaRead]]. Same public-protocol-only
  * footing: JSON commits under `_delta_log/`, minReaderVersion 1 /
  * minWriterVersion 2, no Delta jars.
  *
  * Three operations:
  *  - [[convert]] — CONVERT-TO-DELTA an EXISTING parquet directory in
  *    place: list its data files, stamp commit 0 (protocol + metaData +
  *    adds). Zero data movement; hive-style `key=value/` subdirs become
  *    partitionValues.
  *  - [[append]] / [[overwrite]] — write a DataFrame as new uniquely-named
  *    parquet files inside the table dir and commit them (overwrite also
  *    tombstones every previously-live file), so repeated exports build a
  *    real multi-version log with time travel.
  *
  * Scale posture: data is written by executors (a normal parquet write to
  * a staging dir); only the per-file RENAMES and the commit JSON are
  * driver-side — same shape as Delta's own driver commit. Renames are
  * metadata ops on HDFS/ABFS (cheap) and the file count per commit is the
  * write's partition count, not the corpus size. NOT concurrency-safe: the
  * single-writer export loop (a scheduled publish job) is the use case; a
  * racing writer needs the real Delta commit protocol.
  *
  * Cited interop target: the reference persists with
  * `.format("delta").saveAsTable(...)` (ipynb:264, :982).
  */
object DeltaExport {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** RFC-2396-encode a path for add/remove actions (space and the chars
    * URI treats specially); '/' separators stay literal.
    */
  private def encPath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  private def protoLine =
    """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def metaLine(id: String, schema: StructType,
                       partitionColumns: Seq[String]): String =
    s"""{"metaData":{"id":"${esc(id)}",""" +
      """"format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(schema.json)}",""" +
      s""""partitionColumns":[${
        partitionColumns.map(c => s""""${esc(c)}"""").mkString(",")}],""" +
      """"configuration":{},"createdTime":0}}"""

  private def addLine(rel: String, pv: Map[String, String], size: Long,
                      ts: Long, dataChange: Boolean = true): String =
    s"""{"add":{"path":"${encPath(rel)}","partitionValues":{${
      pv.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    }},"size":$size,"modificationTime":$ts,"dataChange":$dataChange}}"""

  private def removeLine(rel: String, ts: Long,
                         dataChange: Boolean = true): String =
    s"""{"remove":{"path":"${encPath(rel)}","deletionTimestamp":$ts,""" +
      s""""dataChange":$dataChange}}"""

  /** add action re-adding an existing file with a deletion vector (DV
    * DML: same path/partitionValues/size/modificationTime as the live
    * add, plus the descriptor).
    */
  private def addDvLine(rel: String, pv: Map[String, String], size: Long,
                        ts: Long, d: DeltaDv.Descriptor): String =
    s"""{"add":{"path":"${encPath(rel)}","partitionValues":{${
      pv.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    }},"size":$size,"modificationTime":$ts,"dataChange":true,""" +
      s""""deletionVector":{"storageType":"${esc(d.storageType)}",""" +
      s""""pathOrInlineDv":"${esc(d.pathOrInlineDv)}",""" +
      s""""offset":${d.offset.getOrElse(1)},""" +
      s""""sizeInBytes":${d.sizeInBytes},""" +
      s""""cardinality":${d.cardinality}}}}"""

  /** Tables whose live adds carry deletion vectors need the table-features
    * protocol (reader 3 / writer 7 with deletionVectors listed) — emitted
    * by [[delete]]'s commit, upgrading the v1/v2 protocol in place. A
    * table-features protocol must enumerate EVERY feature in use, so the
    * upgrade carries the legacy writer-v2 implied features (appendOnly,
    * invariants) alongside deletionVectors — without them a writer
    * honoring the upgraded protocol would stop enforcing invariants.
    * Reader v1 implies no reader features.
    */
  private def dvProtoLine =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],""" +
      """"writerFeatures":["appendOnly","invariants","deletionVectors"]}}"""

  /** Another writer committed this version first — the optimistic-
    * concurrency signal callers react to (retry or abort).
    */
  final class CommitConflict(val version: Long, table: Path)
    extends Exception(s"version $version of $table was committed concurrently")

  /** Test-only seam: invoked with the version about to be committed,
    * BETWEEN snapshotting and the commit attempt — the window a concurrent
    * writer races in. Lets specs exercise conflict handling
    * deterministically instead of hoping two threads collide.
    */
  private[graft] var onCommitAttempt: Option[Long => Unit] = None

  private def commit(spark: SparkSession, table: Path, v: Long,
                     lines: Seq[String]): Unit = {
    val logDir = new Path(table, "_delta_log")
    val fs = fsOf(spark, logDir)
    fs.mkdirs(logDir)
    val dest = new Path(logDir, f"$v%020d.json")
    if (fs.exists(dest)) throw new CommitConflict(v, table)
    // write-then-rename: the commit file appears atomically or not at all.
    // A lost rename means another writer won the version — the same
    // conflict as the exists() check, caught at the last possible moment.
    val tmp = new Path(logDir, s".${dest.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val scheme = Option(fs.getUri).map(_.getScheme).getOrElse("")
    if (scheme == "file") {
      // a rename would let two racing writers both "win" the same version
      // (observed as a missing version under a two-thread append race)
      val tmpFile = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
      val won = VersionedLake.linkIfAbsent(
        java.nio.file.Paths.get(fs.makeQualified(dest).toUri), tmpFile)
      java.nio.file.Files.deleteIfExists(tmpFile)
      if (!won) throw new CommitConflict(v, table)
    } else {
      // HDFS rename is atomic no-clobber; re-check exists() first for
      // object stores whose rename overwrites silently
      if (fs.exists(dest) || !fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        throw new CommitConflict(v, table)
      }
    }
  }

  /** Parse `key=value` segments between table root and file name. */
  private def partitionOf(table: Path, file: Path): Map[String, String] = {
    val rootDepth = table.depth
    val segs = Iterator.iterate(file.getParent)(_.getParent)
      .takeWhile(p => p != null && p.depth > rootDepth)
      .map(_.getName).toSeq.reverse
    segs.collect { case s if s.contains('=') =>
      val Array(k, v) = s.split("=", 2)
      // hive's null sentinel → protocol's empty-value null encoding.
      // %xx-only unescape (mirroring catalog unescapePathName): hive path
      // escaping never encodes '+', so URLDecoder — which also maps '+'
      // to space — would corrupt a literal '+' in a partition value
      val dec = unescapePath(v)
      k -> (if (dec == "__HIVE_DEFAULT_PARTITION__") "" else dec)
    }.toMap
  }

  /** Decode hive path escaping: '%' followed by two hex digits → that
    * char; everything else literal (char-level, matching the escape side).
    */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append(((Character.digit(s.charAt(i + 1), 16) << 4) |
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Stamp an existing parquet directory as Delta version 0 — zero data
    * movement. `schema` defaults to the parquet footers' merged schema
    * WITH hive partition columns appended (matching what [[DeltaRead]] /
    * any Delta reader reconstructs). Fails if a log already exists.
    */
  def convert(spark: SparkSession, dir: String,
              schema: Option[StructType] = None): Long = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    require(!fs.exists(new Path(table, "_delta_log")),
      s"$dir already has a _delta_log")
    val files = listDataFiles(spark, table)
    require(files.nonEmpty, s"no parquet files under $dir")
    val inferred = schema.getOrElse(
      spark.read.parquet(dir).schema) // hive partition cols included
    val partCols = {
      val pvKeys = files.flatMap(_._2.keys).distinct
      inferred.fieldNames.filter(pvKeys.contains(_)).toSeq
    }
    try commit(spark, table, 0L,
      protoLine +: metaLine(java.util.UUID.randomUUID.toString, inferred,
        partCols) +: files.map { case (rel, pv, size, ts) =>
        addLine(rel, pv.filter(kv => partCols.contains(kv._1)), size, ts) })
    catch {
      case _: CommitConflict =>
        throw new java.util.ConcurrentModificationException(
          s"$dir was converted to Delta concurrently")
    }
    0L
  }

  private def listDataFiles(spark: SparkSession, table: Path)
      : Seq[(String, Map[String, String], Long, Long)] = {
    val fs = fsOf(spark, table)
    val it = fs.listFiles(table, true)
    val out = Seq.newBuilder[(String, Map[String, String], Long, Long)]
    val rootUri = fs.makeQualified(table).toUri
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = rootUri.relativize(fs.makeQualified(p).toUri).getPath
      val name = p.getName
      if (name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_") && !rel.startsWith("_delta_log/"))
        out += ((rel, partitionOf(table, p), st.getLen,
          st.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  /** Write `df` into the table as a new commit. `overwrite = true`
    * tombstones every previously-live file (snapshot replace); `false`
    * appends. Creates the table (commit 0) if no log exists yet.
    * Partitioned export writes hive-style `key=value/` dirs so the layout
    * stays readable as plain parquet too. Returns the committed version.
    */
  def write(df: DataFrame, dir: String, overwrite: Boolean,
            partitionColumns: Seq[String] = Nil,
            txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    // executors write to a staging dir; files then move (metadata rename)
    // into the table with their unique part-file names preserved. Done
    // ONCE — on a commit conflict only the log attempt retries, the data
    // files are already in place under names no other writer can collide
    // with.
    val stage = new Path(table, s".stage-${java.util.UUID.randomUUID}")
    val w = df.write.mode("overwrite")
    (if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*)
     else w).parquet(stage.toString)
    val staged = listDataFiles(spark, stage)
    val ts = System.currentTimeMillis()
    val moved = staged.map { case (rel, pv, size, _) =>
      val from = new Path(stage, rel)
      val to = new Path(table, rel)
      fs.mkdirs(to.getParent)
      require(fs.rename(from, to), s"rename $from -> $to failed")
      (rel, pv, size, ts)
    }
    fs.delete(stage, true)

    // OPTIMISTIC CONCURRENCY: snapshot → attempt commit at version+1 →
    // on conflict re-snapshot and re-check. A pure append commutes with
    // whatever the winner committed (our adds are fresh UUID part files no
    // other commit can reference), so it retries; an overwrite computed
    // its removes against a snapshot that is now stale, and blindly
    // retrying would silently clobber rows the interleaved commit added —
    // abort and make the caller re-run against fresh state.
    val maxAttempts = 50
    var attempt = 0
    while (true) {
      val hasLog = fs.exists(new Path(table, "_delta_log"))
      val prior: Option[DeltaRead.Snapshot] =
        if (hasLog) Some(DeltaRead.snapshot(spark, dir)) else None
      prior.foreach { s =>
        require(s.partitionColumns == partitionColumns,
          s"partitioning mismatch: table has ${s.partitionColumns}, " +
            s"write declares $partitionColumns")
      }
      // txn idempotence (the protocol's streaming bookkeeping): a replayed
      // micro-batch whose (appId, version) is already committed is a NO-OP
      // — exactly-once append under retry without a coordination service.
      // Re-checked per attempt: the CONCURRENT writer may have been the
      // same app's retry. Our moved files stay orphaned (unreferenced) and
      // are vacuum-able.
      for ((appId, tv) <- txn; s <- prior; last <- s.txns.get(appId))
        if (tv <= last) return s.version
      val v = prior.map(_.version + 1).getOrElse(0L)
      val removes =
        if (overwrite) prior.toSeq.flatMap(_.files).map(f => removeLine(f._1, ts))
        else Seq.empty[String]
      val header =
        if (v == 0L) Seq(protoLine,
          metaLine(java.util.UUID.randomUUID.toString, df.schema, partitionColumns))
        else Seq.empty
      val txnLines = txn.toSeq.map { case (appId, tv) =>
        s"""{"txn":{"appId":"${esc(appId)}","version":$tv}}"""
      }
      onCommitAttempt.foreach(_(v))
      try {
        commit(spark, table, v,
          header ++ txnLines ++ removes ++ moved.map { case (rel, pv, size, t) =>
            addLine(rel, pv, size, t) })
        return v
      } catch {
        case c: CommitConflict =>
          attempt += 1
          if (overwrite) throw new java.util.ConcurrentModificationException(
            s"overwrite of $dir lost the commit race at version ${c.version}" +
              " — another writer committed first and the computed removes" +
              " are stale; re-run the overwrite against fresh state")
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"append to $dir still conflicting after $maxAttempts attempts", c)
      }
    }
    -1L // unreachable
  }

  /** Sparse DELETE via deletion vectors — the protocol's DML path for
    * "remove 0.01 % of rows from a 100 TB table" where a rewrite would
    * copy every surviving byte: rows matching `predicate` are marked
    * deleted by writing a RoaringBitmapArray `.bin` sidecar per affected
    * file ([[DeltaDv.writeDvFile]]) and committing remove+re-add actions
    * carrying the `deletionVector` descriptor, upgrading the protocol to
    * table features (reader 3 / writer 7, `deletionVectors`). No data
    * file is rewritten or touched.
    *
    * Matching runs over the PHYSICAL file contents (`_metadata.row_index`
    * — the DV's row-position domain), so rows already deleted by a prior
    * DV may re-match; the per-file bitmap is the UNION of the old DV and
    * the new matches, which makes repeated deletes idempotent. The
    * per-file index lists collect to the driver — that is the sparse-DML
    * contract (a DV is small by design), enforced by `maxDeletedRows`;
    * a mass delete should be an `overwrite` of the filtered table
    * instead (and [[compact]] purges accumulated DVs by rewrite).
    *
    * Returns the committed version (the current version unchanged if
    * nothing matched). Conflict posture = overwrite's: the computed
    * per-file state is stale after a lost race, so abort and re-run.
    */
  def delete(spark: SparkSession, dir: String,
             predicate: org.apache.spark.sql.Column,
             maxDeletedRows: Long = 1000000L): Long = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    require(maxDeletedRows > 0, "maxDeletedRows must be positive")
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val snap = DeltaRead.snapshot(spark, dir)
    if (snap.files.isEmpty) return snap.version
    val qualToRel = snap.files.map { case (rel, _, _) =>
      fs.makeQualified(new Path(table, rel)).toUri.getPath -> rel
    }.toMap
    val paths = snap.files.map { case (rel, _, _) =>
      new Path(table, rel).toString }
    val matched = spark.read.option("basePath", table.toString)
      .parquet(paths: _*)
      .select(col("*"), col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__ri"))
      .where(predicate)
      .select("__fp", "__ri")
      .localCheckpoint() // guard count + per-file collect share it
    val n = matched.count()
    require(n <= maxDeletedRows,
      s"delete matched $n rows > maxDeletedRows=$maxDeletedRows — DVs are " +
        "the SPARSE delete path; overwrite with the filtered table instead")
    if (n == 0) return snap.version
    val perFile = matched.groupBy("__fp")
      .agg(sort_array(collect_list("__ri")).as("ris"))
      .collect()
    val ts = System.currentTimeMillis()
    val byRel = snap.files.map { case t3 @ (rel, _, _) => rel -> t3 }.toMap
    val actions = perFile.flatMap { r =>
      val fp = r.getString(0)
      val key = try new java.net.URI(fp).getPath catch {
        case _: java.net.URISyntaxException => fp
      }
      val rel = qualToRel.getOrElse(key,
        throw new IllegalStateException(s"matched file $fp not in snapshot"))
      val fresh = r.getSeq[Long](1)
      // union with the file's existing DV: previously-deleted rows stay
      // deleted, re-matches collapse
      val old = snap.dvs.get(rel).toSeq.flatMap { d =>
        DeltaDv.parseBitmapArray(
            DeltaDv.loadBitmapBytes(fs, table, d))
          .zipWithIndex.flatMap { case (m, h) =>
            val vs: Array[Int] = m.toArray
            vs.map(v => (h.toLong << 32) | (v & 0xffffffffL)).toSeq
          }.toSeq
      }
      val all = (old ++ fresh).distinct.sorted
      val d = DeltaDv.writeDvFile(fs, table, all)
      val (_, pv, size) = byRel(rel)
      Seq(removeLine(rel, ts),
        addDvLine(rel, pv, size, snap.modTimes.getOrElse(rel, ts), d))
    }
    val v = snap.version + 1
    try commit(spark, table, v, dvProtoLine +: actions.toSeq)
    catch {
      case c: CommitConflict =>
        throw new java.util.ConcurrentModificationException(
          s"delete on $dir lost the commit race at version ${c.version}" +
            " — the per-file DV state is stale; re-run against fresh state")
    }
    v
  }

  /** OPTIMIZE-style compaction: rewrite the current state into one file
    * per hive partition (or `numFiles` for an unpartitioned table) and
    * commit the rewrite with `dataChange=false` on every add/remove — the
    * protocol's signal that the commit rearranges bytes without changing
    * rows, so change-feed/streaming readers skip it. The streaming sink's
    * one-file-per-micro-batch accumulation is the intended customer.
    * Old files stay on disk for time travel until [[vacuum]].
    *
    * `zorderBy` (OPTIMIZE ... ZORDER BY): cluster the rewrite on the
    * Morton curve over the named columns ([[Layout.zorderKey]]) —
    * range-partitioned into `numFiles` so the curve is contiguous per
    * file and parquet min/max stats prune on EVERY z-ordered column, not
    * just a lead sort key. Unpartitioned tables only (a hive-partitioned
    * table already clusters on its partition values; z-ordering within
    * one-file-per-partition rewrites would reorder rows invisibly).
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 1,
              zorderBy: Seq[String] = Nil): Long = {
    require(numFiles >= 1)
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val snap = DeltaRead.snapshot(spark, dir)
    require(zorderBy.isEmpty || snap.partitionColumns.isEmpty,
      "zorderBy requires an unpartitioned table")
    val df = DeltaRead.read(spark, dir)
    val compacted =
      if (zorderBy.nonEmpty) {
        import org.apache.spark.sql.functions.col
        df.withColumn("__z", Layout.zorderKey(df, zorderBy))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      } else if (snap.partitionColumns.nonEmpty)
        // all rows of a hive partition land in one task → one file each
        df.repartition(snap.partitionColumns.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(numFiles)
    val stage = new Path(table, s".stage-${java.util.UUID.randomUUID}")
    val w = compacted.write.mode("overwrite")
    (if (snap.partitionColumns.nonEmpty)
       w.partitionBy(snap.partitionColumns: _*)
     else w).parquet(stage.toString)
    val staged = listDataFiles(spark, stage)
    val ts = System.currentTimeMillis()
    val moved = staged.map { case (rel, pv, size, _) =>
      val from = new Path(stage, rel)
      val to = new Path(table, rel)
      fs.mkdirs(to.getParent)
      require(fs.rename(from, to), s"rename $from -> $to failed")
      (rel, pv, size)
    }
    fs.delete(stage, true)
    val v = snap.version + 1
    try commit(spark, table, v,
      snap.files.map(f => removeLine(f._1, ts, dataChange = false)) ++
        moved.map { case (rel, pv, size) =>
          addLine(rel, pv, size, ts, dataChange = false) })
    catch {
      case c: CommitConflict =>
        // the rewrite no longer represents the live state — abort; the
        // staged rewrite files stay orphaned until vacuum
        throw new java.util.ConcurrentModificationException(
          s"compaction of $dir lost the commit race at version ${c.version}" +
            " — re-run compact against fresh state")
    }
    v
  }

  /** Delete data files that are NOT in the current live set and whose
    * modification time is older than `retainMs` (Delta's vacuum contract:
    * tombstoned files serve time travel until retention expires; after
    * vacuum, pre-compaction/overwrite versions stop being readable).
    * Returns the number of files deleted. Never touches `_delta_log`.
    */
  def vacuum(spark: SparkSession, dir: String,
             retainMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    val snap = DeltaRead.snapshot(spark, dir)
    val live = snap.files.map { case (rel, _, _) =>
      try new java.net.URI(rel).getPath catch {
        case _: java.net.URISyntaxException => rel
      }
    }.toSet
    val cutoff = System.currentTimeMillis() - retainMs
    val victims = listDataFiles(spark, table).filter { case (rel, _, _, mtime) =>
      !live.contains(rel) && mtime < cutoff
    }
    victims.foreach { case (rel, _, _, _) =>
      fs.delete(new Path(table, rel), false) }
    victims.size
  }

  /** Write a single-file parquet checkpoint of the CURRENT state (live
    * adds + metaData + protocol + per-app txn watermarks) at the latest
    * version, plus the `_last_checkpoint` pointer. After checkpointing,
    * [[cleanLog]] may delete older commit JSONs — the reader seeds from
    * the checkpoint and replays only the tail. This is what keeps the
    * streaming sink's one-commit-per-micro-batch log O(recent), not
    * O(lifetime): replay cost stops growing with table age.
    */
  def checkpoint(spark: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val snap = DeltaRead.snapshot(spark, dir)
    val table = new Path(dir)
    val fs = fsOf(spark, table)
    // modificationTime carried from the log's add actions — the protocol
    // lists it required in add, and strict third-party readers seeding
    // from this checkpoint (after cleanLog) may reject its absence.
    // deletionVector descriptors ride along when live files carry them
    // (a checkpoint that dropped them would resurrect deleted rows for
    // readers seeding from it); the protocol row carries the log's own
    // latest protocol action (see below).
    val dvT = StructType(Seq(StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvT)))
    val metaT = StructType(Seq(StructField("id", StringType),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))
    val protoT = StructType(Seq(StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val txnT = StructType(Seq(StructField("appId", StringType),
      StructField("version", LongType)))
    val ckptT = StructType(Seq(StructField("add", addT),
      StructField("metaData", metaT), StructField("protocol", protoT),
      StructField("txn", txnT)))
    // carry the LOG's protocol verbatim — re-deriving it from live-DV
    // presence would downgrade a reader-features table (columnMapping,
    // timestampNtz) the moment its DVs compact away, and readers seeding
    // from the checkpoint after cleanLog would misread it. Only UPGRADE,
    // and only when live DV descriptors ride in this checkpoint on a
    // (non-conforming) log that never advertised them.
    val base = snap.protocol.getOrElse(DeltaRead.Protocol(1, 2, Nil, Nil))
    // A table-features protocol must enumerate EVERY feature in use,
    // including those a legacy version only implied — an upgraded
    // checkpoint listing nothing but deletionVectors would tell writers
    // to stop enforcing e.g. invariants (implied by writer v2). Seed the
    // lists from the legacy base per the spec's version→feature table;
    // a base already at table-features versions is authoritative as-is.
    def legacyWriterFeatures(w: Int): Seq[String] =
      Seq(2 -> Seq("appendOnly", "invariants"),
          3 -> Seq("checkConstraints"),
          4 -> Seq("generatedColumns", "changeDataFeed"),
          5 -> Seq("columnMapping"),
          6 -> Seq("identityColumns"))
        .filter(_._1 <= w).flatMap(_._2)
    def legacyReaderFeatures(r: Int): Seq[String] =
      if (r >= 2) Seq("columnMapping") else Nil
    val proto =
      if (snap.dvs.isEmpty) base
      else {
        val seededR =
          if (base.minReaderVersion >= 3) base.readerFeatures
          else legacyReaderFeatures(base.minReaderVersion)
        val seededW =
          if (base.minWriterVersion >= 7) base.writerFeatures
          else legacyWriterFeatures(base.minWriterVersion)
        DeltaRead.Protocol(
          math.max(3, base.minReaderVersion),
          math.max(7, base.minWriterVersion),
          (seededR :+ "deletionVectors").distinct,
          (seededW :+ "deletionVectors").distinct)
      }
    // features arrays exist only at table-features versions (reader ≥ 3 /
    // writer ≥ 7) — at legacy versions the fields must be absent
    val protoRow = Row(proto.minReaderVersion, proto.minWriterVersion,
      if (proto.minReaderVersion >= 3) proto.readerFeatures else null,
      if (proto.minWriterVersion >= 7) proto.writerFeatures else null)
    def dvRow(rel: String): Row = snap.dvs.get(rel).map { d =>
      Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
        d.sizeInBytes, d.cardinality)
    }.orNull
    val rows =
      Row(null, Row(java.util.UUID.randomUUID.toString, snap.schema.json,
        snap.partitionColumns, snap.configuration), null, null) +:
      Row(null, null, protoRow, null) +:
      snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v)) } ++:
      snap.files.map { case (rel, pv, size) =>
        Row(Row(rel, pv, size, snap.modTimes.getOrElse(rel, 0L), true,
          dvRow(rel)), null, null, null) }
    val stage = new Path(table, s".ckpt-${java.util.UUID.randomUUID}")
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), ckptT)
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new Path(new Path(table, "_delta_log"),
      f"${snap.version}%020d.checkpoint.parquet")
    require(fs.rename(part, dest), s"rename $part -> $dest failed")
    fs.delete(stage, true)
    val lastCp = new Path(new Path(table, "_delta_log"), "_last_checkpoint")
    val out = fs.create(lastCp, true)
    try out.write(
      s"""{"version":${snap.version},"size":${rows.size}}""".getBytes("UTF-8"))
    finally out.close()
    snap.version
  }

  /** Delete commit JSONs strictly below the newest checkpoint version (the
    * checkpoint seeds replay; the checkpoint version's own commit is kept,
    * so the log always has at least one commit file). Returns the number
    * of files removed.
    */
  def cleanLog(spark: SparkSession, dir: String): Int = {
    val logDir = new Path(dir, "_delta_log")
    val fs = fsOf(spark, logDir)
    val names = fs.listStatus(logDir).map(_.getPath.getName).toSeq
    val Ckpt = """(\d{20})\.checkpoint\.parquet""".r
    val Commit = """(\d{20})\.json""".r
    val cp = names.collect { case Ckpt(v) => v.toLong }
    if (cp.isEmpty) return 0
    val bound = cp.max
    val victims = names.collect { case n @ Commit(v) if v.toLong < bound => n }
    victims.foreach(n => fs.delete(new Path(logDir, n), false))
    victims.size
  }

  def overwrite(df: DataFrame, dir: String,
                partitionColumns: Seq[String] = Nil): Long =
    write(df, dir, overwrite = true, partitionColumns)

  def append(df: DataFrame, dir: String,
             partitionColumns: Seq[String] = Nil,
             txn: Option[(String, Long)] = None): Long =
    write(df, dir, overwrite = false, partitionColumns, txn)

  /** Structured-Streaming sink: append each micro-batch as one Delta
    * commit, carrying `(appId, batchId)` as the txn action so a REPLAYED
    * batch (restart from checkpoint before the offset commit) is a no-op
    * — the same exactly-once recipe as Delta's own streaming sink. Pair
    * with the query's checkpointLocation; `appId` must be stable per
    * query (default: the checkpoint's logical identity, passed by caller).
    */
  def foreachBatchSink(dir: String, appId: String,
                       partitionColumns: Seq[String] = Nil)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) =>
      append(batch.toDF(), dir, partitionColumns, Some((appId, batchId)))
}
