package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer

/** Manifest-committed, snapshot-isolated lake tables over plain parquet —
  * the Delta-style semantics the reference relies on (it writes Delta for
  * every zone: `adls_bikeshare_project_IsmaelDawuda.ipynb:264,982,1593`)
  * rebuilt on nothing but a Hadoop filesystem, since Delta jars are out of
  * scope here.
  *
  * Layout per table (`<root>/<zone>/<table>/`):
  * {{{
  *   data/<commit-uuid>/[__gp_<col>=<value>/...]   immutable data dirs
  *   _manifests/v00000001.manifest                 snapshot definitions
  * }}}
  *
  * A snapshot IS a manifest file: a header naming the partition columns
  * (and, since round 6, the snapshot's schema and any streaming writers'
  * batch watermarks), then one line per `(partitionKey, dataDir)`.
  * COMMIT = write the manifest under a temp name, then atomically publish
  * it as `v<N>.manifest` — server-side atomic rename on HDFS/ABFS,
  * `link(2)` create-if-absent on local filesystems (see
  * [[commitManifest]]) — so of two racing commits for the
  * same version exactly one wins and the loser retries against the new
  * snapshot — the same optimistic concurrency Delta gets from its commit
  * log. The CURRENT version is simply the highest manifest present; there
  * is no second mutable pointer file that could crash out of sync with the
  * log (resolution costs one directory listing — on an object store, one
  * LIST call).
  *
  * Readers resolve a manifest once, then read only the immutable data dirs
  * it references: a concurrent commit cannot disturb an in-flight reader
  * (snapshot isolation — an overwrite of plain parquet files cannot give
  * that), and any retained older version reads the same way (time travel).
  * [[vacuum]] derives liveness from the retained manifests, never from
  * directory listings, exactly like Delta VACUUM.
  *
  * Partition-scoped maintenance: [[upsert]] / [[mergeAggregate]] write new
  * data dirs only for the partitions the batch touches and carry every
  * other partition's manifest entry forward VERBATIM — a one-key upsert on
  * a 100 TB table moves one partition of data and zero bytes of the rest
  * (not even a file copy; the old dirs are re-referenced).
  *
  * Partition columns are duplicated into shadow path columns
  * (`__gp_<col>=<value>/`) so the real column stays inside the data files:
  * a manifest reader just unions leaf dirs and never re-derives values from
  * paths. Partition values must be non-null and path-safe (no `/ = : \n`),
  * the normal shape for date/region/source partitions; keys must be
  * partition-stable (a key never moves partitions between batches).
  */
object VersionedLake {
  /** One snapshot line: which data dir holds which partition. `key` is the
    * `/`-joined partition values ("" for an unpartitioned table); `dir` is
    * relative to the table path and immutable once committed. `stats` is a
    * one-line JSON object of per-column min/max/non-null counts over the
    * dir's rows — the data-skipping index (Delta keeps the same stats in
    * its commit log). Every commit writes it; only lines of manifests
    * older than the index lack it. Entries carried forward by
    * partition-scoped maintenance keep it verbatim, so the index never
    * needs a rebuild for untouched data.
    */
  final case class Entry(key: String, dir: String,
                         stats: Option[String] = None)

  /** `txns` maps a streaming writer's appId to the last batch id it
    * committed ([[VersionedLake.mergeAggregate]]'s `txn`, Delta's `txn`
    * action): written by the same commit as the batch's data, so a
    * replayed batch sees its own watermark exactly when its data landed.
    */
  final case class Manifest(version: Int, partitionCols: Seq[String],
                            entries: Seq[Entry],
                            schemaJson: Option[String] = None,
                            txns: Map[String, Long] = Map.empty)

  /** Put-if-absent publish on a `file:` filesystem: hard-links `tmp` to
    * `dest` with `link(2)`, which fails atomically in the kernel when
    * `dest` exists (POSIX rename(2), what Hadoop's local rename compiles
    * down to, silently clobbers it). Returns false when `dest` exists; the
    * caller removes `tmp` either way.
    */
  private[graft] def linkIfAbsent(dest: java.nio.file.Path,
                                  tmp: java.nio.file.Path): Boolean =
    try { java.nio.file.Files.createLink(dest, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** A racing writer committed the version this writer computed against.
    * Retryable by construction: recompute against the new current snapshot
    * and commit again (what [[VersionedLake.upsert]] does internally).
    */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)
}

final case class VersionedLake(root: String) {
  import VersionedLake.{Entry, Manifest}

  private def clean(s: String) = s.stripSuffix("/")

  def tablePath(zone: String, table: String): String =
    s"${clean(root)}/$zone/$table"

  private def manifestsDir(t: String) = new Path(s"$t/_manifests")

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private val ManifestName = """v(\d{8})\.manifest""".r

  /** All committed versions, ascending. Empty = table absent. */
  def versions(spark: SparkSession, zone: String, table: String): Seq[Int] = {
    val mdir = manifestsDir(tablePath(zone, table))
    val fs = fsFor(spark, mdir)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(n) => n.toInt
    }.sorted
  }

  def currentVersion(spark: SparkSession, zone: String, table: String): Int =
    versions(spark, zone, table).lastOption.getOrElse(0)

  private def manifestPath(t: String, version: Int): Path =
    new Path(manifestsDir(t), f"v$version%08d.manifest")

  private def readManifest(spark: SparkSession, t: String,
                           version: Int): Manifest = {
    val p = manifestPath(t, version)
    val fs = fsFor(spark, p)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n", -1).filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.startsWith("cols="),
      s"malformed manifest $p")
    val cols = lines.head.stripPrefix("cols=") match {
      case "" => Nil
      case s  => s.split(",", -1).toSeq
    }
    // Optional headers: the committed snapshot's full schema, so readers
    // never derive one from data files, then one `txn=<appId>\t<batchId>`
    // line per streaming writer. No entry line starts with either: keys
    // hold no raw `=` (escaped path values), an unpartitioned one is "".
    val (header, entryLines) = lines.tail.toSeq
      .span(l => l.startsWith("schema=") || l.startsWith("txn="))
    val schemaJson = header.find(_.startsWith("schema=")).map(_.stripPrefix("schema="))
    val txns = header.filter(_.startsWith("txn=")).map { l =>
      val Array(app, batch) = l.stripPrefix("txn=").split("\t", 2)
      app -> batch.toLong
    }.toMap
    val entries = entryLines.map { l =>
      // Optional trailing fields: `stats=<json>`, and on lines from older
      // manifests a `bloom=<relpath>` sidecar reference, which is ignored.
      // Split them off first: the markers can't occur inside key or dir
      // (generated paths; JSON string escaping means the stats field never
      // holds a raw tab), and pre-stats lines parse exactly as before.
      val fields = l.split("\t(?=(stats|bloom)=)", -1)
      val i = fields.head.lastIndexOf('\t')
      Entry(fields.head.substring(0, i), fields.head.substring(i + 1),
        fields.tail.find(_.startsWith("stats=")).map(_.stripPrefix("stats=")))
    }
    Manifest(version, cols, entries, schemaJson, txns)
  }

  /** Atomic commit: temp write + atomic publish-if-absent. Exactly one of
    * two racing commits for `version` succeeds; the loser throws.
    *
    * The publish primitive is scheme-dependent: on HDFS/ABFS,
    * rename-to-absent-destination is SERVER-SIDE atomic, so `fs.rename` is
    * the claim. Hadoop's LOCAL filesystem rename, however, is
    * check-then-`File.renameTo` — a TOCTOU window in which two racers both
    * "succeed", the second silently replacing the first's manifest (POSIX
    * rename overwrites). For `file:` the atomic create-if-absent primitive
    * is `link(2)`: hard-linking the temp file to the destination fails
    * EEXIST atomically in the kernel. The two-writer race in
    * VersionedLakeSpec caught exactly this.
    */
  private[graft] def commitManifest(spark: SparkSession, t: String,
                                    version: Int,
                                    partitionCols: Seq[String],
                                    entries: Seq[VersionedLake.Entry],
                                    schemaJson: Option[String],
                                    txns: Map[String, Long]): Unit = {
    require(partitionCols.forall(c => !c.contains(",") && !c.contains("\n")))
    require(schemaJson.forall(!_.contains("\n")), "schema JSON must be one line")
    require(txns.keys.forall(a => !a.contains("\t") && !a.contains("\n")),
      "txn appIds must be one tab-free line each")
    val mdir = manifestsDir(t)
    val fs = fsFor(spark, mdir)
    fs.mkdirs(mdir)
    require(entries.forall(_.stats.forall(s => !s.contains("\n") && !s.contains("\t"))),
      "entry stats must be one tab-free line each")
    val body = (Seq(s"cols=${partitionCols.mkString(",")}") ++
      schemaJson.map(s => s"schema=$s") ++
      txns.toSeq.sorted.map { case (app, batch) => s"txn=$app\t$batch" } ++
      entries.map(e => s"${e.key}\t${e.dir}" +
        e.stats.fold("")(s => s"\tstats=$s"))).mkString("", "\n", "\n")
    val tmp = new Path(mdir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = manifestPath(t, version)
    val won =
      if (fs.getScheme == "file")
        VersionedLake.linkIfAbsent(java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      else fs.rename(tmp, dst)
    if (fs.getScheme == "file" || !won) fs.delete(tmp, false)
    if (!won)
      throw new VersionedLake.CommitConflictException(
        s"concurrent commit lost the race for $dst — retry on the new snapshot")
  }

  private val MaxCommitAttempts = 5

  /** Optimistic-concurrency loop: run `body` (one read-merge-commit
    * attempt); when its commit loses the rename race, recompute from the
    * NEW current snapshot and try again, up to `maxAttempts`. The merge
    * semantics make retries safe: an attempt re-reads the current manifest,
    * so the winner's rows are folded into the loser's next try (Delta's
    * MERGE conflict behavior). A lost attempt's data dirs are orphans that
    * [[vacuum]] sweeps. The last attempt's conflict propagates.
    */
  private[graft] def retryingCommit[T](maxAttempts: Int)(body: => T): T = {
    require(maxAttempts >= 1, "need at least one attempt")
    var attempt = 1
    while (attempt < maxAttempts) {
      try return body
      catch { case _: VersionedLake.CommitConflictException => attempt += 1 }
    }
    body
  }

  private def newCommitDir() = s"data/commit-${java.util.UUID.randomUUID()}"

  /** Write `df` as a new data commit under `t/data/<uuid>/` and return the
    * manifest entries it produced. Partitioned tables write through shadow
    * string columns (`__gp_<col>`) so the real columns stay in the files;
    * the entry key for each leaf dir is recovered from the directory names
    * Spark wrote. An empty `df` pins its schema with one empty part file
    * (repartition(1) forces a single write task) so an emptied table stays
    * readable.
    */
  private def writeDataCommit(t: String, df: DataFrame,
                              partitionCols: Seq[String],
                              sliceBy: Option[org.apache.spark.sql.Column] = None,
                              rel: String = newCommitDir()): Seq[Entry] = {
    val spark = df.sparkSession
    val dest = s"$t/$rel"
    // `sliceBy` adds a synthetic trailing shadow dir: several dirs PER
    // partition key (the Z-range slices of optimizeZOrder), each its own
    // entry with its own skipping stats. The slice value never appears in
    // the entry key — downstream key matching is untouched.
    val pShadows = partitionCols.map(c => s"__gp_$c")
    val shadows = pShadows ++ sliceBy.map(_ => "__gp__zs").toSeq
    val bare: Seq[Entry] = if (shadows.isEmpty) {
      val out = if (df.isEmpty) df.repartition(1) else df
      out.write.parquet(dest)
      Seq(Entry("", rel))
    } else {
      val shadowVals = partitionCols.map(c => col(c).cast("string")) ++
        sliceBy.map(_.cast("string")).toSeq
      df.select(df.columns.map(col).toSeq ++
          shadows.zip(shadowVals).map { case (s, c) => c.as(s) }: _*)
        .write.partitionBy(shadows: _*).parquet(dest)
      // Recover (partitionKey → leaf dir) from what Spark laid down.
      val base = new Path(dest)
      val fs = fsFor(spark, base)
      def leaves(p: Path, depth: Int): Seq[(String, Path)] =
        if (depth == 0) Seq(("", p))
        else fs.listStatus(p).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .flatMap { s =>
            val v = s.getPath.getName.split("=", 2)(1)
            leaves(s.getPath, depth - 1).map { case (k, leaf) =>
              (if (k.isEmpty) v else s"$v/$k", leaf)
            }
          }
      leaves(base, shadows.length).map { case (key, leaf) =>
        require(!key.contains("__HIVE_DEFAULT_PARTITION__"),
          "null partition values are not supported")
        val entryKey =
          if (sliceBy.isEmpty) key
          else key.split("/", -1).dropRight(1).mkString("/")
        Entry(entryKey, leaf.toUri.getPath
          .stripPrefix(new Path(t).toUri.getPath).stripPrefix("/"))
      }
    }
    // One re-scan of only the new data builds the skipping index, keyed by
    // dir (unique even when slices share a partition key).
    val stats = entryStats(spark, dest, rel, df.schema, shadows)
    bare.map(e => e.copy(stats = stats.get(e.dir)))
  }

  /** Full-snapshot write: a new data commit replacing every partition.
    * Retries under a commit race (replace-all semantics are
    * version-independent, so a retry just re-commits at the next slot).
    */
  def write(df: DataFrame, zone: String, table: String,
            partitionCols: Seq[String] = Nil): Int = retryingCommit(MaxCommitAttempts) {
    val spark = df.sparkSession
    val t = tablePath(zone, table)
    val entries = writeDataCommit(t, df, partitionCols)
    val cur = currentVersion(spark, zone, table)
    val txns = if (cur == 0) Map.empty[String, Long] else readManifest(spark, t, cur).txns
    commitManifest(spark, t, cur + 1, partitionCols, entries, Some(df.schema.json), txns)
    cur + 1
  }

  /** Append `df` as ONE snapshot commit: a new data commit whose entries
    * publish after every current entry, so a reader sees all of the
    * appended rows or none of them. Partitioning and schema come from the
    * manifest; an absent table is created unpartitioned with `df`'s
    * schema. Every appended column must be a table column of the same
    * type (a table column `df` lacks reads back NULL for its rows). The
    * data is written once; a lost commit race only re-reads the new
    * current manifest and re-publishes (an append commutes with whatever
    * won). Returns the committed version. An append of no rows to an
    * existing table publishes nothing (its row count comes from the new
    * entries' stats) and returns the current version.
    */
  def append(df: DataFrame, zone: String, table: String): Int = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val spark = df.sparkSession
    val t = tablePath(zone, table)
    def current(): Manifest = {
      val cur = currentVersion(spark, zone, table)
      val m =
        if (cur == 0) Manifest(0, Nil, Nil, Some(df.schema.json))
        else readManifest(spark, t, cur)
      for (json <- m.schemaJson) {
        val schema = DataType.fromJson(json).asInstanceOf[StructType]
        for (f <- df.schema) {
          val have = schema.find(_.name == f.name)
          require(have.exists(_.dataType == f.dataType),
            s"append column ${f.name} ${f.dataType.simpleString} does not fit " +
              s"$zone/$table: " + have.fold("no such column")(_.dataType.simpleString))
        }
      }
      m
    }
    val before = current()
    val partitionCols = before.partitionCols
    val rel = newCommitDir()
    val added = writeDataCommit(t, df, partitionCols, rel = rel)
    if (before.version > 0 && added.forall(rowCount(_).contains(0L))) {
      fsFor(spark, new Path(t)).delete(new Path(s"$t/$rel"), true)
      return currentVersion(spark, zone, table)
    }
    retryingCommit(MaxCommitAttempts) {
      val m = current()
      require(m.partitionCols == partitionCols,
        s"$zone/$table was repartitioned by ${m.partitionCols} during the append")
      val v = m.version + 1
      commitManifest(spark, t, v, partitionCols, m.entries ++ added, m.schemaJson, m.txns)
      v
    }
  }

  private val RowCount = """^\{"rc":(\d+)""".r.unanchored

  /** An entry's row count, from its skipping stats. */
  private def rowCount(e: Entry): Option[Long] =
    e.stats.collect { case RowCount(n) => n.toLong }

  /** Refuses a commit whose schema gives a column of the snapshot `m`
    * another type (nullability aside): carried data files keep the old
    * type, so the new snapshot would no longer read. New columns pass.
    * Driver-only: no job, no filesystem call.
    */
  private def requireNoRetype(m: Manifest, committed: org.apache.spark.sql.types.StructType,
                              zone: String, table: String, op: String): Unit =
    for (json <- m.schemaJson) {
      val schema = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      for (f <- committed; have <- schema.find(_.name == f.name))
        require(org.apache.spark.sql.catalyst.types.DataTypeUtils
            .sameType(have.dataType, f.dataType),
          s"$op would retype $zone/$table column ${f.name} from " +
            s"${have.dataType.simpleString} to ${f.dataType.simpleString}")
    }

  /** Read a snapshot — the current one, or any retained `version` (time
    * travel). Resolves the manifest once; the returned plan touches only
    * that snapshot's immutable dirs, so later commits can't disturb it.
    */
  def read(spark: SparkSession, zone: String, table: String,
           version: Option[Int] = None): DataFrame = {
    val m = resolveManifest(spark, zone, table, version)
    require(m.entries.nonEmpty, s"empty manifest v${m.version} for $zone/$table")
    readDirs(spark, tablePath(zone, table), m.entries, m.schemaJson)
  }

  /** Read a set of manifest data dirs under the snapshot's committed
    * schema: columns a later commit ADDED read back as NULL from older
    * data dirs (parquet pads missing columns), and the schema is
    * deterministic — no dependence on which file Spark samples, and no
    * `mergeSchema` footer sweep over the whole table (which at 100 TB
    * reads every file's footer just to plan). Pre-schema-header manifests
    * fall back to merging footers (correct, just not O(1) in planning).
    */
  private def readDirs(spark: SparkSession, t: String,
                       entries: Seq[Entry],
                       schemaJson: Option[String]): DataFrame = {
    val paths = entries.map(e => s"$t/${e.dir}")
    schemaJson match {
      case Some(json) =>
        val schema = org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  // ---------------------------------------------------------------- stats

  /** Columns eligible for min/max skipping stats: atomic orderable types.
    * Arrays/structs/maps/binary carry no stats (entries always "could
    * match" on them).
    */
  private def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | StringType | DateType | TimestampType |
           BooleanType => true
      case _ => false
    }
  }

  /** Strings longer than this carry NO min/max rather than a truncated one:
    * a truncated max is not an upper bound, so truncation could prune a dir
    * that actually matches (Delta instead widens the truncated max; dropping
    * the stat is equally safe and simpler). Non-null counts always persist.
    */
  private val MaxStatsStringLen = 64

  private def quoted(name: String) = col(s"`$name`")

  /** to_json/from_json options for stats: UTC and full microsecond
    * precision. The default timestamp format keeps only milliseconds —
    * a max truncated by 999 µs could wrongly prune a dir holding a row
    * inside the truncated window.
    */
  private val statsJsonOpts = Map(
    "timeZone" -> "UTC",
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  private def statFieldsOf(schema: org.apache.spark.sql.types.StructType) =
    schema.fields.filter(f => statsEligible(f.dataType) &&
      !f.name.contains("`")).toSeq

  private def statAggs(schema: org.apache.spark.sql.types.StructType): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types.StringType
    val per = statFieldsOf(schema).flatMap { f =>
      val c = quoted(f.name)
      val (mn, mx) = f.dataType match {
        case StringType =>
          (when(length(min(c)) <= MaxStatsStringLen, min(c)),
           when(length(max(c)) <= MaxStatsStringLen, max(c)))
        case _ => (min(c), max(c))
      }
      Seq(mn.as(s"min__${f.name}"), mx.as(s"max__${f.name}"),
          count(c).as(s"nn__${f.name}"))
    }
    count(lit(1)).as("rc") +: per
  }

  private def statsSchema(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(StructField("rc", LongType) +: statFieldsOf(schema).flatMap { f =>
      Seq(StructField(s"min__${f.name}", f.dataType),
          StructField(s"max__${f.name}", f.dataType),
          StructField(s"nn__${f.name}", LongType))
    })
  }

  /** The relative data-dir path for a grouped row of shadow values —
    * byte-matching `Entry.dir` (escaped directory names Spark wrote).
    * Shadow columns must be read back under an explicit StringType schema
    * so `month='01'` can never re-infer as int.
    */
  private def dirColOf(rel: String, shadows: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val esc = udf((s: String) => ExternalCatalogUtils.escapePathName(s))
    if (shadows.isEmpty) lit(rel)
    else concat_ws("/", lit(rel) +: shadows.map(s =>
      concat(lit(s + "="), esc(quoted(s)))): _*)
  }

  /** Per-dir skipping stats for a freshly written commit: ONE scan of the
    * new data (grouped by the shadow partition dirs), one driver-bounded
    * row per written dir, keyed by the dir's relative path.
    */
  private def entryStats(spark: SparkSession, dest: String, rel: String,
                         dataSchema: org.apache.spark.sql.types.StructType,
                         shadows: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val readSchema = StructType(dataSchema.fields ++
      shadows.map(s => StructField(s, StringType)))
    val df = spark.read.schema(readSchema).parquet(dest)
    val aggs = statAggs(dataSchema)
    val grouped =
      if (shadows.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(shadows.map(quoted): _*).agg(aggs.head, aggs.tail: _*)
    val statCols = grouped.columns.filterNot(shadows.contains).toSeq
    grouped.select(dirColOf(rel, shadows).as("__dir"),
        to_json(struct(statCols.map(quoted): _*), statsJsonOpts).as("__stats"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Resolve `predicate` against the snapshot's schema by analyzing a
    * filter over an empty relation: names resolve with Spark's own
    * case-sensitivity rules and type coercion inserts the exact casts the
    * real scan would use. An unresolvable predicate (unknown column, type
    * error) returns None — callers then skip pruning and let the real read
    * surface the error.
    */
  private def resolvedPredicate(spark: SparkSession,
                                schema: org.apache.spark.sql.types.StructType,
                                predicate: org.apache.spark.sql.Column): Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    try {
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .where(predicate).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Rewrite a RESOLVED read predicate into a conservative "this dir COULD
    * hold a matching row" test over an entry's stats struct `st`. Unknown
    * shapes, missing stats, and evolved columns all collapse to TRUE (keep
    * the dir); pruning is only ever an optimization, never a filter.
    */
  private def couldMatch(pred: org.apache.spark.sql.catalyst.expressions.Expression,
                         schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.types.{DataType, StringType}
    val tracked = statFieldsOf(schema).map(_.name).toSet
    def st(field: String) = col("st").getField(field)
    // A stats reference, upcast when coercion wrapped the column side (an
    // upcast is monotone and injective, so min/max commute with it).
    final case class Ref(name: String, castTo: Option[DataType]) {
      private def c(x: org.apache.spark.sql.Column) = castTo.fold(x)(x.cast)
      def mn = c(st(s"min__$name"))
      def mx = c(st(s"max__$name"))
      def nn = st(s"nn__$name")
    }
    def attr(e: Expression): Option[Ref] = e match {
      case a: AttributeReference if tracked(a.name) => Some(Ref(a.name, None))
      case Cast(a: AttributeReference, dt, _, _)
          if tracked(a.name) && Cast.canUpCast(a.dataType, dt) =>
        Some(Ref(a.name, Some(dt)))
      case _ => None
    }
    // Coercion may wrap the literal side in a foldable cast; evaluate it.
    def asLit(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.foldable =>
        try Some(Literal.create(c.eval(InternalRow.empty), c.dataType))
        catch { case _: Exception => None }
      case _ => None
    }
    object L { def unapply(e: Expression): Option[Literal] = asLit(e) }
    val keep = lit(true)
    def lc(l: Literal) = ColumnShim.column(l)
    // nn>0 guard: a dir whose column is entirely NULL matches no comparison.
    // `nn > 0 && <null stat>` evaluates to false/null → coalesce keeps only
    // genuinely-unknown cases.
    def cmp(x: Expression, l: Literal)(f: Ref => org.apache.spark.sql.Column) =
      attr(x).map(r => coalesce(r.nn > 0 && f(r), keep)).getOrElse(keep)
    def rw(e: Expression): org.apache.spark.sql.Column = e match {
      case And(a, b) => rw(a) && rw(b)
      case Or(a, b)  => rw(a) || rw(b)
      case EqualTo(x, L(l)) =>
        cmp(x, l)(r => lc(l) >= r.mn && lc(l) <= r.mx)
      case EqualTo(L(l), x) => rw(EqualTo(x, l))
      case EqualNullSafe(x, L(l)) =>
        if (l.value == null)
          attr(x).map(r => coalesce(st("rc") > r.nn, keep)).getOrElse(keep)
        else rw(EqualTo(x, l))
      case EqualNullSafe(L(l), x) => rw(EqualNullSafe(x, l))
      case GreaterThan(x, L(l)) => cmp(x, l)(r => r.mx > lc(l))
      case GreaterThan(L(l), x) => rw(LessThan(x, l))
      case GreaterThanOrEqual(x, L(l)) => cmp(x, l)(r => r.mx >= lc(l))
      case GreaterThanOrEqual(L(l), x) => rw(LessThanOrEqual(x, l))
      case LessThan(x, L(l)) => cmp(x, l)(r => r.mn < lc(l))
      case LessThan(L(l), x) => rw(GreaterThan(x, l))
      case LessThanOrEqual(x, L(l)) => cmp(x, l)(r => r.mn <= lc(l))
      case LessThanOrEqual(L(l), x) => rw(GreaterThanOrEqual(x, l))
      case In(x, ls) if ls.nonEmpty && ls.forall(asLit(_).isDefined) =>
        ls.map(l => rw(EqualTo(x, asLit(l).get))).reduce(_ || _)
      case InSet(x, vs) if vs.nonEmpty && attr(x).isDefined =>
        // InSet holds catalyst-internal values; route through Literal so
        // comparisons stay in Spark's own type semantics.
        vs.toSeq.map(v => rw(EqualTo(x, Literal(v, x.dataType)))).reduce(_ || _)
      case IsNull(x) =>
        attr(x).map(r => coalesce(st("rc") > r.nn, keep)).getOrElse(keep)
      case IsNotNull(x) =>
        attr(x).map(r => coalesce(r.nn > 0, keep)).getOrElse(keep)
      case Not(EqualTo(x, L(l))) =>
        cmp(x, l)(r => !(r.mn === lc(l) && r.mx === lc(l)))
      case Not(EqualTo(L(l), x)) => rw(Not(EqualTo(x, l)))
      case StartsWith(x, L(l))
          if l.dataType == StringType && l.value != null =>
        val v = l.value.toString
        cmp(x, l)(r => substring(r.mn, 1, v.length) <= lit(v) &&
          substring(r.mx, 1, v.length) >= lit(v))
      case _ => keep
    }
    rw(pred)
  }

  /** The entries of a snapshot that could hold rows matching `predicate`,
    * by stats pruning. Entries without stats (lines of manifests written
    * before the index) are always kept. Exposed for observability —
    * `readWhere` is the reading API.
    */
  def candidateEntries(spark: SparkSession, zone: String, table: String,
                       predicate: org.apache.spark.sql.Column,
                       version: Option[Int] = None): Seq[VersionedLake.Entry] = {
    pruneEntries(spark, resolveManifest(spark, zone, table, version), predicate)
  }

  private def pruneEntries(spark: SparkSession, m: Manifest,
                           predicate: org.apache.spark.sql.Column): Seq[Entry] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val schema = m.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val (withS, withoutS) = m.entries.partition(_.stats.isDefined)
    if (schema.isEmpty || withS.isEmpty) return m.entries
    val resolved = resolvedPredicate(spark, schema.get, predicate)
    if (resolved.isEmpty) return m.entries
    import spark.implicits._
    // Manifest-local min/max stats: no IO beyond the manifest.
    val keep = withS.zipWithIndex.map { case (e, i) => (i, e.stats.get) }
      .toDF("__i", "__s")
      .select(col("__i"),
        from_json(col("__s"), statsSchema(schema.get), statsJsonOpts).as("st"))
      .where(couldMatch(resolved.get, schema.get))
      .select("__i").collect().map(_.getInt(0)).toSet
    withoutS ++ withS.zipWithIndex.collect { case (e, i) if keep(i) => e }
  }

  private def resolveManifest(spark: SparkSession, zone: String,
                              table: String, version: Option[Int]): Manifest = {
    val v = version.getOrElse {
      val cur = currentVersion(spark, zone, table)
      require(cur > 0, s"no committed snapshot for $zone/$table")
      cur
    }
    readManifest(spark, tablePath(zone, table), v)
  }

  /** The current manifest of a keyed writer ([[upsert]], [[mergeAggregate]])
    * declaring `partitionCols`; an absent table reads as an empty one.
    */
  private def currentManifest(spark: SparkSession, zone: String, table: String,
                         partitionCols: Seq[String]): Manifest = {
    val cur = currentVersion(spark, zone, table)
    val m =
      if (cur == 0) Manifest(0, partitionCols, Nil)
      else readManifest(spark, tablePath(zone, table), cur)
    require(m.version == 0 || m.partitionCols == partitionCols,
      s"table is partitioned by ${m.partitionCols}, not $partitionCols")
    m
  }

  /** `m`'s entries split into those of the partitions `df` touches and
    * those carried forward verbatim. Touched keys are canonicalized exactly
    * like entry keys (cast-to-string, '/'-joined); driver-bounded, one row
    * per partition.
    */
  private def splitTouched(m: Manifest, df: DataFrame): (Seq[Entry], Seq[Entry]) = {
    val touched: Set[String] =
      if (m.partitionCols.isEmpty) Set("")
      else df
        .select(concat_ws("/", m.partitionCols.map(c => col(c).cast("string")): _*))
        .distinct().collect().map(_.getString(0)).toSet
    m.entries.partition(e => touched.contains(e.key))
  }

  /** Data-skipping read: resolve the snapshot, DROP every data dir whose
    * manifest stats prove it can't satisfy `predicate`, and apply the
    * predicate to what remains (skipping is an optimization — the filter
    * still runs, and parquet row-group pruning still applies inside each
    * kept file). On a 100 TB table with date/id-clustered commits, a
    * point or range query plans a handful of dirs instead of all of them
    * — without listing or footer-reading the skipped ones.
    */
  def readWhere(spark: SparkSession, zone: String, table: String,
                predicate: org.apache.spark.sql.Column,
                version: Option[Int] = None): DataFrame = {
    val t = tablePath(zone, table)
    val m = resolveManifest(spark, zone, table, version)
    require(m.entries.nonEmpty, s"empty manifest for $zone/$table")
    val pruned = pruneEntries(spark, m, predicate)
    if (pruned.isEmpty)
      // schema-correct empty result; limit(0) collapses to an empty
      // relation before any file is touched
      readDirs(spark, t, m.entries, m.schemaJson).limit(0).where(predicate)
    else readDirs(spark, t, pruned, m.schemaJson).where(predicate)
  }

  /** MERGE-style keyed upsert: the greatest `versionCol` wins, incoming
    * rows win ties, and winning `deleteCol` rows drop their key (the flag
    * never persists; a `deleteCol` that names a stored column is refused).
    * Committed as a NEW SNAPSHOT: only touched partitions get new data
    * dirs; every untouched partition's entry is carried forward verbatim,
    * and readers of older versions are unaffected. Returns the committed
    * version.
    */
  def upsert(spark: SparkSession, zone: String, table: String,
             updates: DataFrame, key: String, versionCol: String,
             deleteCol: Option[String] = None,
             partitionCols: Seq[String] = Nil): Int = retryingCommit(MaxCommitAttempts) {
    import org.apache.spark.sql.expressions.Window
    val t = tablePath(zone, table)
    val manifest = currentManifest(spark, zone, table, partitionCols)
    val (touchedEntries, carried) = splitTouched(manifest, updates)
    val currentScoped =
      if (touchedEntries.isEmpty) None
      else Some(readDirs(spark, t, touchedEntries, manifest.schemaJson))
    for (d <- deleteCol; c <- currentScoped)
      require(!c.columns.contains(d),
        s"deleteCol '$d' collides with a persisted column of '$table'")
    val merged = currentScoped match {
      case Some(c) => c.withColumn("__src", lit(0))
        .unionByName(updates.withColumn("__src", lit(1)),
          allowMissingColumns = true)
      case None => updates.withColumn("__src", lit(1))
    }
    val w = Window.partitionBy(key)
      .orderBy(col(versionCol).desc, col("__src").desc)
    val winners = merged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    val alive = deleteCol match {
      case Some(d) =>
        winners.where(!(coalesce(col(d), lit(false)) && col("__src") === 1))
          .drop(d)
      case None => winners
    }
    val result = alive.drop("__rn", "__src")
    requireNoRetype(manifest, result.schema, zone, table, "upsert")
    // New dirs for surviving touched partitions; a fully-deleted partition
    // simply has no entry in the new manifest. Data dirs are immutable, so
    // no checkpoint pin is needed — we never overwrite what we read.
    val entries = carried ++ writeDataCommit(t, result, partitionCols)
    // Everything deleted → pin the schema with one empty unpartitioned dir
    // (key "" never matches a real partition key, so it just carries).
    val finalEntries =
      if (entries.nonEmpty) entries
      else writeDataCommit(t, result.limit(0), Nil)
    val v = manifest.version + 1
    // result.schema is the UNION of carried and new columns (unionByName
    // allowMissingColumns), so carried dirs read back with any column this
    // batch added (NULL-padded) instead of nondeterministically dropping it.
    commitManifest(spark, t, v, partitionCols, finalEntries,
      Some(result.schema.json), manifest.txns)
    v
  }

  /** Predicate DELETE committed as a new snapshot, rewriting ONLY the data
    * dirs whose skipping stats admit a match — the
    * GDPR-shaped operation: deleting one user from a 100 TB table reads
    * and rewrites the handful of dirs that can contain them; every other
    * entry is carried forward VERBATIM (same files, zero bytes moved), and
    * prior snapshots stay readable for time travel until vacuum retires
    * them. SQL DELETE null semantics: rows where the predicate is TRUE are
    * removed; FALSE and NULL rows survive.
    *
    * A delete whose predicate prunes to zero candidate dirs still commits
    * (an identical-entry snapshot) — the version history is the audit
    * record of the request. Returns the committed version.
    */
  def delete(spark: SparkSession, zone: String, table: String,
             predicate: org.apache.spark.sql.Column): Int =
    rewriteMatching(spark, zone, table, predicate, Set.empty)(
      _.where(!coalesce(predicate, lit(false))))

  /** Predicate UPDATE committed as a new snapshot — `set` maps column
    * names to replacement expressions, applied to rows where `predicate`
    * is TRUE (NULL/FALSE rows pass through untouched, SQL UPDATE
    * semantics). The same stats prune as [[delete]] bounds the
    * rewrite: only dirs that can hold matching rows are read and
    * rewritten; the rest carry verbatim. Updated columns cast back to
    * their declared dtype so the snapshot schema is invariant. Caveat:
    * only TYPE-incompatible assignments fail at analysis; a value-level
    * cast failure (e.g. the string 'abc' assigned to an int column) yields
    * NULL under non-ANSI semantics — enable `spark.sql.ansi.enabled`, or
    * validate with `try_cast` + a no-new-nulls check, if silent nulling is
    * unacceptable. Partition columns cannot be assigned — rows would silently
    * migrate between partition dirs; delete + re-insert is the explicit
    * form of that operation. Returns the committed version.
    */
  def update(spark: SparkSession, zone: String, table: String,
             predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Int = {
    require(set.nonEmpty, "update requires at least one assignment")
    rewriteMatching(spark, zone, table, predicate, set.keySet) { rows =>
      val schema = rows.schema
      set.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"unknown column '$c' in update assignment"))
      val hit = coalesce(predicate, lit(false))
      set.foldLeft(rows) { case (df, (c, expr)) =>
        df.withColumn(c,
          when(hit, expr.cast(schema(c).dataType)).otherwise(col(c)))
      }
    }
  }

  /** The commit shared by [[delete]] and [[update]]: the candidate dirs'
    * rows pass through `rewrite` into one data commit, the rest carry, and
    * a predicate that prunes every dir commits the identical entry set. A
    * rewrite that empties the table pins its schema with one empty dir, as
    * [[upsert]] does. `assigned` columns may not be partition columns.
    */
  private def rewriteMatching(spark: SparkSession, zone: String, table: String,
                              predicate: org.apache.spark.sql.Column,
                              assigned: Set[String])(
      rewrite: DataFrame => DataFrame): Int = retryingCommit(MaxCommitAttempts) {
    val t = tablePath(zone, table)
    val m = resolveManifest(spark, zone, table, None)
    require(m.entries.nonEmpty, s"empty manifest for $zone/$table")
    assigned.foreach { c =>
      require(!m.partitionCols.contains(c),
        s"cannot assign partition column '$c' — delete + re-insert moves " +
          "rows between partitions explicitly")
    }
    val candidates = pruneEntries(spark, m, predicate)
    val entries =
      if (candidates.isEmpty) m.entries
      else {
        val dirs = candidates.map(_.dir).toSet
        val rewritten = rewrite(readDirs(spark, t, candidates, m.schemaJson))
        val kept = m.entries.filterNot(e => dirs.contains(e.dir)) ++
          writeDataCommit(t, rewritten, m.partitionCols)
        if (kept.nonEmpty) kept
        else writeDataCommit(t, rewritten.limit(0), Nil)
      }
    commitManifest(spark, t, m.version + 1, m.partitionCols, entries,
      m.schemaJson, m.txns)
    m.version + 1
  }

  /** RESTORE: make a retained older snapshot current again by committing a
    * NEW version that references the old version's entries verbatim — the
    * rollback operation. Zero data movement (dirs are immutable and
    * shared), history is preserved (the bad versions stay readable for
    * forensics until vacuum), and concurrent committers race through the
    * usual first-wins manifest rename. Returns the committed version.
    */
  def restore(spark: SparkSession, zone: String, table: String,
              toVersion: Int): Int =
    retryingCommit(MaxCommitAttempts) {
      val t = tablePath(zone, table)
      val cur = currentVersion(spark, zone, table)
      require(toVersion >= 1 && toVersion <= cur,
        s"cannot restore $zone/$table to v$toVersion (current v$cur)")
      val m = readManifest(spark, t, toVersion)
      val v = cur + 1
      // a restore rolls back data, not the record of which batches the
      // writers committed: the current watermarks stay
      commitManifest(spark, t, v, m.partitionCols, m.entries, m.schemaJson,
        readManifest(spark, t, cur).txns)
      v
    }

  /** Incremental consumption cursor: the row-level changes between a
    * consumer's last-seen version and the CURRENT one, plus the new
    * cursor to persist — the polling CDC loop Delta serves with
    * `readChangeFeed` + `startingVersion`. A fresh consumer bootstraps
    * with `read(spark, zone, table, Some(v0))` and cursor `v0`; equal
    * cursor and current yields an empty (schema-correct) frame. The
    * cursor version must still be retained (vacuum governs how far back
    * consumers may lag).
    */
  def changesSince(spark: SparkSession, zone: String, table: String,
                   key: String, sinceVersion: Int): (Int, DataFrame) = {
    val cur = currentVersion(spark, zone, table)
    require(sinceVersion >= 1 && sinceVersion <= cur,
      s"cursor v$sinceVersion out of range for $zone/$table (current v$cur)")
    (cur, changes(spark, zone, table, key, sinceVersion, cur))
  }

  /** Change data feed: the row-level difference between two retained
    * snapshots, keyed by `key` — Delta's CDF surface recomputed from
    * snapshot structure instead of persisted change files.
    *
    * Scale path: a data dir referenced by BOTH manifests is bit-identical
    * (dirs are immutable and carried verbatim by partition-scoped
    * maintenance), so only dirs present in exactly one manifest are read —
    * a one-partition upsert on a 100 TB table diffs one partition, not the
    * table. Within the differing dirs, a full outer join on `key` labels
    * each key `insert` / `delete` / `update_postimage` (emitted with the
    * new row; unchanged rows are dropped by a whole-row comparison).
    *
    * Result: the NEW snapshot's schema plus `_change_type`, with pre-image
    * values only implied (time-travel `read(fromVersion)` serves them) —
    * matching Delta's `readChangeFeed` minus `update_preimage` rows.
    */
  def changes(spark: SparkSession, zone: String, table: String,
              key: String, fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, "fromVersion must precede toVersion")
    val t = tablePath(zone, table)
    val from = readManifest(spark, t, fromVersion)
    val to = readManifest(spark, t, toVersion)
    val fromDirs = from.entries.map(_.dir).toSet
    val toDirs = to.entries.map(_.dir).toSet
    val removed = from.entries.filterNot(e => toDirs.contains(e.dir))
    val added = to.entries.filterNot(e => fromDirs.contains(e.dir))
    val toSchema = to.schemaJson
    def side(entries: Seq[Entry], schemaJson: Option[String]): DataFrame =
      if (entries.isEmpty)
        // schema-correct empty side: read under the OTHER side's entries
        // (limit 0 collapses before any file IO)
        readDirs(spark, t, (removed ++ added).distinct, schemaJson).limit(0)
      else readDirs(spark, t, entries, schemaJson)
    // Both sides under the NEW schema: columns added between the versions
    // NULL-pad on the old side, exactly as a reader of the new snapshot
    // sees carried-forward data.
    val before = side(removed, toSchema)
    val after = side(added, toSchema)
    val cols = after.columns.toSeq
    require(cols.contains(key), s"key '$key' not in table columns $cols")
    val b = before.select(cols.map(col): _*).withColumn("__b", lit(1))
    val a = after.select(cols.map(col): _*).withColumn("__a", lit(1))
    val joined = b.as("b").join(a.as("a"), Seq(key), "full_outer")
    val dataCols = cols.filterNot(_ == key)
    def rowOf(side: String) =
      struct(dataCols.map(c => col(s"$side.$c")): _*)
    // whole-row null-safe compare: physically moved but value-identical
    // rows (compaction, carried rewrites) are not changes. A key-only
    // table has no payload to differ on.
    val rowChanged =
      if (dataCols.isEmpty) lit(false) else !(rowOf("b") <=> rowOf("a"))
    val typed = joined.withColumn("_change_type",
      when(col("b.__b").isNull, lit("insert"))
        .when(col("a.__a").isNull, lit("delete"))
        .when(rowChanged, lit("update_postimage")))
      .where(col("_change_type").isNotNull)
    // emit the post-image for inserts/updates, the pre-image for deletes
    val out = typed.select(
      col(key) +:
        dataCols.map(c =>
          when(col("_change_type") === "delete", col(s"b.$c"))
            .otherwise(col(s"a.$c")).as(c)) :+
        col("_change_type"): _*)
    out
  }

  /** Additive gold-table fold, partition-scoped like [[upsert]]: only the
    * partitions present in `delta` are read, re-summed, and re-written;
    * the rest carry forward. `partitionCols` must be group keys.
    *
    * `txn = (appId, batchId)` identifies a streaming write, as on
    * [[DeltaExport.append]]: the commit records `batchId` as `appId`'s
    * watermark, and a batch at or below that watermark — a replay of a
    * fold that already committed — returns the current version without
    * committing. Checked on every commit attempt, so a racing commit of
    * the same batch is seen too. Returns the committed version.
    */
  def mergeAggregate(spark: SparkSession, zone: String, table: String,
                     delta: DataFrame, keys: Seq[String],
                     sumCols: Seq[String],
                     partitionCols: Seq[String] = Nil,
                     txn: Option[(String, Long)] = None): Int = retryingCommit(MaxCommitAttempts) {
    require(partitionCols.forall(keys.contains),
      "partitionCols must be group keys, or groups would span partitions")
    val t = tablePath(zone, table)
    val manifest = currentManifest(spark, zone, table, partitionCols)
    val replayed = txn.exists { case (app, batch) =>
      manifest.txns.get(app).exists(batch <= _) }
    if (replayed) manifest.version
    else {
      val (touchedEntries, carried) = splitTouched(manifest, delta)
      val combined = touchedEntries match {
        case Seq() => delta
        case es => readDirs(spark, t, es, manifest.schemaJson).unionByName(delta)
      }
      val folded = combined
        .groupBy(keys.map(col): _*)
        .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
        .toDF(keys ++ sumCols: _*)
      requireNoRetype(manifest, folded.schema, zone, table, "mergeAggregate")
      val v = manifest.version + 1
      commitManifest(spark, t, v, partitionCols,
        carried ++ writeDataCommit(t, folded, partitionCols),
        Some(folded.schema.json), manifest.txns ++ txn)
      v
    }
  }

  /** Compaction as a snapshot commit: rewrite the current data into at most
    * `filesPerPartition` files per partition (one data commit, readers of
    * prior versions unaffected). On Delta this is OPTIMIZE.
    *
    * Partitioned tables shuffle on (partition cols, salt∈[0,N)): each
    * (partition, salt) slice lands in one task and each task writes one
    * file per partition value it holds, so a skew-heavy partition still
    * compacts into N right-sized files in parallel instead of funneling
    * through a single writer task.
    */
  def compact(spark: SparkSession, zone: String, table: String,
              filesPerPartition: Int): Int = retryingCommit(MaxCommitAttempts) {
    require(filesPerPartition > 0)
    val t = tablePath(zone, table)
    val m = resolveManifest(spark, zone, table, None)
    val df = read(spark, zone, table)
    val sized =
      if (m.partitionCols.isEmpty) df.repartition(filesPerPartition)
      else {
        // Explicit task count (AQE would otherwise coalesce the shuffle and
        // silently merge the salt slices): one slot per (partition, salt),
        // the manifest's distinct keys giving the partition count for free.
        val numParts =
          filesPerPartition * m.entries.map(_.key).distinct.size.max(1)
        df.withColumn("__salt",
            floor(rand(7919) * filesPerPartition).cast("int"))
          .repartition(numParts, m.partitionCols.map(col) :+ col("__salt"): _*)
          .sortWithinPartitions(m.partitionCols.map(col): _*)
          .drop("__salt")
      }
    val entries = writeDataCommit(t, sized, m.partitionCols)
    val v = m.version + 1
    commitManifest(spark, t, v, m.partitionCols, entries,
      Some(df.schema.json), m.txns)
    v
  } // retryingCommit: a compact losing to a concurrent writer re-reads
    // the new snapshot and re-compacts — maintenance never crashes a race

  /** Delta's `OPTIMIZE ZORDER BY` analogue: rewrite the current snapshot
    * with each partition split into `slicesPerPartition` contiguous ranges
    * of the Z-curve over `zCols` ([[Layout.zorderKey]]: quantile-bucketed
    * Morton interleave), committed as multiple manifest entries per
    * partition key. Each slice dir then carries TIGHT min/max stats on
    * every z-ordered column, so [[readWhere]] range probes on ANY of them
    * prune at dir granularity — the multi-dimensional clustering that
    * makes the stats index effective for more than one filter column.
    *
    * Slice boundaries come from one approxQuantile sketch of the z-key
    * (four bits per column); the rewrite is one shuffle on
    * (partition cols, slice) with rows sorted along the curve inside each
    * task, so parquet row-group stats are tight too. Readers of prior
    * versions are unaffected; a later upsert that touches a partition
    * collapses its slices back to one dir (clustering degrades gracefully
    * until the next optimize, exactly like Delta).
    */
  def optimizeZOrder(spark: SparkSession, zone: String, table: String,
                     zCols: Seq[String], slicesPerPartition: Int = 8): Int =
      retryingCommit(MaxCommitAttempts) {
    require(zCols.nonEmpty && slicesPerPartition >= 1)
    val t = tablePath(zone, table)
    val m = resolveManifest(spark, zone, table, None)
    require(zCols.forall(c => !m.partitionCols.contains(c)),
      "z-order columns must not be partition columns (constant per dir)")
    val df = read(spark, zone, table)
    val zkey = graft.sources.Layout.zorderKey(df, zCols)
    val sliceCol: org.apache.spark.sql.Column =
      if (slicesPerPartition == 1) lit(0)
      else {
        val probs = (1 until slicesPerPartition)
          .map(_.toDouble / slicesPerPartition).toArray
        val cuts = df.withColumn("__zk", zkey)
          .stat.approxQuantile("__zk", probs, 0.01).distinct
        cuts.foldLeft(lit(0)) { (acc, b) =>
          acc + when(zkey.cast("double") > b, 1).otherwise(0)
        }
      }
    // one task per (partition, slice) → one file per slice dir; rows
    // sorted along the curve within it
    val arranged = df
      .repartition(m.partitionCols.map(col) :+ sliceCol: _*)
      .sortWithinPartitions(m.partitionCols.map(col) :+ zkey: _*)
    val entries = writeDataCommit(t, arranged, m.partitionCols,
      sliceBy = Some(sliceCol))
    val v = m.version + 1
    commitManifest(spark, t, v, m.partitionCols, entries, Some(df.schema.json),
      m.txns)
    v
  } // retryingCommit: same maintenance-race rule as compact

  /** Commit history as a DataFrame — the audit view: one row per retained
    * version with its entry/partition shape. Reads only manifests (small
    * files), never data.
    */
  def history(spark: SparkSession, zone: String, table: String): DataFrame = {
    import spark.implicits._
    val t = tablePath(zone, table)
    versions(spark, zone, table).map { v =>
      val m = readManifest(spark, t, v)
      (v, m.entries.size, m.entries.map(_.key).distinct.size,
        m.partitionCols.mkString(","), m.schemaJson.isDefined,
        m.entries.count(_.stats.isDefined))
    }.toDF("version", "n_entries", "n_partition_keys", "partition_cols",
      "has_schema", "n_with_stats")
  }

  /** Retention vacuum: keep the newest `retainVersions` manifests; any data
    * file not referenced by a RETAINED manifest and older than `olderThanMs`
    * is deleted, along with expired manifests. Liveness comes from the
    * manifest set — never from directory listing heuristics — so a reader
    * of any retained version is safe by construction. Returns files deleted.
    */
  def vacuum(spark: SparkSession, zone: String, table: String,
             retainVersions: Int, olderThanMs: Long): Int = {
    require(retainVersions >= 1)
    val t = tablePath(zone, table)
    val vs = versions(spark, zone, table)
    if (vs.isEmpty) return 0
    val retained = vs.takeRight(retainVersions)
    val live: Set[String] = retained
      .flatMap(v => readManifest(spark, t, v).entries.map(_.dir)).toSet
    val fs = fsFor(spark, new Path(t))
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0
    val rootPath = new Path(s"$t/data")
    if (fs.exists(rootPath)) {
      val tRootLen = new Path(t).toUri.getPath.length
      val it = fs.listFiles(rootPath, true)
      val toDelete = ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.drop(tRootLen + 1)
        val isLive = live.exists(d => rel.startsWith(d + "/") || {
          // the file sits directly inside a live dir (unpartitioned entry)
          val parent = rel.take(rel.lastIndexOf('/').max(0))
          parent == d
        })
        if (!isLive && f.getModificationTime < cutoff) toDelete += f.getPath
      }
      toDelete.foreach { p => if (fs.delete(p, false)) deleted += 1 }
      // sweep now-empty commit dirs (best-effort, never a live one)
      for (s <- fs.listStatus(rootPath) if s.isDirectory) {
        val rel = s.getPath.toUri.getPath.drop(tRootLen + 1)
        val anyLive = live.exists(_.startsWith(rel))
        if (!anyLive && !fs.listFiles(s.getPath, true).hasNext)
          fs.delete(s.getPath, true)
      }
    }
    for (v <- vs.dropRight(retainVersions)) {
      val mp = manifestPath(t, v)
      if (fs.getFileStatus(mp).getModificationTime < cutoff)
        fs.delete(mp, false)
    }
    deleted
  }
}
