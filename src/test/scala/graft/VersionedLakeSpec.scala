package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.VersionedLake

class VersionedLakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newLake() = VersionedLake(
    s"file://${java.nio.file.Files.createTempDirectory("graft-vlake")}/root")

  test("write/read round trip; versions increment per commit") {
    val vl = newLake()
    assert(vl.versions(spark, "silver", "t").isEmpty)
    val v1 = vl.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "silver", "t")
    assert(v1 === 1)
    val v2 = vl.write(Seq((3L, "c")).toDF("id", "v"), "silver", "t")
    assert(v2 === 2)
    assert(vl.versions(spark, "silver", "t") === Seq(1, 2))
    assert(vl.read(spark, "silver", "t").count() === 1) // current = v2
  }

  test("append: one snapshot per call, old readers keep theirs, races retry, " +
    "partitioning comes from the manifest") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vl = newLake()
    // an absent table is created (unpartitioned) by the first append
    assert(vl.append(Seq((1L, 1L, "a")).toDF("k", "ver", "v"), "silver", "ap") === 1)
    val pinned = vl.read(spark, "silver", "ap") // manifest resolved NOW
    assert(vl.append(Seq((2L, 1L, "b"), (3L, 1L, "c")).toDF("k", "ver", "v"),
      "silver", "ap") === 2)
    assert(vl.versions(spark, "silver", "ap") === Seq(1, 2))
    assert(vl.read(spark, "silver", "ap").count() === 3)
    assert(pinned.select("k").as[Long].collect().toSeq === Seq(1L))
    // an append racing an upsert: the loser retries, both effects land
    for (round <- 0 until 3) {
      val a = Future(vl.append(Seq((100L + round, 1L, "x")).toDF("k", "ver", "v"),
        "silver", "ap"))
      val u = Future(vl.upsert(spark, "silver", "ap",
        Seq((1L, 2L + round, s"u$round")).toDF("k", "ver", "v"), "k", "ver"))
      val (va, vu) = (Await.result(a, 120.seconds), Await.result(u, 120.seconds))
      assert(Set(va, vu).size === 2, s"round $round: versions $va/$vu collided")
      val rows = vl.read(spark, "silver", "ap").select("k", "v")
        .as[(Long, String)].collect().toMap
      assert(rows.get(100L + round).contains("x"), s"round $round: append lost")
      assert(rows.get(1L).contains(s"u$round"), s"round $round: upsert lost")
    }
    assert(vl.currentVersion(spark, "silver", "ap") === 8) // 2 + 3×2
    assert(vl.read(spark, "silver", "ap").count() === 6)
    // appended columns must be table columns of the same type; refused
    // appends commit nothing
    intercept[IllegalArgumentException] {
      vl.append(Seq((8L, 1L, 5)).toDF("k", "ver", "v"), "silver", "ap")
    }
    intercept[IllegalArgumentException] {
      vl.append(Seq((9L, 1L, "n", "note")).toDF("k", "ver", "v", "extra"),
        "silver", "ap")
    }
    assert(vl.currentVersion(spark, "silver", "ap") === 8)
    // a partitioned table: the append lays out its rows by the manifest's
    // partition columns, one entry per touched partition, and a later
    // partition-scoped upsert folds the appended entries like any other
    vl.write(Seq(("p1", 1L, 1L)).toDF("p", "k", "ver"), "silver", "pap",
      partitionCols = Seq("p"))
    vl.append(Seq(("p1", 2L, 1L), ("p2", 3L, 1L)).toDF("p", "k", "ver"),
      "silver", "pap")
    assert(vl.candidateEntries(spark, "silver", "pap", lit(true))
      .map(_.key).sorted === Seq("p1", "p1", "p2"))
    vl.upsert(spark, "silver", "pap", Seq(("p1", 2L, 2L)).toDF("p", "k", "ver"),
      "k", "ver", partitionCols = Seq("p"))
    assert(vl.read(spark, "silver", "pap").select("k", "ver")
      .as[(Long, Long)].collect().sorted.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("snapshot isolation: a reader resolved before a commit keeps the old snapshot") {
    // A plain-parquet overwrite cannot give this: a reader resolved before
    // the overwrite fails or sees the new files. Here it must PASS.
    val vl = newLake()
    vl.write(Seq(("a", 1L)).toDF("k", "n"), "silver", "iso")
    val pinned = vl.read(spark, "silver", "iso") // manifest resolved NOW
    vl.upsert(spark, "silver", "iso",
      Seq(("b", 1L, 2L), ("c", 1L, 3L)).toDF("k", "ver", "n")
        .select("k", "n", "ver"), "k", "ver")
    // the commit happened...
    assert(vl.read(spark, "silver", "iso").count() === 3)
    // ...but the pre-commit reader still serves the OLD snapshot, intact
    assert(pinned.count() === 1)
    assert(pinned.select("k").as[String].collect().toSeq === Seq("a"))
  }

  test("time travel: read(version) serves any retained snapshot") {
    val vl = newLake()
    vl.write(Seq((1L, "one")).toDF("id", "v"), "silver", "tt")
    vl.write(Seq((1L, "uno"), (2L, "dos")).toDF("id", "v"), "silver", "tt")
    val v1 = vl.read(spark, "silver", "tt", version = Some(1))
    assert(v1.select("v").as[String].collect().toSeq === Seq("one"))
    assert(vl.read(spark, "silver", "tt", version = Some(2)).count() === 2)
    intercept[Exception] { vl.read(spark, "silver", "tt", Some(9)).collect() }
  }

  test("partition-scoped upsert: untouched partitions carry forward with zero data movement") {
    val vl = newLake()
    val base = Seq(
      ("2021-01", "a", 1L, 10.0), ("2021-01", "b", 1L, 20.0),
      ("2021-02", "c", 1L, 30.0), ("2021-03", "d", 1L, 40.0))
      .toDF("month", "k", "ver", "v")
    vl.write(base, "silver", "fact", partitionCols = Seq("month"))
    // upsert touches ONLY 2021-02
    vl.upsert(spark, "silver", "fact",
      Seq(("2021-02", "c", 2L, 31.0), ("2021-02", "e", 1L, 50.0))
        .toDF("month", "k", "ver", "v"),
      "k", "ver", partitionCols = Seq("month"))
    val cur = vl.read(spark, "silver", "fact")
    assert(cur.count() === 5)
    assert(cur.where($"k" === "c").select("v").as[Double].head() === 31.0)
    // untouched partitions resolve to v1's SAME physical files — the new
    // manifest re-references them; zero bytes moved
    val v1Files = vl.read(spark, "silver", "fact", Some(1))
      .select(input_file_name()).distinct().as[String].collect().toSet
    val untouchedNow = cur.where($"month" =!= "2021-02")
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(untouchedNow.nonEmpty && untouchedNow.subsetOf(v1Files),
      "untouched partitions were rewritten")
    // and the old snapshot still reads in full (time travel after upsert)
    assert(vl.read(spark, "silver", "fact", Some(1)).count() === 4)
  }

  test("upsert delete flags drop keys; a fully-deleted partition vanishes from the snapshot") {
    val vl = newLake()
    vl.write(Seq(("p1", "a", 1L), ("p1", "b", 1L), ("p2", "c", 5L))
      .toDF("p", "k", "ver"), "silver", "del", partitionCols = Seq("p"))
    vl.upsert(spark, "silver", "del",
      Seq(("p2", "c", 6L, true), ("p2", "z", 1L, true))
        .toDF("p", "k", "ver", "gone"),
      "k", "ver", deleteCol = Some("gone"), partitionCols = Seq("p"))
    val cur = vl.read(spark, "silver", "del")
    assert(cur.select("k").as[String].collect().sorted.toSeq === Seq("a", "b"))
    assert(cur.columns.toSet === Set("p", "k", "ver")) // flag never persists
    // stale delete loses the version race
    vl.upsert(spark, "silver", "del",
      Seq(("p1", "a", 0L, true)).toDF("p", "k", "ver", "gone"),
      "k", "ver", deleteCol = Some("gone"), partitionCols = Seq("p"))
    assert(vl.read(spark, "silver", "del").where($"k" === "a").count() === 1)
  }

  test("upsert refuses a delete flag that collides with a persisted column") {
    val vl = newLake()
    vl.upsert(spark, "silver", "collide",
      Seq(("a", 1L, true)).toDF("k", "ver", "is_deleted"), "k", "ver")
    // 'is_deleted' is now business data in the table; using it as the flag
    // would let stored values delete keys this batch never touched
    intercept[IllegalArgumentException] {
      vl.upsert(spark, "silver", "collide",
        Seq(("b", 1L, false)).toDF("k", "ver", "is_deleted"), "k", "ver",
        deleteCol = Some("is_deleted"))
    }
    assert(vl.currentVersion(spark, "silver", "collide") === 1) // no commit
    assert(vl.read(spark, "silver", "collide").count() === 1)
  }

  test("lake roots are scheme-agnostic: abfss:// paths compose like file://") {
    // The ADLS claim is config-only (hadoop-azure auth keys), not code:
    // path arithmetic must be identical for any Hadoop filesystem scheme.
    // No I/O here; the file:// round trips in the other tests exercise the
    // same code path end to end.
    val adls = VersionedLake("abfss://corpus@lakeacct.dfs.core.windows.net/graft/")
    assert(adls.tablePath("silver", "documents") ===
      "abfss://corpus@lakeacct.dfs.core.windows.net/graft/silver/documents")
    val hdfs = VersionedLake("hdfs://nn:8020/warehouse")
    assert(hdfs.tablePath("gold", "hourly") === "hdfs://nn:8020/warehouse/gold/hourly")
  }

  test("mergeAggregate folds additively and only rewrites touched partitions") {
    val vl = newLake()
    vl.mergeAggregate(spark, "gold", "agg",
      Seq(("h1", "click", 2L), ("h2", "view", 3L)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    vl.mergeAggregate(spark, "gold", "agg",
      Seq(("h1", "click", 5L)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    val got = vl.read(spark, "gold", "agg").orderBy("hr")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("h1", "click", 7L), ("h2", "view", 3L)))
    // h2 entry carried: v2 manifest references v1's h2 dir (same files)
    val t = vl.tablePath("gold", "agg")
    val h2v1 = vl.read(spark, "gold", "agg", Some(1)).where($"hr" === "h2")
      .select(input_file_name()).as[String].collect().toSet
    val h2v2 = vl.read(spark, "gold", "agg", Some(2)).where($"hr" === "h2")
      .select(input_file_name()).as[String].collect().toSet
    assert(h2v1 === h2v2)
  }

  test("upsert delete flags: winning, stale and absent-key deletes; no tombstone") {
    val vl = newLake()
    vl.upsert(spark, "silver", "del2",
      Seq(("a", 1L, 10.0), ("b", 1L, 20.0), ("c", 5L, 30.0)).toDF("k", "ver", "v"),
      "k", "ver")
    val updates = Seq(
      ("a", 2L, 0.0, true),    // delete wins (newer version) → key gone
      ("b", 2L, 25.0, false),  // plain update
      ("c", 1L, 0.0, true),    // STALE delete (ver 1 < current 5) → discarded
      ("x", 1L, 0.0, true)     // delete of absent key → no-op
    ).toDF("k", "ver", "v", "is_deleted")
    vl.upsert(spark, "silver", "del2", updates, "k", "ver",
      deleteCol = Some("is_deleted"))
    val got = vl.read(spark, "silver", "del2")
    assert(got.columns.toSet === Set("k", "ver", "v")) // flag never persists
    val rows = got.orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq(("b", 2L, 25.0), ("c", 5L, 30.0)))
    // deletes leave no tombstone: a later higher-versioned insert re-creates
    vl.upsert(spark, "silver", "del2",
      Seq(("a", 3L, 11.0)).toDF("k", "ver", "v"), "k", "ver")
    assert(vl.read(spark, "silver", "del2").where($"k" === "a").count() === 1)
  }

  test("upsert keeps numeric-looking string partitions ('01') verbatim") {
    // Partition-type inference would read month=01 back as int 1; the
    // manifest-resolved read must present the values as written.
    val vl = newLake()
    vl.write(Seq(("01", "a", 1L, 10.0), ("01", "b", 1L, 20.0), ("02", "c", 1L, 30.0))
      .toDF("month", "k", "ver", "v"), "silver", "zfact", partitionCols = Seq("month"))
    vl.upsert(spark, "silver", "zfact",
      Seq(("01", "a", 2L, 11.0), ("01", "d", 1L, 40.0))
        .toDF("month", "k", "ver", "v"),
      "k", "ver", partitionCols = Seq("month"))
    assert(vl.candidateEntries(spark, "silver", "zfact", lit(true))
      .map(_.key).sorted === Seq("01", "02"))
    val got = vl.read(spark, "silver", "zfact")
    assert(got.count() === 4) // a updated in place, b kept, c untouched, d new
    assert(got.where($"k" === "a").select("v").as[Double].head() === 11.0)
    // no key appears twice (the duplicate-partition failure mode)
    assert(got.groupBy("k").count().where($"count" > 1).count() === 0)
    assert(got.select("month").distinct().as[String].collect().sorted.toSeq
      === Seq("01", "02"))
  }

  test("mergeAggregate keeps numeric-looking string partitions ('01')") {
    val vl = newLake()
    vl.mergeAggregate(spark, "gold", "zagg",
      Seq(("01", "click", 2L), ("02", "view", 3L)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    vl.mergeAggregate(spark, "gold", "zagg",
      Seq(("01", "click", 5L)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    assert(vl.candidateEntries(spark, "gold", "zagg", lit(true))
      .map(_.key).sorted === Seq("01", "02"))
    val got = vl.read(spark, "gold", "zagg").orderBy("typ").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // folded into hr=01, not doubled beside a re-rendered hr=1
    assert(got.toSeq === Seq(("01", "click", 7L), ("02", "view", 3L)))
  }

  test("upsert and mergeAggregate refuse to retype a column: int month over " +
    "string '01'/'02' partitions commits nothing and the table still reads") {
    val vl = newLake()
    vl.write(Seq(("01", "a", 1L, 10.0), ("02", "c", 1L, 30.0))
      .toDF("month", "k", "ver", "v"), "silver", "rfact", partitionCols = Seq("month"))
    val e = intercept[IllegalArgumentException] {
      vl.upsert(spark, "silver", "rfact",
        Seq((1, "a", 2L, 11.0)).toDF("month", "k", "ver", "v"),
        "k", "ver", partitionCols = Seq("month"))
    }
    assert(e.getMessage.contains("retype silver/rfact column month from string to int"))
    assert(vl.versions(spark, "silver", "rfact") === Seq(1))
    assert(vl.read(spark, "silver", "rfact").count() === 2)
    // a new column still evolves the schema
    vl.upsert(spark, "silver", "rfact",
      Seq(("01", "a", 2L, 11.0, "x")).toDF("month", "k", "ver", "v", "tag"),
      "k", "ver", partitionCols = Seq("month"))
    assert(vl.read(spark, "silver", "rfact").where($"k" === "a")
      .select("tag").as[String].head() === "x")

    vl.mergeAggregate(spark, "gold", "ragg",
      Seq(("01", "click", 2L), ("02", "view", 3L)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    val e2 = intercept[IllegalArgumentException] {
      vl.mergeAggregate(spark, "gold", "ragg",
        Seq((1, "click", 5L)).toDF("hr", "typ", "n"),
        keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    }
    assert(e2.getMessage.contains("retype gold/ragg column hr from string to int"))
    assert(vl.versions(spark, "gold", "ragg") === Seq(1))
    // an int delta still folds into the long sum column (sum widens it)
    vl.mergeAggregate(spark, "gold", "ragg",
      Seq(("01", "click", 5)).toDF("hr", "typ", "n"),
      keys = Seq("hr", "typ"), sumCols = Seq("n"), partitionCols = Seq("hr"))
    assert(vl.read(spark, "gold", "ragg").where($"hr" === "01")
      .select("n").as[Long].head() === 7L)
  }

  test("append of no rows to an existing table publishes no version") {
    val vl = newLake()
    def commitDirs(table: String) = new java.io.File(new java.net.URI(
      s"${vl.tablePath("silver", table)}/data")).list().toSet
    val rows = Seq((1L, "01", 1.0), (2L, "02", 2.0)).toDF("id", "month", "v")
    // a new table is created even when empty (it pins the schema)
    assert(vl.append(rows.limit(0), "silver", "e0") === 1)
    assert(vl.append(rows, "silver", "e0") === 2)
    val before = commitDirs("e0")
    assert(vl.append(rows.limit(0), "silver", "e0") === 2)
    assert(vl.versions(spark, "silver", "e0") === Seq(1, 2))
    assert(commitDirs("e0") === before)
    assert(vl.read(spark, "silver", "e0").count() === 2)
    // partitioned: an empty write lays down no partition dir at all
    vl.write(rows, "silver", "e1", partitionCols = Seq("month"))
    val pBefore = commitDirs("e1")
    assert(vl.append(rows.limit(0), "silver", "e1") === 1)
    assert(vl.versions(spark, "silver", "e1") === Seq(1))
    assert(commitDirs("e1") === pBefore)
  }

  test("vacuum deletes aged orphans, never live files or young orphans") {
    val vl = newLake()
    vl.write(spark.range(0, 100).toDF("id").coalesce(1), "silver", "orph")
    val t = new org.apache.hadoop.fs.Path(vl.tablePath("silver", "orph"))
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    // age the live snapshot so only the manifest reference protects it
    val it = fs.listFiles(t, true)
    while (it.hasNext) {
      val f = it.next()
      fs.setTimes(f.getPath, System.currentTimeMillis() - 3600 * 1000L, -1)
    }
    // plant orphans: a crashed commit attempt (old) and an in-flight one (young)
    val oldOrphan = new org.apache.hadoop.fs.Path(t, "data/commit-crashed/part-0.parquet")
    val youngOrphan = new org.apache.hadoop.fs.Path(t, "data/commit-inflight/part-0.parquet")
    fs.create(oldOrphan).close()
    fs.setTimes(oldOrphan, System.currentTimeMillis() - 3600 * 1000L, -1)
    fs.create(youngOrphan).close()
    val deleted = vl.vacuum(spark, "silver", "orph",
      retainVersions = 1, olderThanMs = 60 * 1000L)
    assert(deleted === 1)
    assert(!fs.exists(oldOrphan))
    assert(fs.exists(youngOrphan)) // inside the age bound → kept
    assert(vl.read(spark, "silver", "orph").count() === 100) // data untouched
    assert(vl.vacuum(spark, "silver", "orph", 1, 60 * 1000L) === 0) // idempotent
    assert(vl.vacuum(spark, "silver", "absent", 1, 0L) === 0)       // missing table
  }

  test("delete rewrites only stats-candidate dirs; time travel keeps pre-images") {
    val vl = newLake()
    val df = Seq((1L, "a", "p1"), (2L, "b", "p1"),
      (100L, "x", "p2"), (101L, "y", "p2")).toDF("id", "v", "p")
    val v1 = vl.write(df, "silver", "d", partitionCols = Seq("p"))
    val v2 = vl.delete(spark, "silver", "d", col("id") === 100L)
    def files(ver: Int, part: String) =
      vl.read(spark, "silver", "d", Some(ver)).where($"p" === part)
        .select(input_file_name()).as[String].collect().toSet
    // p1's stats (id in [1,2]) prune it out: its entry carries verbatim
    assert(files(v1, "p1") === files(v2, "p1"))
    // p2 held the victim: rewritten as a fresh dir
    assert(files(v1, "p2").intersect(files(v2, "p2")).isEmpty)
    assert(vl.read(spark, "silver", "d").count() === 3)
    assert(vl.read(spark, "silver", "d").where($"id" === 100L).count() === 0)
    // the pre-image survives in the old snapshot
    assert(vl.read(spark, "silver", "d", Some(v1))
      .where($"id" === 100L).count() === 1)
    // a no-match delete commits an identical snapshot (audit record)
    val v3 = vl.delete(spark, "silver", "d", col("id") === 99999L)
    assert(files(v2, "p1") === files(v3, "p1"))
    assert(files(v2, "p2") === files(v3, "p2"))
    // delete-everything leaves an empty, schema-intact current version
    val v4 = vl.delete(spark, "silver", "d", lit(true))
    val emptied = vl.read(spark, "silver", "d", Some(v4))
    assert(emptied.count() === 0)
    assert(emptied.columns.sorted.toSeq === Seq("id", "p", "v"))
  }

  test("delete follows SQL null semantics: NULL-predicate rows survive") {
    val vl = newLake()
    vl.write(Seq((1L, Some("zap")), (2L, None), (3L, Some("keep")))
      .toDF("id", "s"), "silver", "nd")
    vl.delete(spark, "silver", "nd", $"s" === "zap")
    val left = vl.read(spark, "silver", "nd").select("id")
      .as[Long].collect().sorted.toSeq
    assert(left === Seq(2L, 3L)) // NULL comparison is not TRUE → kept
  }

  test("update assigns only matching rows in candidate dirs; schema and dtypes invariant") {
    val vl = newLake()
    val df = Seq((1L, 10.0, "p1"), (2L, 20.0, "p1"),
      (100L, 30.0, "p2"), (101L, 40.0, "p2")).toDF("id", "x", "p")
    val v1 = vl.write(df, "silver", "u", partitionCols = Seq("p"))
    val v2 = vl.update(spark, "silver", "u", $"id" === 100L,
      Map("x" -> lit(99)))  // int literal casts back to the double column
    def files(ver: Int, part: String) =
      vl.read(spark, "silver", "u", Some(ver)).where($"p" === part)
        .select(input_file_name()).as[String].collect().toSet
    assert(files(v1, "p1") === files(v2, "p1")) // p1 pruned by id stats
    assert(files(v1, "p2").intersect(files(v2, "p2")).isEmpty)
    val now = vl.read(spark, "silver", "u")
    assert(now.schema("x").dataType.typeName === "double")
    val byId = now.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId === Map(1L -> 10.0, 2L -> 20.0, 100L -> 99.0, 101L -> 40.0))
    // pre-image intact; partition-column assignment refused
    assert(vl.read(spark, "silver", "u", Some(v1))
      .where($"id" === 100L).head().getDouble(1) === 30.0)
    // assignments can reference the row's own columns (x = x * 2 + id)
    vl.update(spark, "silver", "u", $"id" === 101L,
      Map("x" -> (col("x") * 2 + col("id"))))
    assert(vl.read(spark, "silver", "u")
      .where($"id" === 101L).head().getDouble(1) === 181.0)
    intercept[IllegalArgumentException] {
      vl.update(spark, "silver", "u", $"id" === 1L, Map("p" -> lit("p9")))
    }
  }

  test("restore re-commits an old snapshot's entries: rollback with zero data movement") {
    val vl = newLake()
    val v1 = vl.write(Seq((1L, "good"), (2L, "good")).toDF("id", "v"), "silver", "r")
    vl.upsert(spark, "silver", "r",
      Seq((1L, "BAD", 2L)).toDF("id", "v", "ver"), "id", "ver")
    val v3 = vl.restore(spark, "silver", "r", v1)
    assert(v3 === 3)
    // current content equals v1, served from v1's very files
    def files(ver: Int) = vl.read(spark, "silver", "r", Some(ver))
      .select(input_file_name()).as[String].collect().toSet
    assert(files(v3) === files(v1))
    assert(vl.read(spark, "silver", "r").where($"v" === "BAD").count() === 0)
    // the bad version remains readable for forensics
    assert(vl.read(spark, "silver", "r", Some(2))
      .where($"v" === "BAD").count() === 1)
    intercept[IllegalArgumentException] {
      vl.restore(spark, "silver", "r", 99)
    }
  }

  test("delete racing an upsert: loser retries against the new snapshot, both effects land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vl = newLake()
    vl.write((1L to 20L).map(i => (i, i, 0.0)).toDF("k", "ver", "x"),
      "silver", "dr")
    for (round <- 0 until 3) {
      val victim = (round * 2 + 1).toLong
      val newKey = 100L + round
      val d = Future(vl.delete(spark, "silver", "dr", col("k") === victim))
      val u = Future(vl.upsert(spark, "silver", "dr",
        Seq((newKey, 1L, 9.9)).toDF("k", "ver", "x"), "k", "ver"))
      val (vd, vu) = (Await.result(d, 120.seconds), Await.result(u, 120.seconds))
      assert(Set(vd, vu).size === 2, s"round $round: versions collided")
      val keys = vl.read(spark, "silver", "dr")
        .select("k").as[Long].collect().toSet
      assert(!keys.contains(victim), s"round $round: victim survived the race")
      assert(keys.contains(newKey), s"round $round: upsert lost to the delete")
    }
  }

  test("vacuum after restore: re-referenced old dirs survive, the bypassed version's don't") {
    val vl = newLake()
    val v1 = vl.write(Seq((1L, "keep")).toDF("id", "v"), "silver", "rv")
    vl.write(Seq((2L, "bad")).toDF("id", "v"), "silver", "rv") // v2 replaces
    val v3 = vl.restore(spark, "silver", "rv", v1)
    // retain only the current version; age threshold 0 = everything is old
    val removed = vl.vacuum(spark, "silver", "rv", retainVersions = 1,
      olderThanMs = 0L)
    assert(removed > 0, "v2's unreferenced dir must be swept")
    // v3 references v1's ORIGINAL dirs — liveness is by manifest
    // reference, not file age, so the restore target reads intact
    val got = vl.read(spark, "silver", "rv").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "keep")))
    assert(vl.versions(spark, "silver", "rv") === Seq(v3))
  }

  test("compact racing an upsert: maintenance retries instead of crashing, data intact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vl = newLake()
    vl.write((1L to 40L).map(i => (i, i, s"p${i % 2}")).toDF("k", "ver", "p"),
      "silver", "mr", partitionCols = Seq("p"))
    for (round <- 0 until 3) {
      val newKey = 1000L + round
      val c = Future(vl.compact(spark, "silver", "mr", filesPerPartition = 1))
      val u = Future(vl.upsert(spark, "silver", "mr",
        Seq((newKey, 1L, "p0")).toDF("k", "ver", "p"), "k", "ver",
        partitionCols = Seq("p")))
      val (vc, vu) = (Await.result(c, 120.seconds), Await.result(u, 120.seconds))
      assert(Set(vc, vu).size === 2, s"round $round: versions collided")
      val keys = vl.read(spark, "silver", "mr")
        .select("k").as[Long].collect().toSet
      assert(keys.contains(newKey), s"round $round: upsert lost to compact")
      assert((1L to 40L).forall(keys.contains), s"round $round: compact lost rows")
    }
  }

  test("delete on an evolved column: NULL rows in old dirs survive, new rows match") {
    val vl = newLake()
    vl.write(Seq((1L, 1L, "old")).toDF("k", "ver", "v"), "silver", "ev")
    // evolution: later upsert adds a 'tag' column the old dir lacks
    vl.upsert(spark, "silver", "ev",
      Seq((2L, 2L, "new", "zap"), (3L, 2L, "new", "keep"))
        .toDF("k", "ver", "v", "tag"), "k", "ver")
    vl.delete(spark, "silver", "ev", $"tag" === "zap")
    val left = vl.read(spark, "silver", "ev").select("k")
      .as[Long].collect().sorted.toSeq
    // k=1 has tag NULL (predicate not TRUE) → survives; k=2 matched → gone
    assert(left === Seq(1L, 3L))
  }

  test("history lists every retained commit's shape from manifests only") {
    val vl = newLake()
    vl.write(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "p"),
      "silver", "h", partitionCols = Seq("p"))
    vl.upsert(spark, "silver", "h", Seq((3L, "c", "p1")).toDF("id", "v", "p"),
      "id", "id", partitionCols = Seq("p"))
    val h = vl.history(spark, "silver", "h").orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(h.forall(_.getString(3) === "p"))
    assert(h.forall(_.getBoolean(4)))       // schema carried in every commit
    assert(h(1).getInt(1) >= 2)             // upsert carried p2 + rewrote p1
  }

  test("changesSince: a polling consumer sees each change once, then nothing") {
    val vl = newLake()
    val v1 = vl.write(Seq((1L, 1L, "a")).toDF("k", "ver", "v"), "silver", "cs")
    vl.upsert(spark, "silver", "cs",
      Seq((2L, 2L, "b")).toDF("k", "ver", "v"), "k", "ver")
    vl.upsert(spark, "silver", "cs",
      Seq((1L, 3L, "a2")).toDF("k", "ver", "v"), "k", "ver")
    val (cursor, delta) = vl.changesSince(spark, "silver", "cs", "k", v1)
    assert(cursor === 3)
    val got = delta.select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "insert"), (1L, "update_postimage")))
    // caught-up consumer: same cursor, empty delta, schema intact
    val (c2, d2) = vl.changesSince(spark, "silver", "cs", "k", cursor)
    assert(c2 === 3 && d2.count() === 0)
    assert(d2.columns.contains("_change_type"))
    intercept[IllegalArgumentException] {
      vl.changesSince(spark, "silver", "cs", "k", 99)
    }
  }

  test("vacuum keeps retained snapshots readable, deletes expired data and manifests") {
    val vl = newLake()
    vl.write(Seq((1L, "v1")).toDF("id", "v"), "silver", "vac")
    vl.write(Seq((2L, "v2")).toDF("id", "v"), "silver", "vac")
    vl.write(Seq((3L, "v3")).toDF("id", "v"), "silver", "vac")
    // age everything on disk so only the retention count protects files
    val t = new org.apache.hadoop.fs.Path(vl.tablePath("silver", "vac"))
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(t, true)
    while (it.hasNext) {
      val f = it.next()
      fs.setTimes(f.getPath, System.currentTimeMillis() - 3600 * 1000L, -1)
    }
    val deleted = vl.vacuum(spark, "silver", "vac",
      retainVersions = 2, olderThanMs = 60 * 1000L)
    assert(deleted > 0)
    assert(vl.versions(spark, "silver", "vac") === Seq(2, 3))
    // retained versions still fully readable
    assert(vl.read(spark, "silver", "vac", Some(2))
      .select("v").as[String].head() === "v2")
    assert(vl.read(spark, "silver", "vac").select("v").as[String].head() === "v3")
    // idempotent
    assert(vl.vacuum(spark, "silver", "vac", 2, 60 * 1000L) === 0)
  }

  test("commit is first-wins: a racing commit for the same version aborts") {
    val vl = newLake()
    vl.write(Seq((1L, "a")).toDF("id", "v"), "silver", "race")
    // simulate a racer that already committed v2
    vl.write(Seq((2L, "b")).toDF("id", "v"), "silver", "race")
    val t = vl.tablePath("silver", "race")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // our writer read version=1 before the racer committed v2: its commit
    // of v2 must fail loudly, not clobber
    val mdir = new org.apache.hadoop.fs.Path(s"$t/_manifests")
    val before = fs.listStatus(mdir).length
    intercept[IllegalStateException] {
      // reach into the protocol: attempt to re-commit an existing version,
      // exactly what a writer that resolved version 1 pre-race would do
      vl.commitManifest(spark, t, 2, Nil, Nil)
    }
    assert(fs.listStatus(mdir).length === before) // no half-commit left
  }

  test("pre-schema-header manifests still read (mergeSchema fallback)") {
    // Manifests written before round 6 carry no schema= line; readers must
    // fall back to footer-merging so evolved columns still surface.
    val vl = newLake()
    vl.write(Seq((1L, "a")).toDF("id", "v"), "silver", "old")
    val t = vl.tablePath("silver", "old")
    // rewrite v1's manifest WITHOUT the schema header, preserving entries
    val mdir = new org.apache.hadoop.fs.Path(s"$t/_manifests")
    val fs = mdir.getFileSystem(spark.sessionState.newHadoopConf())
    val mp = new org.apache.hadoop.fs.Path(mdir, "v00000001.manifest")
    val lines = scala.io.Source.fromInputStream(fs.open(mp), "UTF-8")
      .mkString.split("\n").filterNot(_.startsWith("schema="))
    fs.delete(mp, false)
    val out = fs.create(mp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val got = vl.read(spark, "silver", "old")
    assert(got.columns.toSet === Set("id", "v"))
    assert(got.count() === 1)
  }

  test("retryingCommit: conflicts retry against the new snapshot, then propagate") {
    val vl = newLake()
    var calls = 0
    val got = vl.retryingCommit(5) {
      calls += 1
      if (calls < 3) throw new VersionedLake.CommitConflictException("race")
      42
    }
    assert(got === 42 && calls === 3)
    var calls2 = 0
    intercept[VersionedLake.CommitConflictException] {
      vl.retryingCommit(2) {
        calls2 += 1
        throw new VersionedLake.CommitConflictException("race")
      }
    }
    assert(calls2 === 2) // exactly maxAttempts, the last one propagating
  }

  test("concurrent upserts on different keys both land (loser retries and folds winner)") {
    // This race caught a real bug: Hadoop's LOCAL rename is check-then-
    // rename, so two committers could both "win" the same version, the
    // second silently replacing the first's manifest. The commit now
    // publishes via link(2) create-if-absent on file:// — rerun the race
    // several rounds to keep the window exercised.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vl = newLake()
    vl.write(Seq(("seed", 0L, 0.0)).toDF("k", "ver", "x"), "silver", "cc")
    val expected = scala.collection.mutable.Set("seed")
    for (round <- 0 until 5) {
      val (ka, kb) = (s"a$round", s"b$round")
      val a = Future(vl.upsert(spark, "silver", "cc",
        Seq((ka, 1L, 1.0)).toDF("k", "ver", "x"), "k", "ver"))
      val b = Future(vl.upsert(spark, "silver", "cc",
        Seq((kb, 1L, 2.0)).toDF("k", "ver", "x"), "k", "ver"))
      val (va, vb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
      // both committed, at distinct versions — a shared version number
      // would mean one manifest silently clobbered the other
      assert(Set(va, vb).size === 2, s"round $round: versions $va/$vb collided")
      expected ++= Seq(ka, kb)
    }
    assert(vl.currentVersion(spark, "silver", "cc") === 11) // 1 + 5×2
    // the final snapshot folds EVERY writer regardless of who lost races
    val keys = vl.read(spark, "silver", "cc")
      .select("k").collect().map(_.getString(0)).toSet
    assert(keys === expected.toSet)
  }

  test("schema evolution: a column added by upsert survives reads deterministically") {
    // upsert permits evolution (unionByName allowMissingColumns), so the
    // committed manifest must carry the union schema: carried partitions'
    // older files NULL-pad the new column instead of the whole read
    // nondeterministically dropping it (which file Spark samples first
    // must not matter).
    val vl = newLake()
    vl.write(Seq(("p1", "a", 1L), ("p2", "b", 1L)).toDF("p", "k", "ver"),
      "silver", "evo", partitionCols = Seq("p"))
    // touch only p1, adding a column the table never had
    vl.upsert(spark, "silver", "evo",
      Seq(("p1", "a", 2L, "new")).toDF("p", "k", "ver", "extra"),
      "k", "ver", partitionCols = Seq("p"))
    val got = vl.read(spark, "silver", "evo")
    assert(got.columns.toSet === Set("p", "k", "ver", "extra"))
    assert(got.where(col("k") === "a").select("extra").head().getString(0) === "new")
    // carried partition p2 (old files, no 'extra') reads back NULL-padded
    assert(got.where(col("k") === "b").select("extra").head().isNullAt(0))
    // time travel to v1 keeps v1's schema — no 'extra' there
    assert(vl.read(spark, "silver", "evo", Some(1)).columns.toSet
      === Set("p", "k", "ver"))
    // and a further partition-scoped merge on the evolved table is stable
    vl.upsert(spark, "silver", "evo",
      Seq(("p2", "b", 2L, null.asInstanceOf[String]))
        .toDF("p", "k", "ver", "extra"),
      "k", "ver", partitionCols = Seq("p"))
    assert(vl.read(spark, "silver", "evo").columns.toSet
      === Set("p", "k", "ver", "extra"))
  }

  test("compact honors filesPerPartition on a partitioned table") {
    val vl = newLake()
    val df = spark.range(0, 3000)
      .select((col("id") % 3).cast("string").as("p"), col("id"))
    vl.write(df.repartition(24), "silver", "cmp", partitionCols = Seq("p"))
    vl.compact(spark, "silver", "cmp", filesPerPartition = 3)
    val got = vl.read(spark, "silver", "cmp")
    assert(got.count() === 3000)
    assert(got.agg(sum("id")).head().getLong(0) === 4498500L)
    // per-partition file counts: >1 proves the parameter is live (the old
    // code funneled each partition into exactly one file), <=N proves the
    // bound holds
    val perPart = got.withColumn("f", input_file_name())
      .groupBy("p").agg(countDistinct(col("f")).as("files"))
      .collect().map(r => r.getLong(1))
    assert(perPart.forall(n => n >= 2 && n <= 3),
      s"files per partition out of [2,3]: ${perPart.mkString(",")}")
  }

  test("data skipping: readWhere prunes dirs whose stats exclude the predicate") {
    val vl = newLake()
    // three partitions with disjoint id ranges and distinct name prefixes
    val df = spark.range(0, 300).select(
      concat(lit("p"), (col("id") / 100).cast("int").cast("string")).as("p"),
      col("id"),
      concat(lit("u"), format_string("%03d", col("id"))).as("name"))
    vl.write(df, "silver", "skip", partitionCols = Seq("p"))
    val total = 3
    def cand(pred: org.apache.spark.sql.Column) =
      vl.candidateEntries(spark, "silver", "skip", pred).size
    def check(pred: org.apache.spark.sql.Column, expectDirs: Int): Unit = {
      assert(cand(pred) === expectDirs, s"pruning for $pred")
      val got = vl.readWhere(spark, "silver", "skip", pred)
        .select("id").as[Long].collect().sorted.toSeq
      val want = vl.read(spark, "silver", "skip").where(pred)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === want, s"rows for $pred")
    }
    check(col("id") > 250, 1)                            // range
    check(col("id") === 150L, 1)                         // point
    check(col("id").isin(5L, 295L), 2)                   // IN
    check(col("id") < 0, 0)                              // nothing matches
    check(col("id") >= 100 && col("id") < 200, 1)        // AND of bounds
    check(col("id") < 50 || col("id") > 280, 2)          // OR
    check(col("name").startsWith("u2"), 1)               // string prefix
    check(col("name") === "u050", 1)                     // string point
    check(col("id").isNull, 0)                           // no nulls anywhere
    check(col("id").isNotNull, 3)
    check(col("p") === "p1", 1)                          // partition col stats
    // a predicate on an unsupported shape keeps everything (conservative)
    check(abs(col("id")) > 9999, 3)
  }

  test("data skipping: carried entries keep their stats through upserts") {
    val vl = newLake()
    val base = Seq(("a", 1L, 1L, 10.0), ("b", 101L, 1L, 20.0),
      ("c", 201L, 1L, 30.0)).toDF("p", "id", "ver", "v")
    vl.write(base, "silver", "carry", partitionCols = Seq("p"))
    // touch only partition b — a and c carry forward with stats verbatim
    vl.upsert(spark, "silver", "carry",
      Seq(("b", 102L, 2L, 21.0)).toDF("p", "id", "ver", "v"),
      "id", "ver", partitionCols = Seq("p"))
    // range predicate on id prunes to the single carried partition c
    val cands = vl.candidateEntries(spark, "silver", "carry", col("id") > 200)
    assert(cands.map(_.key) === Seq("c"))
    assert(vl.readWhere(spark, "silver", "carry", col("id") > 200)
      .select("v").as[Double].collect().toSeq === Seq(30.0))
  }

  test("data skipping degrades conservatively: no stats, long strings, evolved columns") {
    val vl = newLake()
    // collectStats=false → entries carry no stats → no pruning, reads correct
    vl.write(Seq(("p1", 1L), ("p2", 200L)).toDF("p", "id"), "silver", "nostat",
      partitionCols = Seq("p"), collectStats = false)
    assert(vl.candidateEntries(spark, "silver", "nostat", col("id") > 100).size === 2)
    assert(vl.readWhere(spark, "silver", "nostat", col("id") > 100).count() === 1)
    // >64-char strings: min/max dropped (NOT truncated — a truncated max
    // could wrongly prune), so string predicates keep the dir
    val long = "x" * 80
    vl.write(Seq(("p1", long), ("p2", "short")).toDF("p", "s"), "silver", "longs",
      partitionCols = Seq("p"))
    assert(vl.candidateEntries(spark, "silver", "longs",
      col("s") === long).map(_.key).contains("p1"))
    assert(vl.readWhere(spark, "silver", "longs", col("s") === long).count() === 1)
    // a column added by a later upsert: carried entries' stats predate it →
    // they must be kept when filtering on it
    vl.write(Seq(("p1", 1L, 1L), ("p2", 2L, 1L)).toDF("p", "id", "ver"),
      "silver", "evoskip", partitionCols = Seq("p"))
    vl.upsert(spark, "silver", "evoskip",
      Seq(("p1", 1L, 2L, 9L)).toDF("p", "id", "ver", "extra"),
      "id", "ver", partitionCols = Seq("p"))
    // p2 carried (its stats predate 'extra') must remain a candidate;
    // p1's fresh stats show extra is never null there, so it CAN prune
    assert(vl.candidateEntries(spark, "silver", "evoskip",
      col("extra").isNull).map(_.key).toSet === Set("p2"))
    assert(vl.readWhere(spark, "silver", "evoskip", col("extra").isNull)
      .select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("data skipping: timestamp stats keep microsecond precision at range boundaries") {
    val vl = newLake()
    // partition q1 tops out at .123456 µs — a stats index that rounds to
    // milliseconds would store .123 and wrongly prune the >= .123400 probe
    val df = Seq(
      ("q1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")),
      ("q2", java.sql.Timestamp.valueOf("2024-06-01 00:00:00.0")))
      .toDF("p", "ts")
    vl.write(df, "silver", "micro", partitionCols = Seq("p"))
    val probe = col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123400"))
    assert(vl.candidateEntries(spark, "silver", "micro", probe).size === 2)
    assert(vl.readWhere(spark, "silver", "micro", probe).count() === 2)
    // and the µs bound still PRUNES what it can: strictly-greater probe
    val above = col("ts") > lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456"))
    assert(vl.candidateEntries(spark, "silver", "micro", above).map(_.key) === Seq("q2"))
  }

  test("bloom index: point lookups prune dirs min/max stats cannot") {
    val vl = newLake()
    // keys interleave across partitions: every partition's [min,max] spans
    // the whole range, so stats alone can never prune a point probe
    val df = spark.range(0, 300).select(
      (col("id") % 3).cast("string").as("p"),
      concat(lit("k"), format_string("%04d", col("id"))).as("k"),
      col("id").as("v"))
    vl.write(df, "silver", "bloomed", partitionCols = Seq("p"),
      bloomCols = Seq("k"), bloomExpectedItems = 1000L)
    // every key lands in exactly one partition (id % 3) — the bloom must
    // cut candidates to (whp) that one dir, and NEVER lose the true one
    for (id <- Seq(0, 1, 2, 7, 151, 299)) {
      val key = f"k$id%04d"
      val cand = vl.candidateEntries(spark, "silver", "bloomed",
        col("k") === key)
      assert(cand.map(_.key).contains((id % 3).toString),
        s"bloom pruned the dir that HOLDS $key")
      assert(cand.size <= 2, s"bloom barely pruned for $key: ${cand.map(_.key)}")
      val got = vl.readWhere(spark, "silver", "bloomed", col("k") === key)
        .select("v").as[Long].collect().toSeq
      assert(got === Seq(id.toLong), s"wrong rows for $key")
    }
    // an absent key can prune to zero dirs, and reads empty with schema
    val none = vl.readWhere(spark, "silver", "bloomed", col("k") === "nope")
    assert(none.count() === 0 && none.columns.toSet === Set("p", "k", "v"))
    // IN over two partitions keeps (whp) exactly those; OR with a range
    // composes with the stats pass conservatively
    val in2 = vl.candidateEntries(spark, "silver", "bloomed",
      col("k").isin("k0000", "k0001"))
    assert(Set("0", "1").subsetOf(in2.map(_.key).toSet) && in2.size <= 3)
    val got2 = vl.readWhere(spark, "silver", "bloomed",
        col("k") === "k0000" || col("v") >= 298)
      .select("v").as[Long].collect().sorted.toSeq
    assert(got2 === Seq(0L, 298L, 299L))
  }

  test("bloom index: carried forward by upsert, swept by vacuum only when unreferenced") {
    val vl = newLake()
    val base = Seq(("a", "u1", 1L), ("b", "u2", 1L), ("c", "u3", 1L))
      .toDF("p", "k", "ver")
    vl.write(base, "silver", "bcarry", partitionCols = Seq("p"),
      bloomCols = Seq("k"), bloomExpectedItems = 100L)
    // touch only partition a; b and c carry their bloom refs verbatim
    vl.upsert(spark, "silver", "bcarry",
      Seq(("a", "u9", 1L)).toDF("p", "k", "ver"), "k", "ver",
      partitionCols = Seq("p"), bloomCols = Seq("k"),
      bloomExpectedItems = 100L)
    val cand = vl.candidateEntries(spark, "silver", "bcarry", col("k") === "u3")
    assert(cand.map(_.key) === Seq("c"), s"carried bloom did not prune: $cand")
    assert(vl.readWhere(spark, "silver", "bcarry", col("k") === "u2")
      .count() === 1)
    // vacuum with retain=1: v1's index is still referenced by v2's carried
    // entries, so it must survive; probing still works after the sweep
    val t = new org.apache.hadoop.fs.Path(vl.tablePath("silver", "bcarry"))
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(t, true)
    while (it.hasNext) {
      val f = it.next()
      fs.setTimes(f.getPath, System.currentTimeMillis() - 3600 * 1000L, -1)
    }
    vl.vacuum(spark, "silver", "bcarry", retainVersions = 1,
      olderThanMs = 60 * 1000L)
    assert(vl.candidateEntries(spark, "silver", "bcarry", col("k") === "u3")
      .map(_.key) === Seq("c"))
    assert(vl.readWhere(spark, "silver", "bcarry", col("k") === "u3")
      .count() === 1)
  }

  test("optimizeZOrder: slices give dir-level pruning on BOTH z columns") {
    val vl = newLake()
    // x ascending, y decorrelated (multiplicative shuffle): a sort on one
    // column alone would leave the other unprunable
    val df = spark.range(0, 1000).select(
      col("id").as("x"),
      ((col("id") * 7919) % 1000).as("y"))
    vl.write(df, "silver", "zopt")
    val v = vl.optimizeZOrder(spark, "silver", "zopt", Seq("x", "y"),
      slicesPerPartition = 8)
    assert(v === 2)
    val m = vl.candidateEntries(spark, "silver", "zopt", lit(true))
    assert(m.size >= 6, s"expected ~8 slice dirs, got ${m.size}") // ≥6 allows quantile ties
    // a narrow range on EITHER column prunes most slices…
    val cx = vl.candidateEntries(spark, "silver", "zopt", col("x") < 100)
    val cy = vl.candidateEntries(spark, "silver", "zopt", col("y") < 100)
    assert(cx.size <= m.size / 2, s"x-range kept ${cx.size}/${m.size}")
    assert(cy.size <= m.size / 2, s"y-range kept ${cy.size}/${m.size}")
    // …and results stay exact
    assert(vl.readWhere(spark, "silver", "zopt", col("x") < 100).count() === 100)
    assert(vl.readWhere(spark, "silver", "zopt", col("y") < 100).count() === 100)
    assert(vl.read(spark, "silver", "zopt").count() === 1000)
    assert(vl.read(spark, "silver", "zopt").agg(sum("x")).head.getLong(0) === 499500L)
  }

  test("optimizeZOrder on a partitioned table: keys preserved, later upserts still work") {
    val vl = newLake()
    val df = spark.range(0, 400).select(
      (col("id") % 2).cast("string").as("p"),
      col("id").as("x"), ((col("id") * 31) % 400).as("y"), lit(1L).as("ver"))
    vl.write(df, "silver", "zp", partitionCols = Seq("p"))
    vl.optimizeZOrder(spark, "silver", "zp", Seq("x", "y"),
      slicesPerPartition = 4)
    val m = vl.candidateEntries(spark, "silver", "zp", lit(true))
    assert(m.map(_.key).toSet === Set("0", "1"))
    assert(m.size > 2, "expected multiple slice dirs per partition")
    assert(vl.read(spark, "silver", "zp").count() === 400)
    // an upsert touching partition 0 collapses its slices, stays correct
    vl.upsert(spark, "silver", "zp",
      Seq(("0", 5000L, 0L, 2L)).toDF("p", "x", "y", "ver"),
      "x", "ver", partitionCols = Seq("p"))
    val after = vl.read(spark, "silver", "zp")
    assert(after.count() === 401)
    assert(after.where(col("x") === 5000L).count() === 1)
    // partition 1's slices carried forward untouched
    val m2 = vl.candidateEntries(spark, "silver", "zp", lit(true))
    assert(m2.count(_.key == "1") > 1 && m2.count(_.key == "0") === 1)
  }

  test("change data feed: keyed row-level diff between snapshots, reading only differing dirs") {
    val vl = newLake()
    vl.write(Seq(
      ("p1", "a", 1L, 10.0), ("p1", "b", 1L, 20.0),
      ("p2", "c", 1L, 30.0), ("p3", "d", 1L, 40.0))
      .toDF("p", "k", "ver", "v"), "silver", "cdf", partitionCols = Seq("p"))
    // v2: update b, insert e (both p1); delete c (p2); p3 untouched
    vl.upsert(spark, "silver", "cdf",
      Seq(("p1", "b", 2L, 21.0, false), ("p1", "e", 1L, 50.0, false),
        ("p2", "c", 2L, 0.0, true)).toDF("p", "k", "ver", "v", "gone"),
      "k", "ver", deleteCol = Some("gone"), partitionCols = Seq("p"))
    val ch = vl.changes(spark, "silver", "cdf", "k", 1, 2)
    val got = ch.select("k", "_change_type").as[(String, String)]
      .collect().toMap
    assert(got === Map("b" -> "update_postimage", "e" -> "insert",
      "c" -> "delete"))
    // post-image values for updates/inserts, pre-image for the delete
    val vals = ch.select("k", "v").as[(String, Double)].collect().toMap
    assert(vals === Map("b" -> 21.0, "e" -> 50.0, "c" -> 30.0))
    // 'a' rewrote physically (p1 got a new dir) but is value-identical →
    // not a change; and untouched p3's files never enter the diff plan:
    // every file the plan scans comes from a differing dir, none from p3's
    val scanned = ch.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten
    assert(scanned.nonEmpty)
    assert(!scanned.exists(_.contains("__gp_p=p3")),
      "CDF planned files of an untouched partition")
  }

  test("change data feed: compaction produces zero changes; schema evolution null-pads the old side") {
    val vl = newLake()
    vl.write(Seq(("p1", "a", 1L), ("p2", "b", 1L)).toDF("p", "k", "ver"),
      "silver", "cdf2", partitionCols = Seq("p"))
    vl.compact(spark, "silver", "cdf2", filesPerPartition = 1)
    // every dir differs (compaction rewrites all), but no VALUES changed
    assert(vl.changes(spark, "silver", "cdf2", "k", 1, 2).count() === 0)
    // add a column in v3 touching only p1
    vl.upsert(spark, "silver", "cdf2",
      Seq(("p1", "a", 2L, 7L)).toDF("p", "k", "ver", "extra"),
      "k", "ver", partitionCols = Seq("p"))
    val ch = vl.changes(spark, "silver", "cdf2", "k", 2, 3)
    val row = ch.collect().map(r =>
      (r.getAs[String]("k"), r.getAs[Long]("extra"),
        r.getAs[String]("_change_type"))).toSeq
    assert(row === Seq(("a", 7L, "update_postimage")))
    // identity diff is empty
    assert(vl.changes(spark, "silver", "cdf2", "k", 3, 3).count() === 0)
  }

  test("unpartitioned upsert that deletes every key leaves a readable empty snapshot") {
    val vl = newLake()
    vl.write(Seq(("a", 1L)).toDF("k", "ver"), "silver", "empty")
    vl.upsert(spark, "silver", "empty",
      Seq(("a", 2L, true)).toDF("k", "ver", "gone"),
      "k", "ver", deleteCol = Some("gone"))
    val cur = vl.read(spark, "silver", "empty")
    assert(cur.count() === 0)
    assert(cur.columns.toSet === Set("k", "ver")) // schema pinned
  }
}
