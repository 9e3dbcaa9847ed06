package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog in the morning light"),
    (2L, "the quick brown fox jumps over the lazy dog in the morning light"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog in the evening light"),  // near dup
    (4L, "completely different text about spark query engines and parquet files"),
    (5L, "THE  QUICK   brown fox jumps over the lazy dog in the morning light") // ws/case variant
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per text group") {
    val kept = Dedup.exactKeepIds(docs, "doc_id", Seq("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.toSet === Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    assert(Dedup.exact(docs, "doc_id", Seq("text")).count() === 4)
  }

  test("fingerprint dedup collapses whitespace/case variants") {
    val kept = Dedup.fingerprintKeepIds(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 1,2,5 share a normalized fingerprint
    assert(kept.toSet === Set((1L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds near-dup candidates, not the unrelated doc") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val survivors = Dedup.minhashKeepIds(docs, "doc_id", "text")
      .as[Long].collect().toSet
    assert(survivors.contains(1L) && survivors.contains(4L))
    assert(!survivors.contains(2L))
  }

  test("simhash: identical docs hamming 0; near-dups close; candidates exclude unrelated") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val hammingNear = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hammingFar = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hammingNear < hammingFar)
    val pairs = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
      .select("id_a", "id_b", "hamming").collect()
    val p12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p12.isDefined && p12.get.getInt(2) === 0)
  }

  test("short docs (no shingles) never become candidate pairs") {
    val short = Seq((1L, "hi"), (2L, "bye"), (3L, "completely unrelated"),
      (4L, ""), (5L, "one two three four five six seven")).toDF("doc_id", "text")
    assert(Dedup.minhashCandidatePairs(short, "doc_id", "text").count() === 0)
    assert(Dedup.simhashCandidatePairs(short, "doc_id", "text")
      .where("id_a = 1 OR id_b = 1").count() === 0) // 'hi' has no 2-shingles
  }

  test("connectedComponents: chains collapse transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // transitive keep: only cluster minima survive, unpaired docs kept
    val docs2 = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val victims = cc.filter { case (id, c) => id != c }.keySet
    assert(victims === Set(2L, 3L, 6L))
    val _ = docs2 // transitivity of the full path covered by the chain above
  }

  test("MinHash-LSH candidate recall on the sf0.001 corpus: 100% of exact Jaccard>=0.5 pairs") {
    // The measured-recall gate at default parameters (16 hashes, 4 bands):
    // exact truth from all-pairs shingle Jaccard, candidates must cover it.
    // Deterministic — fixed data, fixed seeds.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cands = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id"),
        array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
      .where(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .where(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double") >= 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.intersect(cands).size.toDouble / exact.size
    assert(recall === 1.0, s"missed: ${exact -- cands}")
  }

  test("SimHash candidates include EVERY pair at Hamming <= 3 (pigeonhole guarantee)") {
    // <= 3 differing bits cannot touch all 4 16-bit blocks, so any pair at
    // Hamming <= 3 shares a block and MUST bucket together — a hard
    // recall-1.0 contract, checked against all-pairs Hamming truth.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val toks = base.split(" ")
    val variants = toks.indices.map { i =>
      (100L + i, toks.updated(i, s"swap$i").mkString(" "))
    }
    val vdocs = (Seq((1L, base), (2L, base)) ++ variants).toDF("doc_id", "text")
    val sigs = vdocs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val close = (for {
      x <- sigs.keys; y <- sigs.keys if x < y
      if java.lang.Long.bitCount(sigs(x) ^ sigs(y)) <= 3
    } yield (x, y)).toSet
    assert(close.nonEmpty) // at least the exact-dup pair exercises the bound
    val cands = Dedup.simhashCandidatePairs(vdocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(close.forall(cands.contains), s"missed: ${close -- cands}")
  }

  test("MD5 simhash: bucketed candidates filtered to Hamming <= 3 equal exact all-pairs") {
    // The q37b contract, locally: the oracle-checkable signature variant's
    // bucketed path must reproduce exact truth bit-for-bit.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val toks = base.split(" ")
    val variants = toks.indices.map { i =>
      (100L + i, toks.updated(i, s"swap$i").mkString(" "))
    }
    val vdocs = (Seq((1L, base), (2L, base)) ++ variants).toDF("doc_id", "text")
    val sigs = vdocs.select(col("doc_id"),
        graft.functions.expressions.TextHashExpressions.simhashMd5(col("text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      x <- sigs.keys; y <- sigs.keys if x < y
      if java.lang.Long.bitCount(sigs(x) ^ sigs(y)) <= 3
    } yield (x, y, java.lang.Long.bitCount(sigs(x) ^ sigs(y)).toLong)).toSet
    assert(exact.nonEmpty)
    val got = Dedup.simhashCandidatePairsMd5(vdocs, "doc_id", "text")
      .where(col("hamming") <= 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming").toLong)).toSet
    assert(got === exact)
  }

  test("chunk dedup planted recall: every pair sharing a long passage is found, only those") {
    val docs = (0 until 5).flatMap { i =>
      // varied (non-periodic) content: a repetitive passage can lack any
      // content-defined boundary, leaving no complete chunk to share
      val passage = (0 until 60).map(j => s"p${i}word${j}x${i * 7 + j * 3}").mkString(" ")
      // openings/closings differ from their first character — a shared
      // prefix longer than the chunk window would itself become a shared
      // first chunk across documents
      Seq((i * 2L, s"$i${('a' + i).toChar}-distinct-opening-$i. " + passage),
        (i * 2L + 1, passage + s" ${i}z-distinct-closing-$i"))
    } :+ (100L, "completely unrelated filler text with no shared passages at all")
    val pairs = Dedup.chunkCandidatePairs(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 5).map(i => (i * 2L, i * 2L + 1)).toSet
    assert(planted.subsetOf(pairs), s"missed: ${planted -- pairs}") // recall 1.0
    assert(pairs === planted, s"false positives: ${pairs -- planted}")
  }

  test("contamination flags train docs overlapping the eval set, counts shared shingles") {
    val train = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight"), // shares eval 1's shingles
      (102L, "completely novel training content with no benchmark overlap here"),
      (103L, "benchmark answer forty two appears verbatim in this training document")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "benchmark answer forty two")
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text", n = 3, minShared = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(101L, 103L))           // 102 is clean
    assert(got(101L) === 7L)  // 9-token eval doc → 7 shared 3-shingles
    assert(got(103L) === 2L)  // "benchmark answer forty" + "answer forty two"
    // raising the threshold drops the weak overlap
    val strict = Dedup.contamination(train, eval, "doc_id", "text", n = 3, minShared = 3)
      .collect().map(_.getLong(0)).toSet
    assert(strict === Set(101L))
  }

  test("group sketch estimate within tolerance of exact Jaccard at mid-range overlap") {
    val words = (0 until 90).map(i => s"word$i")
    val grouped = Seq(
      ("ga", words.slice(0, 60).mkString(" ")),
      ("gb", words.slice(30, 90).mkString(" "))
    ).toDF("source", "text")
    // exact Jaccard of the two sources' distinct 3-shingle sets
    val sh = grouped.select(col("source"),
      array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
    val Array(sa, sb) = sh.orderBy("source").collect()
      .map(_.getAs[Seq[String]]("sh").toSet)
    val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
    assert(exact > 0.2 && exact < 0.8) // genuinely mid-range
    val est = Dedup.groupMinhashSimilarity(grouped, "source", "text")
      .collect()(0).getAs[Double]("est_jaccard")
    // 64-coordinate sketch: stderr ~ sqrt(j(1-j)/64) ~ 0.06; 0.15 is 2.5 sigma
    assert(math.abs(est - exact) <= 0.15, s"est $est vs exact $exact")
  }

  test("connectedComponents: 200-node chain converges within default maxIter (pointer jumping)") {
    // diameter 200 ≫ maxIter 20: plain min-propagation moves the label one
    // hop per round and would return partial labels; pointer jumping
    // doubles reach per round (~log2(200)+slack ≈ 9 rounds).
    // driverEdgeCap = 0 forces the DISTRIBUTED loop (the default would
    // route this tiny graph to the driver union-find fast path).
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, driverEdgeCap = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 200)
    assert(cc.forall(_._2 === 1L))
  }

  test("connectedComponents: driver union-find fast path matches the " +
    "distributed loop on a multi-component graph") {
    // 3 components: a chain, a triangle with a dangling edge, a pair —
    // plus duplicate and reversed edges to exercise normalization
    val edges = Seq(
      (5L, 6L), (6L, 7L), (7L, 8L),          // chain → min 5
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L), // triangle+tail → 20
      (40L, 41L), (41L, 40L), (40L, 41L)     // pair, dup + reversed
    ).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(edges, driverEdgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
    assert(fast(8L) === 5L && fast(23L) === 20L && fast(41L) === 40L)
    assert(fast.size === 10)
  }

  test("connectedComponents: reliable-checkpoint mode yields identical labels") {
    // Cluster mode: localCheckpoint blocks die with their executor, so the
    // checkpointDir switch pins rounds to a reliable filesystem instead.
    // Same graph, both modes, identical fixed point.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 9L))
      .toDF("id_a", "id_b")
      .union((20L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    def labelsOf(dir: Option[String]) =
      Dedup.connectedComponents(pairs, checkpointDir = dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelsOf(None)
    val reliable = labelsOf(Some(ckpt))
    assert(reliable === local)
    assert(reliable(3L) === 1L && reliable(6L) === 5L && reliable(60L) === 20L)
    // the reliable run actually wrote checkpoint data
    assert(new java.io.File(ckpt).listFiles().nonEmpty)
  }

  test("connectedComponents: empty pair set yields empty labels, no error") {
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(none).count() === 0)
  }

  test("jaccard verification scores candidate pairs exactly") {
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardVerify(docs, cands, "doc_id", "text", n = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out((1L, 3L)) > 0.5 && out((1L, 3L)) < 1.0)
    assert(out((1L, 4L)) === 0.0)
  }

  test("rolling-hash chunk candidates catch partial overlap MinHash-style shingles miss") {
    val longShared = ("the shared middle passage of this document continues " * 8)
    val partial = Seq(
      (10L, "unique prefix alpha beta. " + longShared + " unique suffix one"),
      (11L, "totally different opening words here. " + longShared + " and another ending"),
      (12L, "no overlap with anything else at all in this row of text")
    ).toDF("doc_id", "text")
    val pairs = Dedup.chunkCandidatePairs(partial, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 10L && p._2 == 11L && p._3 >= 1))
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("chunkKeepIdsVerified: shared-passage family collapses to min id, " +
       "chunk-collision alone never deletes") {
    val longShared = ("the shared middle passage of this document continues " * 8)
    val partial = Seq(
      (10L, "unique prefix alpha beta. " + longShared + " unique suffix one"),
      (11L, "totally different opening words here. " + longShared + " and another ending"),
      (12L, "no overlap with anything else at all in this row of text")
    ).toDF("doc_id", "text")
    // 10 and 11 share the long passage → candidates AND ≥0.5 overlap of the
    // smaller doc → one survivor (min id 10); 12 untouched
    val kept = Dedup.chunkKeepIdsVerified(partial, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L, 12L))
    // verification gate: raise the threshold past the real overlap and the
    // SAME candidates no longer delete anything
    val keptStrict = Dedup.chunkKeepIdsVerified(partial, "doc_id", "text",
        threshold = 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(keptStrict === Set(10L, 11L, 12L))
    // md5 path agrees on the same corpus
    val keptMd5 = Dedup.chunkKeepIdsVerifiedMd5(partial, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(keptMd5 === Set(10L, 12L))
  }

  test("group MinHash union sketches estimate cross-group Jaccard") {
    val grouped = Seq(
      ("s1", "alpha beta gamma delta epsilon zeta eta theta"),
      ("s1", "iota kappa lambda mu nu xi omicron pi"),
      ("s2", "alpha beta gamma delta epsilon zeta eta theta"),  // same as s1 doc1
      ("s2", "iota kappa lambda mu nu xi omicron pi"),          // same as s1 doc2
      ("s3", "totally unrelated words about spark catalyst expressions here")
    ).toDF("source", "text")
    val sim = Dedup.groupMinhashSimilarity(grouped, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(sim(("s1", "s2")) === 1.0)     // identical content → identical sketch
    assert(sim(("s1", "s3")) < 0.2)       // disjoint shingles → ~0
    assert(sim(("s2", "s3")) === sim(("s1", "s3")))
  }

  test("groupJaccardExact matches set arithmetic; sketch estimate bounded by it") {
    val words = (0 until 90).map(i => s"word$i")
    val grouped = Seq(
      ("ga", words.slice(0, 60).mkString(" ")),
      ("gb", words.slice(30, 90).mkString(" ")),
      ("gc", (100 until 140).map(i => s"other$i").mkString(" "))
    ).toDF("source", "text")
    // brute-force truth from collected shingle sets
    val sets = grouped.select(col("source"),
        array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
      .collect().map(r => r.getString(0) -> r.getAs[Seq[String]]("sh").toSet).toMap
    def j(a: String, b: String) =
      sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
    val got = Dedup.groupJaccardExact(grouped, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("ga", "gb")) === j("ga", "gb"))
    // disjoint pairs share no shingles → absent (J = 0), not zero rows
    assert(!got.contains(("ga", "gc")) && !got.contains(("gb", "gc")))
    // the q49 sketch's error is bounded against this exact anchor
    val est = Dedup.groupMinhashSimilarity(grouped, "source", "text")
      .where(col("group_a") === "ga" && col("group_b") === "gb")
      .collect()(0).getAs[Double]("est_jaccard")
    assert(math.abs(est - got(("ga", "gb"))) <= 0.15)
  }

  test("LSH bucket cap: a duplicate flood stays sub-quadratic and still " +
    "collapses transitively; small buckets are cap-invariant") {
    // 400 identical docs + 50 distinct: every band bucket holds the whole
    // flood — uncapped that is C(400,2) = 79800 pairs per band
    val flood = (0L until 400L).map(i =>
      (i, "the same exact duplicated text appears here again and again"))
    val distinct = (1000L until 1050L).map(i =>
      (i, s"unique document number $i with entirely fresh words ${i * 31}"))
    val docs = (flood ++ distinct).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      maxBucket = 50)
    val n = capped.count()
    // ~8 subs x C(50,2) x 4 bands deduped + chains — far under 79800
    assert(n < 40000L, s"cap ineffective: $n candidate pairs")
    // the capped candidates still close the flood into ONE component —
    // the sub-bucket rep chain is what carries closure across subs
    val clusters = Dedup.connectedComponents(capped)
      .where(col("id") < 400L).select("cluster").distinct().count()
    assert(clusters === 1L, "flood did not close into one component")
    // buckets <= cap: byte-identical to the uncapped operator (50 docs,
    // so a cap of 60 splits nothing; short texts share bands freely)
    val small = distinct.toDF("doc_id", "text")
    val a = Dedup.minhashCandidatePairs(small, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.minhashCandidatePairs(small, "doc_id", "text",
        maxBucket = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("groupMinhashSimilarityMd5: union-of-mins equals a driver-computed " +
    "md5 sketch; identical groups agree fully") {
    val grouped = Seq(
      ("s1", "alpha beta gamma delta epsilon zeta eta theta"),
      ("s1", "iota kappa lambda mu nu xi omicron pi"),
      ("s2", "alpha beta gamma delta epsilon zeta eta theta"),
      ("s2", "iota kappa lambda mu nu xi omicron pi"),
      ("s3", "alpha beta gamma delta epsilon zeta eta theta plus extra tail words here")
    ).toDF("source", "text")
    // driver replay: per group, coordinate i = min md5("i:" ++ shingle)
    // over the union of the docs' distinct 3-shingle sets
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val sets = grouped.select(col("source"),
        array_distinct(graft.functions.Text.shingles(col("text"), 3)).as("sh"))
      .collect().groupBy(_.getString(0))
      .map { case (g, rs) =>
        g -> rs.flatMap(_.getSeq[String](1)).toSet }
    def sig(g: String): Seq[String] =
      (0 until 16).map(i => sets(g).map(s => md5hex(s"$i:$s")).min)
    def estOf(a: String, b: String): Double =
      sig(a).zip(sig(b)).count { case (x, y) => x == y } / 16.0
    val got = Dedup.groupMinhashSimilarityMd5(grouped, "source", "text")
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got(("s1", "s2")) === 1.0)
    got.foreach { case ((a, b), e) =>
      assert(e === estOf(a, b), s"pair ($a,$b)") }
  }

  test("embeddingNearDupExact: threshold cut and cosine values match brute force") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupExact(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet === Set((1L, 2L), (3L, 4L)))
    // 1e-6, not tighter: inputs are float32 (0.9f != 0.9 in double)
    assert(math.abs(pairs((1L, 2L)) - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
    // LSH path's pairs are a subset of exact at the same threshold
    val lsh = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, threshold = 0.9, numPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(pairs.keySet))
  }

  test("all-pairs anchors refuse inputs over their maxRows bound") {
    val vecs = (1L to 6L).map(i => (i, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupExact(vecs, "vec_id", "embedding", 0.5, maxRows = 5)
    }
    assert(e1.getMessage.contains("embeddingNearDupPairs")) // names the scale path
    val docs = (1L to 4L).map(i => (i, s"alpha beta gamma delta doc $i"))
      .toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.containmentPairsExact(docs, "doc_id", "text", maxRows = 3)
    }
    assert(e2.getMessage.contains("chunkCandidatePairs"))
    val grouped = (1 to 5).map(g => (s"g$g", "some shared shingle text here"))
      .toDF("source", "text")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.groupJaccardExact(grouped, "source", "text", maxGroups = 4)
    }
    assert(e3.getMessage.contains("groupMinhashSimilarity"))
    // at exactly the bound, the guard stays quiet
    assert(Dedup.embeddingNearDupExact(vecs, "vec_id", "embedding", 0.5,
      maxRows = 6).count() === 15L)
  }

  test("embeddingDedupExact keeps each cosine-component's min id, transitively") {
    // 1-2 and 2-3 are near (cos >= .99) but 1-3 only via 2: closure needed
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.14f)),
      (3L, Array(0.96f, 0.28f)), (9L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val kept = Dedup.embeddingDedupExact(vecs, "vec_id", "embedding", 0.988)
      .as[Long].collect().toSet
    assert(kept === Set(1L, 9L))
  }

  test("embedding near-dup pairs via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),  // near-dup of 1
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))     // opposite
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, threshold = 0.95, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("keepBestTransitiveVerified: highest score survives per cluster, singletons pass") {
    import spark.implicits._
    // docs 1-3 near-dup family (shared text, small edits); 4-5 another
    // pair; 6 a singleton. Scores pick NON-min-id survivors deliberately.
    val family = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, family, 10L),
      (2L, s"$family today", 99L),            // longest of its family → survives
      (3L, s"$family now", 50L),
      (4L, "completely different text about spark catalyst optimizers", 5L),
      (5L, "completely different text about spark catalyst optimizer", 7L),
      (6L, "a lonely unique document with no duplicates anywhere", 1L)
    ).toDF("doc_id", "text", "score")
    val got = graft.operators.Dedup.keepBestTransitiveVerified(
        docs, "doc_id", "text", "score", n = 2, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dups"))
      .toMap
    assert(got === Map(2L -> 3L, 5L -> 2L, 6L -> 1L))
    // kept rows carry their original columns
    val cols = graft.operators.Dedup.keepBestTransitiveVerified(
      docs, "doc_id", "text", "score", n = 2, threshold = 0.5).columns.toSet
    assert(Set("doc_id", "text", "score", "n_dups").subsetOf(cols))
    // idCol named "id" (colliding with the CC label schema) must not be
    // ambiguous, and a user 'cluster' column must survive untouched
    val collide = docs.withColumnRenamed("doc_id", "id")
      .withColumn("cluster", col("id") * 100)
    val got2 = graft.operators.Dedup.keepBestTransitiveVerified(
        collide, "id", "text", "score", n = 2, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_dups"), r.getAs[Long]("cluster"))).toMap
    assert(got2 === Map(2L -> ((3L, 200L)), 5L -> ((2L, 500L)), 6L -> ((1L, 600L))))
  }

  test("containmentPairsExact catches a quoted subset that Jaccard misses") {
    import spark.implicits._
    val quote = "to be or not to be that is the question"
    val host = s"he opened with a long preamble and then said $quote before " +
      "wandering into several unrelated anecdotes about compilers and sailing"
    val docs = Seq((1L, quote), (2L, host),
      (3L, "entirely unrelated third document about parquet footers"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentPairsExact(
        docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1 fully contained in doc 2 — directed pair (1, 2) only
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(got.head._3 === 1.0)
    // the symmetric metric would never flag it: |A∩B|/|A∪B| is small
    val hand = {
      val sa = quote.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val sb = host.split(" ").sliding(3).map(_.mkString(" ")).toSet
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    assert(hand < 0.5, s"fixture not asymmetric enough: jaccard=$hand")
  }

  test("jaccardJoinExact: complete vs brute force, threshold gates, prefix prunes") {
    // distinctive vocabularies so the prefix filter has something to prune
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),        // J(1,2) = 4/6 = 0.667
      (3L, "alpha beta gamma delta epsilon"),     // J(1,3) = 1.0
      (4L, "omega psi chi phi upsilon"),          // disjoint-ish
      (5L, "omega psi chi phi tau")               // J(4,5) = 4/6
    ).toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long)] = {
      val sets = Map(
        1L -> "alpha beta gamma delta epsilon", 2L -> "alpha beta gamma delta zeta",
        3L -> "alpha beta gamma delta epsilon", 4L -> "omega psi chi phi upsilon",
        5L -> "omega psi chi phi tau").map { case (k, v) => k -> v.split(" ").toSet }
      (for (a <- sets.keys; b <- sets.keys if a < b) yield {
        val i = sets(a).intersect(sets(b)).size.toDouble
        val j = i / sets(a).union(sets(b)).size
        (a, b, j)
      }).filter(_._3 >= t).map(x => (x._1, x._2)).toSet
    }
    for (t <- Seq(0.5, 0.7, 0.99)) {
      val got = Dedup.jaccardJoinExact(docs, "doc_id", "text", t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === brute(t), s"threshold $t")
    }
    // jaccard values are exact
    val j13 = Dedup.jaccardJoinExact(docs, "doc_id", "text", 0.9)
      .where(col("id_a") === 1 && col("id_b") === 3)
      .select("jaccard").head.getDouble(0)
    assert(j13 === 1.0)
  }

  private def edPairs(strs: Seq[String], d: Int): Set[(Long, Long, Int)] =
    Dedup.editDistanceJoin(
        strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s"),
        "id", "s", maxDist = d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("editDistanceJoin: substitution, insertion, deletion and exact dups") {
    val got = edPairs(Seq("abc", "abd", "abcd", "xyz", "abc"), d = 1)
    assert(got === Set(
      (0L, 1L, 1),  // abc → abd   substitution
      (0L, 2L, 1),  // abc → abcd  insertion
      (1L, 2L, 1),  // abd → abcd  insertion
      (0L, 4L, 0),  // exact duplicate
      (1L, 4L, 1), (2L, 4L, 1)))
  }

  test("editDistanceJoin: distance-2 chains appear only at maxDist 2") {
    val d1 = edPairs(Seq("kitten", "sitten", "sittin"), d = 1)
    assert(d1 === Set((0L, 1L, 1), (1L, 2L, 1)))
    val d2 = edPairs(Seq("kitten", "sitten", "sittin"), d = 2)
    assert(d2 === Set((0L, 1L, 1), (1L, 2L, 1), (0L, 2L, 2)))
  }

  test("editDistanceJoin: empty and single-char strings are safe") {
    val got = edPairs(Seq("", "a", "b", "ab"), d = 1)
    assert(got === Set(
      (0L, 1L, 1), (0L, 2L, 1),   // "" ↔ one char
      (1L, 2L, 1),                // a ↔ b substitution
      (1L, 3L, 1), (2L, 3L, 1)))  // insertion
  }

  test("editDistanceJoin: complete vs brute force on a random corpus") {
    val rnd = new scala.util.Random(7)
    val strs = Seq.tabulate(120)(_ =>
      Seq.fill(3 + rnd.nextInt(5))("ab".charAt(rnd.nextInt(2))).mkString)
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val brute = df.select(col("id").as("id_a"), col("s").as("s_a"))
        .crossJoin(df.select(col("id").as("id_b"), col("s").as("s_b")))
        .where(col("id_a") < col("id_b") &&
          levenshtein(col("s_a"), col("s_b")) <= d)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("s_a"), col("s_b")).as("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(edPairs(strs, d) === brute, s"maxDist $d")
    }
  }

  test("commonPrefixGroups: longest shared level wins; singletons drop") {
    import spark.implicits._
    val h = "HEADER-" * 10 // 70 chars shared by docs 1-3
    val docs = Seq(
      (1L, h + "alpha tail one" * 15),  // shares 64 with 2,3; 128+ with 2
      (2L, h + "alpha tail one" * 15),  // identical to 1 → groups at 256
      (3L, h + "omega different tail" * 12),
      (4L, "short unique"),             // shorter than minPrefix → absent
      (5L, "totally different text that is long enough for level 32 ok"))
      .toDF("id", "text")
    val got = Dedup.commonPrefixGroups(docs, "id", "text",
        minPrefix = 32, maxPrefix = 256)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(3))).toMap
    // docs 1,2: full texts equal and ≥256 chars → level 256, size 2
    assert(got(1L) === ((256, 2L)) && got(2L) === ((256, 2L)))
    // doc 3 shares only the 70-char header → level 64 with both 1 and 2
    assert(got(3L) === ((64, 3L)))
    // 4 (too short) and 5 (unique prefix at every level) never appear
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("ngramNovelty: fraction of shingles absent from the reference") {
    // doc 1: 4 tokens → 2 distinct 3-shingles, one shared with ref;
    // doc 2: all shingles in ref → novelty 0; doc 3: too short → null
    val corpus = Seq(
      (1L, "a b c d"), (2L, "x y z"), (3L, "hi"))
      .toDF("doc_id", "text")
    val ref = Seq((100L, "a b c"), (101L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(corpus, ref, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d1 = got(0)
    assert(d1.getAs[Long]("n_shingles") === 2L) // "a b c", "b c d"
    assert(d1.getAs[Long]("n_novel") === 1L)    // "b c d" unseen
    assert(d1.getAs[Double]("novelty") === 0.5)
    assert(got(1).getAs[Double]("novelty") === 0.0)
    val d3 = got(2)
    assert(d3.getAs[Long]("n_shingles") === 0L)
    assert(d3.isNullAt(d3.fieldIndex("novelty")))
  }

  test("duplicationSpectrum: cluster sizes bucket with shares and excess") {
    // texts: a ×1, b ×2, c ×4, d ×12 → buckets 1, 2, 3-5, 11+
    val rows = (Seq("a") ++ Seq.fill(2)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(12)("d")).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.duplicationSpectrum(rows, Seq("text"))
      .orderBy("bucket").collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("n_excess"))).toMap
    assert(got("1") === ((1L, 1L, 0L)))
    assert(got("2") === ((1L, 2L, 1L)))
    assert(got("3-5") === ((1L, 4L, 3L)))
    assert(got("11+") === ((1L, 12L, 11L)))
    assert(!got.contains("6-10"))
    // shares sum to 1 over 19 docs
    val shares = Dedup.duplicationSpectrum(rows, Seq("text"))
      .agg(sum("docs_share")).head().getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-12)
  }

  test("repeatedSpans: keep-first spans, merged islands, same-doc repeats") {
    import spark.implicits._
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = toks("s", 25) // one 25-token block pasted around
    val rows = Seq(
      (1L, toks("a", 10) + " " + shared + " " + toks("z", 7)),
      (2L, toks("b", 5) + " " + shared),
      (3L, toks("u", 40)),
      (4L, shared + " " + toks("f", 5) + " " + shared))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(rows, "doc_id", "text", windowTokens = 20)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 is the global first occurrence -> untouched; doc 3 unique;
    // doc 2's copy covers positions [5, 30); doc 4 has TWO scrubbed
    // copies, [0,25) and [30,55) (straddling windows are unique)
    assert(spans.toSeq === Seq(
      (2L, 5L, 30L, 25L),
      (4L, 0L, 25L, 25L), (4L, 30L, 55L, 25L)))

    val clean = Dedup.scrubRepeatedSpans(rows, "doc_id", "text",
        windowTokens = 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))
    assert(clean(0) === ((1L, 42L, 0L, rows.where($"doc_id" === 1L)
      .head().getString(1))))
    assert(clean(1) === ((2L, 30L, 25L, toks("b", 5))))
    assert(clean(2) === ((3L, 40L, 0L, toks("u", 40))))
    assert(clean(3) === ((4L, 55L, 50L, toks("f", 5))))
  }

  test("repeatedSpans: sub-window duplication and short docs stay clean") {
    import spark.implicits._
    // a 19-token shared block under a 20-token window -> no span; a doc
    // shorter than the window can never be scrubbed
    val block = (0 until 19).map(i => s"c$i").mkString(" ")
    val rows = Seq(
      (1L, block + " x0 x1"),
      (2L, block + " y0 y1"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(rows, "doc_id", "text", 20).count() === 0L)
    val clean = Dedup.scrubRepeatedSpans(rows, "doc_id", "text", 20)
      .orderBy("doc_id").collect()
    assert(clean.map(_.getAs[Long]("n_removed")).toSeq === Seq(0L, 0L, 0L))
    assert(clean(2).getAs[String]("clean_text") === "tiny doc")
  }

  test("contaminatedSpans: corpus spans flagged only where the reference " +
    "has them, reference-internal dups irrelevant") {
    import spark.implicits._
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val evalBlock = toks("e", 22)
    val reference = Seq(
      (100L, toks("r", 5) + " " + evalBlock),
      (101L, evalBlock + " " + toks("q", 3))) // the block twice in ref
      .toDF("ref_id", "text")
    val corpus = Seq(
      (1L, toks("a", 6) + " " + evalBlock + " " + toks("z", 4)),
      (2L, toks("b", 30)),                     // clean
      (3L, evalBlock))                         // the whole doc is eval text
      .toDF("doc_id", "text")
    val got = Dedup.contaminatedSpans(corpus, reference, "doc_id", "text",
        "ref_id", "text", windowTokens = 20)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 6L, 28L, 22L), (3L, 0L, 22L, 22L)))
  }

  test("lshPlan: closed-form S-curve and s50 per (bands, rows) split") {
    val plan = Dedup.lshPlan(spark, numHashes = 4,
        simGrid = Seq(0.5, 0.9)).collect()
      .map(r => ((r.getInt(0), r.getDouble(3)),
        (r.getDouble(2), r.getDouble(4)))).toMap
    assert(plan.size === 6) // (1,4),(2,2),(4,1) × two grid points
    // b=1,r=4: P(s)=s⁴, s50 = .5^(1/4); b=4,r=1: P=1−(1−s)⁴
    val (s50a, p1) = plan((1, 0.5))
    assert(math.abs(p1 - 0.0625) < 1e-12)
    assert(math.abs(s50a - math.pow(0.5, 0.25)) < 1e-12)
    val (s50b, p4) = plan((4, 0.5))
    assert(math.abs(p4 - 0.9375) < 1e-12)
    assert(math.abs(s50b - (1.0 - math.pow(0.5, 0.25))) < 1e-12)
    // more bands at fixed hashes always lowers the effective threshold
    assert(s50b < plan((2, 0.5))._1 && plan((2, 0.5))._1 < s50a)
  }
}
