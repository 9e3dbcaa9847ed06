package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Vectors
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f)),
    (5L, Array(1.0f, 0.0f, 0.01f))
  ).toDF("vec_id", "embedding")

  test("vector primitives: dot / norm / cosine") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(
      Vectors.dot(col("a"), col("b")),
      Vectors.norm(col("a")),
      Vectors.cosine(col("a"), col("a")),
      Vectors.l2Distance(col("a"), col("b"))).head()
    assert(r.getDouble(0) === 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(3) - math.sqrt(27)) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    val r = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(r === 0.0)
  }

  test("brute-force top-k ranks nearest first, excludes self") {
    val got = Similarity.bruteForceTopK(vecs, vecs.where("vec_id = 1"),
        "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("nbr_id"), r.getAs[Int]("rank")))
    assert(got.length === 2)
    assert(got(0)._1 === 5L) // cos ≈ 0.99995
    assert(got(1)._1 === 2L) // cos ≈ 0.9939
  }

  test("LSH top-k returns only same-bucket neighbors with correct scores") {
    val got = Similarity.lshTopK(vecs, vecs.where("vec_id = 1"),
        "vec_id", "embedding", dim = 3, k = 3, numPlanes = 2)
      .collect()
    // recall is approximate; whatever comes back must be correctly scored
    got.foreach { r =>
      assert(r.getAs[Double]("cos") <= 1.0 + 1e-12)
      assert(r.getAs[Long]("nbr_id") !== 1L)
    }
  }

  // 4 orthogonal-axis clusters × 10 vectors in 8 dims, deterministic jitter
  private lazy val clustered = {
    val rows = for (c <- 0 until 4; i <- 0 until 10) yield {
      val v = Array.fill(8)(0.0f)
      v(c * 2) = 1.0f
      v(c * 2 + 1) = 0.05f * (i % 5)
      ((c * 10 + i).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def nbrPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet

  /** ivfCentroids' Lloyd loop as it was with the two-aggregate meansOf
    * (a (cell, pos) mean, then a cell-keyed collect_list only to reshape
    * it), kept literally. Returns (cell, centroid) ascending by cell.
    */
  private def referenceIvfCentroids(corpus: org.apache.spark.sql.DataFrame,
                                    idCol: String, vecCol: String,
                                    numCells: Int, seed: Long,
                                    iters: Int): Seq[(Int, Seq[Double])] = {
    val train = corpus.select(col(idCol).as("__tid"), col(vecCol).as("__tv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def meansOf(assigned: org.apache.spark.sql.DataFrame) = assigned
      .select(col("cell0"), posexplode(col("__tv")).as(Seq("pos", "x")))
      .groupBy("cell0", "pos").agg(avg("x").as("cx"))
      .groupBy("cell0").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          s => s.getField("cx")).as("centroid"))
    def collectCentroids(c: org.apache.spark.sql.DataFrame) = {
      val rows = c.select(col("cell0").cast("int"), col("centroid")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
      (rows.map(_._1).toSeq, rows.map(_._2.toSeq).toSeq)
    }
    var current = collectCentroids(meansOf(train.withColumn("cell0",
      pmod(xxhash64(col("__tid"), lit(seed)), lit(numCells)))))
    for (_ <- 0 until iters) {
      val (ids, cents) = current
      current = collectCentroids(meansOf(train.select(
        graft.functions.expressions.VectorExpressions
          .nearestCells(col("__tv"), cents, ids)(0).getField("cell")
          .as("cell0"),
        col("__tv"))))
    }
    train.unpersist()
    current._1.zip(current._2)
  }

  test("ivfCentroids: bit-identical to the two-aggregate Lloyd rounds, " +
    "with fewer jobs") {
    val rnd = new scala.util.Random(17)
    val emb = (1L to 400L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    for ((corpus, cells, seed) <- Seq((emb, 8, 42L), (emb, 5, 7L),
        (clustered, 4, 42L))) {
      val (ref, refJobs) = JobCount.of(spark)(
        referenceIvfCentroids(corpus, corpus.columns(0), "embedding", cells,
          seed, iters = 4))
      val (got, jobs) = JobCount.of(spark)(
        Similarity.ivfCentroids(corpus, corpus.columns(0), "embedding", cells,
          seed = seed).collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).sortBy(_._1)
          .toSeq)
      def bits(cs: Seq[(Int, Seq[Double])]) =
        cs.map { case (c, v) => c -> v.map(java.lang.Double.doubleToRawLongBits) }
      assert(bits(got) === bits(ref), s"$cells cells, seed $seed")
      assert(jobs < refJobs, s"$jobs jobs vs $refJobs")
    }
  }

  /** pqCodebooks' Lloyd loop as it was with the two-aggregate meansOf (a
    * (sub, cell, pos) mean, then a (sub, cell) collect_list to reshape it,
    * collected every round), kept literally. Returns (sub, cell, centroid)
    * ascending by sub, then cell.
    */
  private def referencePqCodebooks(corpus: org.apache.spark.sql.DataFrame,
                                   idCol: String, vecCol: String, dim: Int,
                                   numSub: Int, ksub: Int, seed: Long,
                                   iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val d = dim / numSub
    val subRows = corpus.select(col(idCol).as("__id"),
        explode(array((0 until numSub).map(s =>
          struct(lit(s).as("sub"),
            slice(col(vecCol), s * d + 1, d).as("sv"))): _*)).as("e"))
      .select(col("__id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def meansOf(assigned: org.apache.spark.sql.DataFrame) = assigned
      .select(col("sub"), col("cell0"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("sub", "cell0", "pos").agg(avg("x").as("cx"))
      .groupBy("sub", "cell0").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          s => s.getField("cx")).as("centroid"))
    def collectCodebooks(books: org.apache.spark.sql.DataFrame) =
      books.selectExpr("cast(sub as int) sub", "cast(cell0 as int) cell", "centroid")
        .collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (s, rows) =>
          val sorted = rows.map(r => r.getInt(1) -> r.getSeq[Double](2).toSeq)
            .sortBy(_._1).toSeq
          s -> ((sorted.map(_._1), sorted.map(_._2)))
        }
    var bySub = collectCodebooks(meansOf(subRows.withColumn("cell0",
      pmod(xxhash64(col("__id"), col("sub"), lit(seed)), lit(ksub)))))
    for (_ <- 0 until iters) {
      val assign = bySub.foldLeft(lit(-1L)) { case (acc, (s, (ids, cents))) =>
        when(col("sub") === s,
          graft.functions.expressions.VectorExpressions
            .nearestCells(col("sv"), cents, ids)(0).getField("cell")
            .cast("long"))
          .otherwise(acc)
      }
      bySub = collectCodebooks(meansOf(subRows.withColumn("cell0", assign)))
    }
    subRows.unpersist()
    for ((s, (ids, cents)) <- bySub; (c, v) <- ids.zip(cents)) yield (s, c, v)
  }

  test("pqCodebooks: bit-identical to the two-aggregate Lloyd rounds, " +
    "with fewer jobs") {
    val rnd = new scala.util.Random(23)
    val emb = (1L to 400L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    for ((numSub, ksub, seed) <- Seq((4, 8, 42L), (2, 5, 7L), (8, 4, 42L))) {
      val (ref, refJobs) = JobCount.of(spark)(
        referencePqCodebooks(emb, "vec_id", "embedding", 16, numSub, ksub,
          seed, iters = 3))
      val (got, jobs) = JobCount.of(spark)(
        Similarity.pqCodebooks(emb, "vec_id", "embedding", dim = 16,
          numSub = numSub, ksub = ksub, seed = seed).collect()
          .map(r => (r.getInt(0), r.getLong(1).toInt, r.getSeq[Double](2).toSeq))
          .sortBy(r => (r._1, r._2)).toSeq)
      def bits(cs: Seq[(Int, Int, Seq[Double])]) =
        cs.map { case (s, c, v) => (s, c, v.map(java.lang.Double.doubleToRawLongBits)) }
      assert(bits(got) === bits(ref), s"$numSub subspaces × $ksub cells, seed $seed")
      assert(jobs < refJobs, s"$jobs jobs vs $refJobs")
    }
  }

  test("ivfTopK probing every cell equals brute force exactly") {
    val q = clustered.where(col("vec_id") % 7 === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Int]("rank"))).toSet
    val bf = asSet(Similarity.bruteForceTopK(clustered, q, "vec_id", "embedding", 3))
    val ivf = asSet(Similarity.ivfTopK(clustered, q, "vec_id", "embedding", 3,
      numCells = 4, nprobe = 4))
    assert(ivf === bf)
  }

  test("Lloyd-iterated IVF recall >= single-table LSH recall on a clustered corpus") {
    val q = clustered.where(col("vec_id") % 9 === 0)
    val exact = nbrPairs(Similarity.bruteForceTopK(clustered, q, "vec_id", "embedding", 3))
    def recall(approx: Set[(Long, Long)]) =
      approx.intersect(exact).size.toDouble / exact.size
    val ivfR = recall(nbrPairs(Similarity.ivfTopK(clustered, q, "vec_id", "embedding",
      3, numCells = 4, nprobe = 1)))
    val lshR = recall(nbrPairs(Similarity.lshTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numPlanes = 4, numTables = 1)))
    assert(ivfR >= lshR)   // the quantizer separates the clusters
    assert(ivfR >= 0.9)    // near-perfect at nprobe=1 on cleanly-clustered data
  }

  test("multi-table LSH top-3 recall >= 0.8 vs exact on the structureless embeddings") {
    // The hard case: sf0.001 embeddings are near-random (top-1 cos ~0.35),
    // where a single 6-plane table measured ~5% recall. q39c's gate
    // parameters (3 planes x 10 tables) must measure >= 0.8; deterministic
    // because data and seeds are fixed.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") <= 20)
    val exact = nbrPairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3))
    val multi = nbrPairs(Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3))
    val single = nbrPairs(Similarity.lshTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3, numPlanes = 6, numTables = 1))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    assert(recall(multi) >= 0.8)
    assert(recall(multi) > recall(single)) // the tables are why
  }

  test("recall-targeted LSH sizing: solver math, and measured recall tracks predicted") {
    // Solver arithmetic: 85% at cosine 0.2 needs 10 tables of 3 planes
    // (the config the gate measured ~0.9 with), and more planes always
    // means more tables for the same promise.
    assert(Similarity.lshParamsForRecall(0.85, 0.2) === (3, 10))
    assert(Similarity.lshTablesForRecall(0.85, 0.2, 2) === 5)
    val t1 = Similarity.lshTablesForRecall(0.9, 0.3, 4)
    assert(Similarity.lshCandidateProb(0.3, 4, t1) >= 0.9)
    assert(Similarity.lshCandidateProb(0.3, 4, t1 - 1) < 0.9)
    // a target no single-plane budget can meet fails loudly
    intercept[IllegalArgumentException] {
      Similarity.lshParamsForRecall(0.999, 0.05, maxTables = 4)
    }

    // Measured-vs-predicted on the real embeddings: for each true top-3
    // pair, the formula predicts its candidate probability from its OWN
    // cosine; the mean prediction must track the measured recall of the
    // derived configuration (planes are random, so ±0.15 slack).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") <= 20)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")),
        r.getAs[Double]("cos")))
    val (planes, tables) = Similarity.lshParamsForRecall(0.85, 0.2)
    val predicted = exact
      .map(p => Similarity.lshCandidateProb(p._2, planes, tables))
      .sum / exact.length
    val found = nbrPairs(Similarity.lshTopKForRecall(emb, q, "vec_id",
      "embedding", dim = 64, k = 3, targetRecall = 0.85, cosineThreshold = 0.2))
    val measured =
      found.intersect(exact.map(_._1).toSet).size.toDouble / exact.length
    assert(measured >= 0.8, s"measured recall $measured below the gate bar")
    assert(math.abs(measured - predicted) <= 0.15,
      s"measured $measured does not track predicted $predicted")
  }

  test("PQ codebooks and codes are well-formed; encode is one code per subspace") {
    val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      dim = 8, numSub = 4, ksub = 4)
    val rows = books.collect()
    // at most numSub × ksub centroids, each of dim/numSub dims
    assert(rows.length <= 16)
    assert(rows.forall(_.getSeq[Double](2).length === 2))
    assert(rows.map(r => (r.getAs[Int]("sub"), r.getAs[Long]("cell"))).distinct.length === rows.length)
    val coded = Similarity.pqEncode(clustered, "vec_id", "embedding", 8, books)
    assert(coded.count() === 40)
    val codes = coded.collect().map(_.getSeq[Int](1))
    assert(codes.forall(_.length === 4))
    assert(codes.forall(_.forall(c => c >= 0 && c < 4)))
  }

  test("PQ top-k with exact re-rank: perfect recall on the clustered corpus, scores exact") {
    val q = clustered.where(col("vec_id") % 7 === 0)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id")) ->
        r.getAs[Double]("cos")).toMap
    val bf = asMap(Similarity.bruteForceTopK(clustered, q, "vec_id", "embedding", 3))
    val pq = asMap(Similarity.pqTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numSub = 4, ksub = 4, refine = 4))
    // clusters are axis-aligned → quantized scores separate them; the
    // refine·k candidate pool then recovers the exact top-3
    assert(pq.keySet === bf.keySet)
    // re-rank recomputes TRUE cosine: scores bit-match brute force
    pq.foreach { case (k2, c) => assert(c === bf(k2)) }
  }

  test("PQ recall on structureless embeddings beats its own no-refine floor and clears 0.6") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") <= 20)
    val exact = nbrPairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    val wide = recall(nbrPairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3, numSub = 16, ksub = 16, refine = 8)))
    val narrow = recall(nbrPairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3, numSub = 16, ksub = 16, refine = 1)))
    assert(wide >= 0.6, s"PQ recall $wide below floor on random embeddings")
    assert(wide >= narrow, "a wider refine pool must not lose recall")
  }

  test("sample-trained quantizers: exhaustive configs stay exact, production recall holds") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toInt
    val q = emb.where(col("vec_id") <= 20)
    val exact = nbrPairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3))
    // an exhaustive refine pool means the ADC stage only ORDERS candidates,
    // so the result is exact for ANY codebook — including one trained on a
    // hash-sampled half of the corpus (the 100 TB configuration)
    val ex = nbrPairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3, numSub = 16, ksub = 16, refine = (n + 2) / 3,
      iters = 1, trainFraction = 0.5))
    assert(ex === exact)
    // production config (bounded refine) with sampled training still holds
    // a recall floor on the structureless embeddings; deterministic seeds
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    val r = recall(nbrPairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      dim = 64, k = 3, numSub = 16, ksub = 16, refine = 8,
      trainFraction = 0.5)))
    assert(r >= 0.5, s"sample-trained PQ recall $r below floor")
    // IVF with every cell probed is exact regardless of where the
    // centroids came from: each corpus vector lands in exactly one cell
    val cq = clustered.where(col("vec_id") % 7 === 0)
    val bf = nbrPairs(Similarity.bruteForceTopK(clustered, cq, "vec_id", "embedding", 3))
    val ivf = nbrPairs(Similarity.ivfTopK(clustered, cq, "vec_id", "embedding",
      3, numCells = 4, nprobe = 4, trainFraction = 0.6))
    assert(ivf === bf)
  }

  test("trained quantizer artifacts: search == fused call, and survive a parquet roundtrip") {
    val q = clustered.where(col("vec_id") % 7 === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Int]("rank"), math.round(r.getAs[Double]("cos") * 1e9))).toSet
    // PQ: train-once artifact reproduces the fused path exactly
    val fused = asSet(Similarity.pqTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numSub = 4, ksub = 4, refine = 4))
    val books = Similarity.pqCodebooks(clustered, "vec_id", "embedding",
      dim = 8, numSub = 4, ksub = 4)
    assert(asSet(Similarity.pqSearch(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, codebooks = books, refine = 4)) === fused)
    // ... including after persisting the codebook and reading it back
    val dir = java.nio.file.Files.createTempDirectory("pqbooks").toString
    books.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    assert(asSet(Similarity.pqSearch(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, codebooks = reloaded, refine = 4)) === fused)
    // IVF+PQ: same contract for the two-table model
    val fused2 = asSet(Similarity.ivfPqTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numCells = 4, nprobe = 4, numSub = 4, ksub = 4,
      refine = 1000))
    val m = Similarity.ivfPqTrain(clustered, "vec_id", "embedding", dim = 8,
      numCells = 4, numSub = 4, ksub = 4)
    val cdir = java.nio.file.Files.createTempDirectory("ivfpq_c").toString
    val bdir = java.nio.file.Files.createTempDirectory("ivfpq_b").toString
    m.centroids.write.mode("overwrite").parquet(cdir)
    m.codebooks.write.mode("overwrite").parquet(bdir)
    val m2 = Similarity.IvfPqModel(spark.read.parquet(cdir),
      spark.read.parquet(bdir))
    assert(asSet(Similarity.ivfPqSearch(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, m2, nprobe = 4, refine = 1000)) === fused2)
    // IVF: centroid artifact path
    val fused3 = asSet(Similarity.ivfTopK(clustered, q, "vec_id", "embedding",
      k = 3, numCells = 4, nprobe = 4))
    val cents = Similarity.ivfCentroids(clustered, "vec_id", "embedding",
      numCells = 4).withColumnRenamed("cell0", "cell")
    assert(asSet(Similarity.ivfSearch(clustered, q, "vec_id", "embedding",
      k = 3, centroids = cents, nprobe = 4)) === fused3)
  }

  test("IVF+PQ: probing every cell with an exhaustive pool equals brute force exactly") {
    val q = clustered.where(col("vec_id") % 7 === 0)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"),
        r.getAs[Int]("rank"), math.round(r.getAs[Double]("cos") * 1e9))).toSet
    val bf = asSet(Similarity.bruteForceTopK(clustered, q, "vec_id", "embedding", 3))
    val ivfpq = asSet(Similarity.ivfPqTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numCells = 4, nprobe = 4, numSub = 4, ksub = 4,
      refine = 14)) // refine·k ≥ 40 = exhaustive
    assert(ivfpq === bf)
  }

  test("IVF+PQ: pruned probe keeps high recall on the clustered corpus") {
    val q = clustered.where(col("vec_id") % 9 === 0)
    val exact = nbrPairs(Similarity.bruteForceTopK(clustered, q, "vec_id", "embedding", 3))
    val got = nbrPairs(Similarity.ivfPqTopK(clustered, q, "vec_id", "embedding",
      dim = 8, k = 3, numCells = 4, nprobe = 1, numSub = 4, ksub = 4,
      refine = 4))
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF+PQ recall $recall on cleanly clustered data")
  }

  test("NearestCells yields null on dimension mismatch or null elements, never garbage") {
    import graft.functions.expressions.VectorExpressions
    val cents = Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0))
    val df = Seq(
      (1L, Some(Array(1.0f, 1.0f, 1.0f))),
      (2L, Some(Array(1.0f, 1.0f)))           // wrong dimension
    ).toDF("id", "v")
      .union(Seq((3L, None: Option[Array[Float]])).toDF("id", "v"))
    val got = df.select(col("id"),
        VectorExpressions.nearestCells(col("v"), cents, Seq(0, 1)).as("r"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got(1L) === false)
    assert(got(2L) === true)
    assert(got(3L) === true)
    // null ELEMENT inside the array
    val withNullElem = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(1.0 AS FLOAT)) AS v")
    val r2 = withNullElem.select(
      VectorExpressions.nearestCells(col("v"), cents, Seq(0, 1)).as("r")).collect()(0)
    assert(r2.isNullAt(0))
  }

  test("IVF assigns every vector to exactly one cell") {
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", numCells = 2)
    assert(assigned.count() === 5)
    assert(assigned.select("vec_id").distinct().count() === 5)
    val topk = Similarity.ivfTopK(vecs, vecs.where("vec_id = 1"),
      "vec_id", "embedding", k = 2, numCells = 2)
    topk.collect().foreach(r => assert(r.getAs[Long]("nbr_id") !== 1L))
  }

  test("semDedup: within-cell near-dups collapse to min id; distinct content survives") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val vecs = Seq(
      (10L, v(1.0, 0.01)), (11L, v(1.0, 0.02)),   // cell 0 near-dups → keep 10
      (20L, v(0.01, 1.0)), (21L, v(-0.01, 1.0)),  // cell 1 near-dups → keep 20
      (30L, v(0.6, -0.8))                          // cell 0, dissimilar → kept
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vecs, "vec_id", "embedding",
        cellIds = Seq(0, 1), centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
        threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(10L, 20L, 30L))
    // survivors carry their original row shape
    val cols = Similarity.semDedup(vecs, "vec_id", "embedding",
      Seq(0, 1), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), 0.95).columns.toSeq
    assert(cols === Seq("vec_id", "embedding"))
  }

  test("knnLabelPropagation: planted clusters vote their label; ties break low") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val labeled = Seq(
      (1L, v(1.0, 0.05), 7), (2L, v(1.0, -0.05), 7), (3L, v(0.98, 0.1), 7),
      (4L, v(0.05, 1.0), 2), (5L, v(-0.05, 1.0), 2), (6L, v(0.1, 0.98), 2)
    ).toDF("vec_id", "embedding", "label")
    val pool = Seq((10L, v(1.0, 0.0)), (11L, v(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnLabelPropagation(labeled, pool,
        "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(10L) === ((7, 3L))) // unanimous x-cluster
    assert(got(11L) === ((2, 3L))) // unanimous y-cluster
    // k=4 at the x-pole: 3 votes for 7, 1 for 2 — majority holds
    val k4 = Similarity.knnLabelPropagation(labeled, pool.where($"vec_id" === 10),
      "vec_id", "embedding", "label", k = 4).head()
    assert(k4.getInt(1) === 7 && k4.getLong(2) === 3L)
  }

  test("centroidMargins: a vector planted in the wrong cluster goes negative") {
    import spark.implicits._
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val df = Seq(
      (1L, v(1.0, 0.05), 0), (2L, v(1.0, -0.05), 0), (3L, v(0.98, 0.1), 0),
      (4L, v(0.05, 1.0), 1), (5L, v(-0.05, 1.0), 1),
      (9L, v(0.99, 0.02), 1) // x-cluster vector labeled as the y-cluster
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.centroidMargins(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(5), r.getInt(3))).toMap
    assert(m(1L)._1 > 0)                  // correctly-labeled: positive margin
    assert(m(9L)._1 < 0)                  // planted mislabel: negative
    assert(m(9L)._2 === 0)                // ...and its nearest OTHER class is 0
  }

  test("semDedup maxCellSize: an identical-vector flood in ONE cell still " +
       "collapses to one survivor through the representative chain") {
    import spark.implicits._
    // 40 identical vectors + 1 distinct, all in cell 0 — the 90%-one-cell
    // skew shape. cap=8 forces ceil(41/8)=6 sub-buckets; without the
    // rep-chain the flood would survive once per sub-bucket.
    val flood = (1L to 40L).map(i => (i, Seq(1.0f, 0.0f))) :+
      (99L, Seq(0.9f, 0.436f)) // cos≈0.90 < threshold vs the flood
    val kept = Similarity.semDedup(flood.toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        cellIds = Seq(0, 1), centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
        threshold = 0.95, maxCellSize = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 99L))
    // cap larger than the cell → bit-identical to the uncapped operator
    val keptBig = Similarity.semDedup(flood.toDF("vec_id", "embedding"),
        "vec_id", "embedding", Seq(0, 1),
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), 0.95, maxCellSize = 4096)
      .select("vec_id").as[Long].collect().toSet
    assert(keptBig === Set(1L, 99L))
  }

  test("marginMining: the margin out-ranks a hub the raw cosine prefers") {
    // srcs x1..x3 cluster on the x-axis; query xq sits on z. Target h is
    // a HUB: closest to xq by raw cosine (0.937) but also near the whole
    // x-cluster, so its neighbour level is high; y* is slightly farther
    // from xq (0.9) but distinctive — margin must pick y* over h.
    val srcs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(0.8f, 0.2f, 0.0f)),
      (6L, Array(0.0f, 0.0f, 1.0f))) // xq
      .toDF("vec_id", "embedding")
    val tgts = Seq(
      (1L, Array(0.35f, 0.0f, 0.937f)), // hub h
      (3L, Array(0.0f, 0.42f, 0.9f)))   // distinctive y*
      .toDF("vec_id", "embedding")
    val got = Similarity.marginMining(srcs, tgts, "vec_id", "embedding",
        k = 4, threshold = 0.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    assert(got(6L)._1 === 3L, "margin must prefer the distinctive target")
    // raw cosine would have picked the hub: verify the premise holds
    val cosQ = Similarity.bruteForceTopK(tgts, srcs.where(col("vec_id") === 6),
        "vec_id", "embedding", k = 1).head
    assert(cosQ.getLong(1) === 1L, "premise: hub wins on raw cosine")
    // margins exceed 1 for genuinely-paired points
    assert(got(6L)._2 > 1.0)
  }

  test("marginMining: threshold filters; bound guard refuses oversized sides") {
    val a = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val b = Seq((1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // orthogonal pair: margin = cos/cos = 1 exactly... cos is 0 here, so
    // margin is NaN-guarded by the threshold filter → empty at ≥ 1
    assert(Similarity.marginMining(a, b, "vec_id", "embedding",
      k = 2, threshold = 1.5).count() === 0)
    val big = spark.range(30001)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.marginMining(big, b, "vec_id", "embedding")
    }
  }

  test("mutualKnn: only reciprocated pairs survive, emitted once with both ranks") {
    val nbrs = Seq(
      (1L, 2L, 0.9, 1), (2L, 1L, 0.9, 2),  // mutual
      (1L, 3L, 0.8, 2),                    // 3 never ranks 1 → dropped
      (3L, 4L, 0.7, 1), (4L, 3L, 0.7, 1),  // mutual
      (2L, 3L, 0.6, 1)                     // no 3→2 → dropped
    ).toDF("query_id", "nbr_id", "cos", "rank")
    val got = Similarity.mutualKnn(nbrs).orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getInt(4)))
    assert(got.toSeq === Seq((1L, 2L, 1, 2), (3L, 4L, 1, 1)))
  }

  test("mmrRerank: diversification beats a redundant higher-relevance " +
    "hit; lambda=1 reduces to pure relevance") {
    import spark.implicits._
    // A is the top hit; B is its near-duplicate; C is orthogonal.
    // λ=.5: round 2 scores B at .5·.95 − .5·cos(B,A) ≈ −.025 and C at
    // .5·.5 − 0 = .25 → C wins despite lower relevance
    val cands = Seq(
      (0L, 1L, 1.0, Array(1.0f, 0.0f)),
      (0L, 2L, 0.95, Array(1.0f, 0.01f)),
      (0L, 3L, 0.5, Array(0.0f, 1.0f)),
      (1L, 4L, 0.9, Array(1.0f, 1.0f)) // second query reranks in lockstep
    ).toDF("q", "id", "score", "vec")
    val div = operators.Similarity.mmrRerank(cands, "q", "id", "score",
        "vec", k = 2, lambda = 0.5)
      .orderBy("q", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(div.toSeq === Seq((0L, 1L, 1), (0L, 3L, 2), (1L, 4L, 1)))
    val rel = operators.Similarity.mmrRerank(cands, "q", "id", "score",
        "vec", k = 2, lambda = 1.0)
      .orderBy("q", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rel.toSeq === Seq((0L, 1L, 1), (0L, 2L, 2), (1L, 4L, 1)))
  }

  test("kCenterCoreset: farthest-first picks with running-min carry; " +
    "radius decays monotonically; k beyond the pool returns all") {
    import spark.implicits._
    // unit vectors: seed 1=(1,0); 4=(-1,0) is farthest (d=2), then
    // 3=(0,1) (d=1 to both), then 2=(.6,.8) whose nearest center after
    // round 3 is 3 (d = 1-.8 = .2)
    val pool = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val got = operators.Similarity.kCenterCoreset(pool, "id", "vec", k = 4)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 4L, 3L, 2L))
    assert(got(0).isNullAt(got(0).fieldIndex("radius")))
    assert(math.abs(got(1).getAs[Double]("radius") - 2.0) < 1e-6)
    assert(math.abs(got(2).getAs[Double]("radius") - 1.0) < 1e-6)
    assert(math.abs(got(3).getAs[Double]("radius") - 0.2) < 1e-6)
    // covering radius is non-increasing down the ranks on random vectors
    val rnd = new scala.util.Random(41)
    val rpool = (1L to 25L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))).toDF("id", "vec")
    val radii = operators.Similarity.kCenterCoreset(rpool, "id", "vec",
        k = 6)
      .orderBy("rank").collect().drop(1).map(_.getAs[Double]("radius"))
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a + 1e-12 },
      radii.mkString(","))
    // k > pool: every point returns exactly once
    val all = operators.Similarity.kCenterCoreset(pool, "id", "vec", k = 9)
      .collect()
    assert(all.length === 4)
    assert(all.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("facilityLocationSelect: greedy coverage picks with hand-computed " +
    "marginal gains; zero-gain early exit; duplicate-direction tie by id") {
    import spark.implicits._
    // unit vectors: 1=(1,0), 2=(1,0) dup, 3=(0,1), 4=(.6,.8).
    // Round 1 gains: c1=c2 = 1+1+0+.6 = 2.6, c3 = 1.8, c4 = 3.0 -> pick 4.
    // Round 2: c1=c2 = (1-.6)*2 = .8 (tie -> id 1), c3 = .2 -> pick 1.
    // Round 3: c2 fully covered by 1 (gain 0), c3 = .2 -> pick 3.
    // Round 4: only c2 left at gain 0 -> greedy stops (3 rows for k=4).
    val pool = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.6f, 0.8f)))
      .toDF("id", "vec")
    val got = operators.Similarity.facilityLocationSelect(
        pool, "id", "vec", k = 4)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(4L, 1L, 3L))
    assert(got.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
    val gains = got.map(_.getAs[Double]("gain"))
    assert(math.abs(gains(0) - 3.0) < 1e-6)
    assert(math.abs(gains(1) - 0.8) < 1e-6)
    assert(math.abs(gains(2) - 0.2) < 1e-6)
  }

  test("facilityLocationSelect: gains non-increasing (submodularity), " +
    "anti-aligned points still self-cover via the 0 floor, k bounded by " +
    "the pool, maxRows contract enforced") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val rpool = (1L to 30L).map(i =>
      (i, Array.fill(6)(rnd.nextFloat() - 0.5f))).toDF("id", "vec")
    val gains = operators.Similarity.facilityLocationSelect(
        rpool, "id", "vec", k = 5)
      .orderBy("rank").collect().map(_.getAs[Double]("gain"))
    assert(gains.zip(gains.tail).forall { case (a, b) => b <= a + 1e-9 },
      gains.mkString(","))
    // opposite unit vectors: each covers ONLY itself (cos -1 floors to
    // 0), so both get picked with gain 1.0, ties by id
    val anti = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)))
      .toDF("id", "vec")
    val ag = operators.Similarity.facilityLocationSelect(
        anti, "id", "vec", k = 5)
      .orderBy("rank").collect()
    assert(ag.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(ag.forall(r => math.abs(r.getAs[Double]("gain") - 1.0) < 1e-9))
    intercept[IllegalArgumentException] {
      operators.Similarity.facilityLocationSelect(
        rpool, "id", "vec", k = 2, maxRows = 10)
    }
  }

  test("facilityLocationSelect: refuses non-atomic ids") {
    import spark.implicits._
    val pool = Seq((Seq(1, 2), Array(1.0f, 0.0f)), (Seq(3), Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.facilityLocationSelect(pool, "id", "vec", k = 1)
    }
    assert(e.getMessage.contains("atomic id type"))
  }

  test("facilityLocationSelect: refuses NULL ids") {
    import spark.implicits._
    val pool = Seq((Some(1L), Array(1.0f, 0.0f)), (None, Array(0.0f, 1.0f)),
      (Some(3L), Array(0.6f, 0.8f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      operators.Similarity.facilityLocationSelect(pool, "id", "vec", k = 2)
    }
    assert(e.getMessage.contains("1 NULL ids"))
  }

  test("dbscan: two dense clusters, a two-cluster border takes the min " +
    "label, isolated point is noise; minPts=1 turns the border into a " +
    "chaining core that merges the clusters") {
    import spark.implicits._
    // unit circle, cosine threshold 0.95 = edges at angle <= 18.19 deg:
    // cluster A at 0/2/4/6 deg (ids 1-4), cluster D at 42/44/46/48 deg
    // (ids 5-8), id 9 at 24 deg touches ONLY id4 (18 deg) and id5
    // (18 deg) -> degree 2, id 10 at 180 deg touches nothing
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val pts = Seq(1L -> v(0), 2L -> v(2), 3L -> v(4), 4L -> v(6),
      5L -> v(42), 6L -> v(44), 7L -> v(46), 8L -> v(48),
      9L -> v(24), 10L -> v(180)).toDF("id", "vec")
    val pairs = operators.Dedup.embeddingNearDupExact(
      pts, "id", "vec", threshold = 0.95, maxRows = 100)
    val got = operators.Similarity.dbscan(pts, "id", pairs, minPts = 4)
      .orderBy("id").collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(got.map(_.getAs[Long]("n_neighbors")).toSeq ===
      Seq(3L, 3L, 3L, 4L, 4L, 3L, 3L, 3L, 2L, 0L))
    assert((1L to 8L).forall(byId(_).getAs[Boolean]("is_core")))
    assert((1L to 4L).forall(byId(_).getAs[Long]("cluster") === 1L))
    assert((5L to 8L).forall(byId(_).getAs[Long]("cluster") === 5L))
    // border 9 neighbors cores of BOTH clusters -> min label wins
    assert(!byId(9L).getAs[Boolean]("is_core"))
    assert(byId(9L).getAs[String]("role") === "border")
    assert(byId(9L).getAs[Long]("cluster") === 1L)
    assert(byId(10L).getAs[String]("role") === "noise")
    assert(byId(10L).isNullAt(byId(10L).fieldIndex("cluster")))
    // minPts = 1: 9 becomes core and CHAINS the clusters into one; the
    // isolated 10 becomes its own singleton-core cluster
    val loose = operators.Similarity.dbscan(pts, "id", pairs, minPts = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("role"), r.getAs[Long]("cluster"))).toMap
    assert((1L to 9L).forall(i => loose(i) === (("core", 1L))))
    assert(loose(10L) === (("core", 10L)))
  }
}
