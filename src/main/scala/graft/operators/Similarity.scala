package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

import scala.util.Random

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (queries × corpus cross join — correct
  * at any scale when the query set is small enough to broadcast). Scale
  * path: IVF (k-means-lite coarse quantizer, probe nearest cells) and
  * cosine-LSH bucketing, which bound the candidate set per query so the
  * cross product never materializes.
  */
object Similarity {

  /** Deterministic random hyperplanes for cosine LSH (driver-side literals,
    * broadcast into the plan as constants).
    */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Hyperplane-agreement probability for a pair at cosine `c`:
    * p = 1 − θ/π with θ = arccos(c) (Charikar's SimHash bound).
    */
  def planeAgreementProb(cosine: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi

  /** Probability a pair at cosine `c` shares a bucket in ≥1 of `tables`
    * tables of `planes` hyperplanes each: 1 − (1 − p^planes)^tables.
    */
  def lshCandidateProb(cosine: Double, planes: Int, tables: Int): Double =
    1.0 - math.pow(1.0 - math.pow(planeAgreementProb(cosine), planes), tables)

  /** Smallest table count reaching `targetRecall` for pairs at
    * `cosineThreshold` with `planes` hyperplanes per table:
    * T = ⌈ln(1−recall) / ln(1−p^planes)⌉.
    */
  def lshTablesForRecall(targetRecall: Double, cosineThreshold: Double,
                         planes: Int): Int = {
    require(targetRecall > 0 && targetRecall < 1, "recall must be in (0,1)")
    val pb = math.pow(planeAgreementProb(cosineThreshold), planes)
    require(pb > 0 && pb < 1, s"degenerate agreement probability $pb")
    math.ceil(math.log1p(-targetRecall) / math.log1p(-pb)).toInt.max(1)
  }

  /** Solve (numPlanes, numTables) for a requested recall at a cosine
    * threshold: the LARGEST plane count whose required table count still
    * fits `maxTables`. Rationale: each extra plane halves a random pair's
    * bucket-collision probability (~2^-planes, since random pairs sit near
    * cosine 0 ⇒ p ≈ ½) — candidate pruning improves geometrically — while
    * the recall formula above only demands a linear-ish growth in tables,
    * so within a table budget the most-planes configuration verifies the
    * fewest junk candidates. Recall is then a PROMISE of the returned
    * configuration, not a measured accident (SimilaritySpec checks measured
    * tracks predicted on real pairs).
    */
  def lshParamsForRecall(targetRecall: Double, cosineThreshold: Double,
                         maxTables: Int = 16): (Int, Int) = {
    val fits = Iterator.from(1)
      .map(b => (b, lshTablesForRecall(targetRecall, cosineThreshold, b)))
      .takeWhile { case (b, t) => t <= maxTables || b == 1 }
      .toSeq
    require(fits.nonEmpty, s"no configuration fits maxTables=$maxTables")
    val (b, t) = fits.last
    require(t <= maxTables,
      s"recall $targetRecall at cosine $cosineThreshold needs $t tables even " +
        s"with 1 plane — raise maxTables or lower the target")
    (b, t)
  }

  /** [[lshTopK]] with (planes, tables) SOLVED from the requested recall at
    * a cosine threshold instead of hand-tuned: pairs at least
    * `cosineThreshold` similar become candidates with probability ≥
    * `targetRecall` (more-similar pairs, strictly higher).
    */
  def lshTopKForRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dim: Int, k: Int,
                       targetRecall: Double, cosineThreshold: Double,
                       seed: Long = 42L, maxTables: Int = 16): DataFrame = {
    val (planes, tables) = lshParamsForRecall(targetRecall, cosineThreshold, maxTables)
    lshTopK(corpus, queries, idCol, vecCol, dim, k, planes, seed, tables)
  }

  /** Brute-force cosine top-k: every query against every corpus vector.
    * The query side should be the small one — it is broadcast, so the
    * corpus is scanned exactly once with no shuffle; per-query ranking is a
    * window top-k (partial top-k per partition under AQE).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // NOT spread (measured): per corpus row the work is |queries| cosines
    // (~20 at the gate scales) — too light to repay an exchange; the
    // mid-round bench showed q273/q216 +0.2-0.4 s with a spread here
    // while marginMining's |src|·|tgt| scan (spread) won 40%
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }

  /** Matryoshka truncation audit: top-k recall of PREFIX-truncated
    * embeddings against the full-dimension truth, one row per candidate
    * width — the "can we store 16 of the 64 dims" sizing table. MRL-style
    * models (Kusupati et al. 2022) front-load information into leading
    * dimensions, so prefix truncation is the natural probe; for non-MRL
    * embeddings the same audit quantifies what a blind truncation loses.
    * Cost: one exact top-k per width over the given query set (bounded —
    * audits run on a query sample, not the corpus). Returns
    * (dim, n_truth, n_hits, recall).
    */
  def truncationRecall(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String,
                       dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation width")
    require(dims.forall(_ >= 1), s"widths must be ≥ 1: $dims")
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nbr_id"))
      .localCheckpoint() // joined once per width
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    dims.map { d =>
      def trunc(df: DataFrame) =
        df.withColumn(vecCol, slice(col(vecCol), 1, d))
      bruteForceTopK(trunc(corpus), trunc(queries), idCol, vecCol, k)
        .select(col("query_id"), col("nbr_id"))
        .join(truth, Seq("query_id", "nbr_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(nTruth)
        .select(lit(d).as("dim"), col("n_truth"), col("n_hits"),
          (col("n_hits") / col("n_truth")).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Mutual (reciprocal) k-nearest-neighbor filter over ANY neighbor table
    * shaped (query_id, nbr_id, cos, rank) — keep only pairs where EACH
    * side ranks the other in its own top-k. Mutuality is the classic
    * precision filter for embedding dedup and re-ranking (Qin et al.
    * 2011's k-reciprocal neighbors): hub vectors that appear in
    * everyone's top-k but reciprocate almost nobody fall out.
    *
    * Deliberately a POST-FILTER, not a new search: feed it
    * [[bruteForceTopK]] at gate scale or [[ivfTopK]]/[[lshTopK]] output
    * at corpus scale — one equi-join on the (query, neighbor) pair keys,
    * so the cost is the neighbor table, never the corpus. Pairs emit once
    * (id_a < id_b) with both ranks. Returns (id_a, id_b, cos, rank_ab,
    * rank_ba).
    */
  def mutualKnn(neighbors: DataFrame): DataFrame = {
    val a = neighbors.select(col("query_id").as("id_a"),
      col("nbr_id").as("id_b"), col("cos"), col("rank").as("rank_ab"))
    val b = neighbors.select(col("query_id").as("id_b"),
      col("nbr_id").as("id_a"), col("rank").as("rank_ba"))
    a.join(b, Seq("id_a", "id_b"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "cos", "rank_ab", "rank_ba")
  }

  /** Multi-table cosine-LSH top-k: `numTables` independent hyperplane sets
    * (seeds seed..seed+L-1); a corpus vector is a candidate for a query if
    * they share a bucket in ANY table. Per-pair candidate probability is
    * 1-(1-p^planes)^tables for hyperplane-agreement probability p =
    * 1-θ/π, so recall is tuned by (numPlanes, numTables): more planes →
    * smaller buckets (better pruning, lower per-table recall), more tables
    * → recall back up. A single 6-plane table measured 5% top-3 recall on
    * the structureless synthetic embeddings — multi-table is what makes
    * LSH-ANN usable (the gate's 3×10 configuration measures ~0.9, spec-
    * asserted ≥ 0.8 in SimilaritySpec).
    *
    * One corpus scan: all L signatures are computed scan-side and exploded
    * in-flight (rows ×L carry only (id, vec, table, sig)), the query side
    * is broadcast, so the corpus never shuffles; duplicate candidates
    * (pairs sharing buckets in several tables) collapse in a compact
    * (query, nbr) aggregate before ranking.
    *
    * On a corpus with NO cluster structure high recall necessarily means
    * scoring most of the corpus (no hash can prune what geometry doesn't
    * separate) — for clustered corpora the same parameters prune hard. See
    * [[ivfTopK]] for the quantizer-based alternative.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int,
              numPlanes: Int = 3, seed: Long = 42L,
              numTables: Int = 10): DataFrame = {
    val tables = (0 until numTables).map(t => randomPlanes(numPlanes, dim, seed + t))
    def sigs(v: Column) = explode(array(tables.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("tbl"), Vectors.lshSignature(v, planes).as("sig"))
    }: _*))
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"),
      sigs(col(vecCol)).as("ts"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sigs(col(vecCol)).as("ts"))
    val scored = c.join(broadcast(q), Seq("ts"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        Vectors.cosine(col("qv"), col("cv")).as("cos"))
      .groupBy("query_id", "nbr_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }

  /** IVF coarse-quantizer centroids via Lloyd's algorithm: deterministic
    * hash-seeded initial cells (position-wise mean per cell), then `iters`
    * Lloyd rounds — collect the (numCells × dim, driver-bounded BY DESIGN)
    * centroid table, re-assign every training vector SCAN-SIDE through the
    * [[graft.functions.expressions.NearestCells]] literal expression,
    * recompute position-wise means. Per round the only shuffle is the
    * mean aggregate's compact (cell, pos, partial) — the broadcast-join +
    * per-row sort-window formulation it replaces shuffled corpus×numCells
    * rows every round. Returns (cell0, centroid array<double>) as a LOCAL
    * relation (numCells rows), so downstream collects cost nothing; a cell
    * that loses every member simply drops out (k shrinks), which only
    * merges probe sets — never loses candidates.
    *
    * `trainFraction` bounds what Lloyd reads: a deterministic
    * hash-Bernoulli sample of the corpus (quantizer quality saturates at
    * O(1000·numCells) vectors — the standard IVF practice), cached across
    * rounds so rounds 2+ read memory, not the source scan. Assignment and
    * encoding always remain full-corpus. At 100 TB pass e.g. 1e-5 and
    * training cost is constant while the oracle configurations
    * (trainFraction = 1 on test data) are byte-identical to before.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   numCells: Int, seed: Long = 42L, iters: Int = 4,
                   trainFraction: Double = 1.0): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction $trainFraction must be in (0, 1]")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).as("__tid"), col(vecCol).as("__tv"))
    // An empty training sample (tiny fraction × small corpus, or a
    // fraction that rounds to a 0/1e6 hash cut) would make Lloyd's init
    // aggregate nothing and fail opaquely — fall back to the full corpus.
    val sampled =
      if (trainFraction >= 1.0) base
      else {
        val cut = math.max(1L, math.round(trainFraction * 1e6))
        val s = base.where(pmod(xxhash64(col("__tid"), lit(seed + 17)),
          lit(1000000L)) < lit(cut))
        if (s.isEmpty) base else s
      }
    val train = sampled
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one shuffle per round: the (cell, pos) means are collected
      // (numCells × dim rows) and each centroid is assembled on the driver
      def meansOf(assigned: DataFrame): (Seq[Int], Seq[Seq[Double]]) = {
        val rows = assigned
          .select(col("cell0"), posexplode(col("__tv")).as(Seq("pos", "x")))
          .groupBy("cell0", "pos").agg(avg("x").as("cx"))
          .select(col("cell0").cast("int"), col("pos"), col("cx"))
          .collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (cell, cs) =>
            cell -> cs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
        (rows.map(_._1), rows.map(_._2))
      }
      var current = meansOf(train.withColumn("cell0",
        pmod(xxhash64(col("__tid"), lit(seed)), lit(numCells))))
      // `iters` full reassignment rounds after the hash-seeded init
      var i = 0
      while (i < iters) {
        val (ids, cents) = current
        val assigned = train.select(
          graft.functions.expressions.VectorExpressions
            .nearestCells(col("__tv"), cents, ids)(0).getField("cell")
            .as("cell0"),
          col("__tv"))
        current = meansOf(assigned)
        i += 1
      }
      import spark.implicits._
      current._1.zip(current._2).toDF("cell0", "centroid")
    } finally { train.unpersist(blocking = false); () }
  }

  /** Centroid table → driver literals (cell ids ascending). numCells rows
    * by construction — the same bounded-constant class as the LSH plane
    * matrix, NOT a data-sized collect.
    */
  private def collectCentroids(centroids: DataFrame): (Seq[Int], Seq[Seq[Double]]) = {
    val rows = centroids.select(col("cell0").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2.toSeq).toSeq)
  }

  /** Assign every vector to its nearest centroid — one corpus scan, zero
    * shuffle (cell + distance computed by the literal expression).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                numCells: Int, seed: Long = 42L, iters: Int = 4,
                trainFraction: Double = 1.0): DataFrame = {
    val (ids, cents) = collectCentroids(
      ivfCentroids(corpus, idCol, vecCol, numCells, seed, iters,
        trainFraction))
    val nearest = graft.functions.expressions.VectorExpressions
      .nearestCells(col(vecCol), cents, ids)(0)
    corpus.select(col(idCol), nearest.getField("cell").as("cell"),
      nearest.getField("dist").as("dist"))
  }

  /** Assign every vector to the nearest of a FIXED literal centroid set
    * (e.g. exemplar documents picked by a curator, or externally-trained
    * centroids) — the seed-anchored variant of [[ivfAssign]]: no training,
    * pure scan-side compute through the same NearestCells literal
    * expression, zero shuffle. Returns (idCol, cell, dist).
    */
  def assignToCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        cellIds: Seq[Int],
                        centroids: Seq[Seq[Double]]): DataFrame = {
    val nearest = graft.functions.expressions.VectorExpressions
      .nearestCells(col(vecCol), centroids, cellIds)(0)
    corpus.select(col(idCol), nearest.getField("cell").as("cell"),
      nearest.getField("dist").as("dist"))
  }

  /** Product-quantization codebooks: the vector space is split into
    * `numSub` contiguous subspaces of dim/numSub dims, and each subspace
    * gets its own `ksub`-centroid quantizer (Lloyd's algorithm, hash-seeded
    * init). ALL subspaces train in the same jobs: subvectors explode
    * scan-side to (sub, subvector) rows, each Lloyd round is one grouped
    * mean aggregate over (sub, cell, pos) plus one scan-side reassignment
    * through per-sub literal centroid tables — the corpus is scanned once
    * per round regardless of numSub, and nothing driver-sized exceeds the
    * numSub × ksub × (dim/numSub) = ksub × dim doubles of the codebook
    * (the same bounded-constant class as the IVF centroid table).
    *
    * `trainFraction` bounds what Lloyd reads, exactly as in
    * [[ivfCentroids]]: a deterministic hash-Bernoulli sample, cached
    * across rounds; encoding stays full-corpus.
    *
    * Returns (sub, cell, centroid: array<double>) as a LOCAL relation
    * (numSub × ksub rows), so downstream collects cost nothing.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, numSub: Int = 4, ksub: Int = 16,
                  seed: Long = 42L, iters: Int = 3,
                  trainFraction: Double = 1.0): DataFrame = {
    require(numSub >= 1 && dim % numSub == 0,
      s"dim $dim must divide evenly into $numSub subspaces")
    require(iters >= 1, "iters must be >= 1")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction $trainFraction must be in (0, 1]")
    val spark = corpus.sparkSession
    val d = dim / numSub
    // same empty-sample fallback as [[ivfCentroids]]
    val base =
      if (trainFraction >= 1.0) corpus
      else {
        val cut = math.max(1L, math.round(trainFraction * 1e6))
        val s = corpus.where(pmod(xxhash64(col(idCol), lit(seed + 17)),
          lit(1000000L)) < lit(cut))
        if (s.isEmpty) corpus else s
      }
    val subRows = base.select(col(idCol).as("__id"),
        explode(array((0 until numSub).map(s =>
          struct(lit(s).as("sub"),
            slice(col(vecCol), s * d + 1, d).as("sv"))): _*)).as("e"))
      .select(col("__id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one shuffle per round: the (sub, cell, pos) means are collected
      // (ksub × dim rows) and each codebook is assembled on the driver,
      // as ivfCentroids does
      def meansOf(assigned: DataFrame): Seq[(Int, (Seq[Int], Seq[Seq[Double]]))] =
        assigned
          .select(col("sub"), col("cell0"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("sub", "cell0", "pos").agg(avg("x").as("cx"))
          .select(col("sub").cast("int"), col("cell0").cast("int"), col("pos"),
            col("cx"))
          .collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (s, rows) =>
            val cells = rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
              .map { case (c, cs) =>
                c -> cs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
            s -> ((cells.map(_._1), cells.map(_._2)))
          }
      var bySub = meansOf(subRows.withColumn("cell0",
        pmod(xxhash64(col("__id"), col("sub"), lit(seed)), lit(ksub))))
      var i = 0
      while (i < iters) {
        // CaseWhen picks the row's own subspace table; untaken branches are
        // not evaluated, so each row pays ONE nearest-centroid scan
        val assign = bySub.foldLeft(lit(-1L)) { case (acc, (s, (ids, cents))) =>
          when(col("sub") === s,
            graft.functions.expressions.VectorExpressions
              .nearestCells(col("sv"), cents, ids)(0).getField("cell")
              .cast("long"))
            .otherwise(acc)
        }
        bySub = meansOf(subRows.withColumn("cell0", assign))
        i += 1
      }
      localBooksDf(spark, bySub)
        .select(col("sub"), col("code").cast("long").as("cell"), col("centroid"))
    } finally { subRows.unpersist(blocking = false); () }
  }

  /** Codebook table → driver literals per subspace (numSub × ksub rows by
    * construction, never data-sized).
    */
  private def collectCodebooks(books: DataFrame): Seq[(Int, (Seq[Int], Seq[Seq[Double]]))] =
    books.selectExpr("cast(sub as int) sub", "cast(cell0 as int) cell", "centroid")
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (s, rows) =>
        val sorted = rows.map(r => r.getInt(1) -> r.getSeq[Double](2).toSeq)
          .sortBy(_._1).toSeq
        s -> ((sorted.map(_._1), sorted.map(_._2)))
      }

  /** Encode vectors as `numSub` small integer codes — the PQ compression:
    * at ksub ≤ 256 a 64-dim float vector (256 bytes) becomes numSub bytes
    * of codes. One scan, zero shuffle; codes are computed by the same
    * literal nearest-centroid expression the quantizer trains with.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               codebooks: DataFrame): DataFrame =
    encodeWith(corpus, idCol, vecCol, dim,
      collectCodebooks(codebooks.withColumnRenamed("cell", "cell0")))

  private def codesCol(vec: Column, dim: Int,
                       bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))]): Column = {
    val d = dim / bySub.size
    array(bySub.map { case (s, (ids, cents)) =>
      graft.functions.expressions.VectorExpressions
        .nearestCells(slice(vec, s * d + 1, d), cents, ids)(0)
        .getField("cell").cast("int")
    }: _*)
  }

  private def encodeWith(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int,
                         bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))]): DataFrame =
    corpus.select(col(idCol), codesCol(col(vecCol), dim, bySub).as("codes"))

  private def localBooksDf(spark: org.apache.spark.sql.SparkSession,
                           bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))]): DataFrame = {
    import spark.implicits._
    bySub.flatMap { case (s, (ids, cents)) =>
      ids.zip(cents).map { case (id, c) => (s, id, c) }
    }.toDF("sub", "code", "centroid")
  }

  /** PQ top-k with asymmetric distance computation (ADC) and exact
    * re-ranking.
    *
    * Scale path: the corpus contributes only (id, codes) to candidate
    * scoring — numSub ints per vector instead of dim floats — so the
    * memory-bandwidth-bound first pass touches ~32× less data at
    * (dim=64, numSub=8). Each query precomputes a lookup table of
    * subspace dot products against every codebook centroid (numSub × ksub
    * doubles, built by one broadcast join against the codebook, NOT per
    * candidate); a candidate's approximate score is then numSub map
    * lookups summed — no vector arithmetic in the hot loop. The top
    * `refine`·k by approximate score re-rank by exact cosine (one
    * broadcast-semi join back to the full vectors for candidates only).
    *
    * Cosine is approximated as the dot of the query with the quantized
    * corpus vector: Σ_s 〈q_s, centroid[s][code_s]〉. Ranking quality
    * follows quantization error; the exact re-rank restores true scores,
    * so precision of the returned cos values is exact — only WHICH
    * candidates survive is approximate (recall spec-measured, like LSH).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, k: Int, numSub: Int = 4,
             ksub: Int = 16, refine: Int = 4, seed: Long = 42L,
             iters: Int = 3, trainFraction: Double = 1.0): DataFrame = {
    // collect the trained codebook ONCE; encoding and the lut join then
    // build from driver literals instead of re-running the training agg
    val bySub = collectCodebooks(
      pqCodebooks(corpus, idCol, vecCol, dim, numSub, ksub, seed, iters,
        trainFraction)
        .withColumnRenamed("cell", "cell0"))
    pqSearchWith(corpus, queries, idCol, vecCol, dim, k, bySub, ksub, refine)
  }

  /** Search phase of [[pqTopK]] against a TRAINED codebook artifact — the
    * train-once / search-many split. `codebooks` is the (sub, cell,
    * centroid) DataFrame from [[pqCodebooks]], either live or read back
    * from any sink (it is a plain saveable table: ints + an array of
    * doubles), so the Lloyd training cost is paid once per corpus — at
    * ingest time — instead of once per query batch. Results are identical
    * to [[pqTopK]] with the same codebook parameters.
    */
  def pqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, dim: Int, k: Int, codebooks: DataFrame,
               refine: Int = 4): DataFrame = {
    val bySub = collectCodebooks(codebooks.withColumnRenamed("cell", "cell0"))
    pqSearchWith(corpus, queries, idCol, vecCol, dim, k, bySub,
      slotStride(bySub), refine)
  }

  /** Smallest collision-free slot stride for the lut map keys: codes are
    * original 0..ksub-1 Lloyd labels (survivors of dark-cell drops), so
    * max-id+1 keys `sub·stride + code` uniquely. Any stride ≥ this gives
    * identical results — the keying is internal to one search.
    */
  private def slotStride(bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))]): Int =
    bySub.flatMap(_._2._1).max + 1

  private def pqSearchWith(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, dim: Int, k: Int,
                           bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))],
                           stride: Int, refine: Int): DataFrame = {
    val numSub = bySub.size
    val coded = encodeWith(corpus, idCol, vecCol, dim, bySub)
      .select(col(idCol).as("nbr_id"), col("codes"))
    val d = dim / numSub
    val localBooks = localBooksDf(corpus.sparkSession, bySub)
    // per-query ADC lookup table: slots keyed sub·stride+cell are built as
    // a MAP (cells can go dark during Lloyd, so positions can be sparse),
    // then densified once per query into a flat array — the hot loop below
    // does O(1) positional indexing instead of an O(slots) map probe per
    // subspace per candidate (the map probe dominated the search cost)
    val lut = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(localBooks))
      .select(col("query_id"), col("qv"),
        (col("sub") * stride + col("code")).cast("int").as("slot"),
        Vectors.dot(slice(col("qv"), col("sub").cast("int") * d + 1, lit(d)),
          col("centroid")).as("dp"))
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(struct(col("slot"), col("dp"))))
        .as("m"), first("qv").as("qv"))
      .select(col("query_id"), col("qv"),
        transform(sequence(lit(0), lit(numSub * stride - 1)),
          i => coalesce(element_at(col("m"), i.cast("int")), lit(0.0d)))
          .as("lut"))
    val approx = coded.crossJoin(broadcast(lut))
      .where(col("query_id") =!= col("nbr_id"))
      // native codegen'd ADC loop (same subspace-order sum as the HOF
      // aggregate it replaces — see [[VectorExpressions.adcScore]])
      .withColumn("ascore", graft.functions.expressions.VectorExpressions
        .adcScore(col("codes"), col("lut"), stride))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ascore").desc, col("nbr_id"))
    val cand = approx.withColumn("arank", row_number().over(w))
      .where(col("arank") <= refine * k)
      .select("query_id", "nbr_id", "qv")
    // exact re-rank: candidates (queries × refine·k rows) broadcast back
    // onto the corpus vectors; the full corpus never shuffles
    val exact = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("nbr_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nbr_id"))
    exact.withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }

  /** IVF+PQ top-k — the classic two-level ANN architecture (coarse
    * quantizer prunes, product codes score): corpus vectors are assigned
    * to a Lloyd cell and PQ-encoded on their RESIDUAL from the cell
    * centroid (residuals are smaller and better centered than raw vectors,
    * so the same codebook budget quantizes them more accurately). A query
    * probes its `nprobe` nearest cells; within each it scores candidates
    * as 〈q, c_cell〉 + Σ_s 〈q_s − c_cell,s, codebook[s][code_s]〉 — the
    * cell term computed once per (query, cell), the residual term via an
    * ADC lookup table keyed (query, cell). Top `refine`·k re-rank by exact
    * cosine.
    *
    * Scale path: candidate scoring touches numSub ints per corpus row AND
    * only ~numCells/nprobe of the corpus; both prunings compose. With
    * `nprobe = numCells` and an exhaustive refine pool the result is
    * EXACTLY brute force (spec-checked), mirroring q39d/q95's oracle
    * configurations.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int, k: Int, numCells: Int = 16,
                nprobe: Int = 4, numSub: Int = 4, ksub: Int = 16,
                refine: Int = 4, seed: Long = 42L, iters: Int = 3,
                trainFraction: Double = 1.0): DataFrame = {
    val m = ivfPqTrain(corpus, idCol, vecCol, dim, numCells, numSub, ksub,
      seed, iters, trainFraction)
    ivfPqSearchWith(corpus, queries, idCol, vecCol, dim, k,
      collectCentroids(m.centroids.withColumnRenamed("cell", "cell0")),
      collectCodebooks(m.codebooks.withColumnRenamed("cell", "cell0")),
      ksub, nprobe, refine)
  }

  /** The trained IVF+PQ quantizer as two plain saveable DataFrames —
    * `centroids` (cell, centroid) is the coarse Lloyd table, `codebooks`
    * (sub, cell, centroid) the residual product codebooks. Both are local
    * relations of bounded size (numCells + numSub·ksub rows); persist them
    * with any sink and read them back into [[ivfPqSearch]].
    */
  final case class IvfPqModel(centroids: DataFrame, codebooks: DataFrame)

  /** Training phase of [[ivfPqTopK]]: coarse Lloyd centroids, then product
    * codebooks over the corpus RESIDUALS from their assigned centroid.
    * Train once per corpus (at ingest), search many with [[ivfPqSearch]].
    */
  def ivfPqTrain(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                 numCells: Int = 16, numSub: Int = 4, ksub: Int = 16,
                 seed: Long = 42L, iters: Int = 3,
                 trainFraction: Double = 1.0): IvfPqModel = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, numCells, seed,
      iters, trainFraction)
    val (cellIds, cents) = collectCentroids(centroids)
    val cmap = centroidMap(cellIds, cents)
    val assigned = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"),
        graft.functions.expressions.VectorExpressions
          .nearestCells(col(vecCol), cents, cellIds)(0).getField("cell")
          .as("cell"))
      .withColumn("rv", residualCol(col("cv"), col("cell"), cmap))
    val books = pqCodebooks(assigned.select(col("nbr_id"), col("rv")),
      "nbr_id", "rv", dim, numSub, ksub, seed, iters, trainFraction)
    IvfPqModel(centroids.withColumnRenamed("cell0", "cell"), books)
  }

  /** Search phase of [[ivfPqTopK]] against a trained [[IvfPqModel]] —
    * identical results to the fused call with the same model parameters.
    */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, dim: Int, k: Int, model: IvfPqModel,
                  nprobe: Int = 4, refine: Int = 4): DataFrame = {
    val bySub = collectCodebooks(
      model.codebooks.withColumnRenamed("cell", "cell0"))
    ivfPqSearchWith(corpus, queries, idCol, vecCol, dim, k,
      collectCentroids(model.centroids.withColumnRenamed("cell", "cell0")),
      bySub, slotStride(bySub), nprobe, refine)
  }

  private def centroidMap(cellIds: Seq[Int], cents: Seq[Seq[Double]]): Column =
    map_from_arrays(
      array(cellIds.map(lit(_)): _*),
      array(cents.map(cv => array(cv.map(lit): _*)): _*))

  private def residualCol(v: Column, cell: Column, cmap: Column): Column =
    zip_with(v, element_at(cmap, cell), (x, c) => x.cast("double") - c)

  private def ivfPqSearchWith(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, dim: Int,
                              k: Int, coarse: (Seq[Int], Seq[Seq[Double]]),
                              bySub: Seq[(Int, (Seq[Int], Seq[Seq[Double]]))],
                              stride: Int, nprobe: Int,
                              refine: Int): DataFrame = {
    val (cellIds, cents) = coarse
    val numSub = bySub.size
    val cmap = centroidMap(cellIds, cents)
    def ranked(v: Column) = graft.functions.expressions.VectorExpressions
      .nearestCells(v, cents, cellIds)
    def residual(v: Column, cell: Column) = residualCol(v, cell, cmap)
    val assigned = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"),
        ranked(col(vecCol))(0).getField("cell").as("cell"))
      .withColumn("rv", residual(col("cv"), col("cell")))
    val coded = assigned.select(col("nbr_id"), col("cell"),
      codesCol(col("rv"), dim, bySub).as("codes"))
    val d = dim / numSub
    val localBooks = localBooksDf(corpus.sparkSession, bySub)
    // per-(query, probed cell): residual ADC table + the cell's dot term
    val qcells = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(ranked(col(vecCol)), 1, nprobe)).as("rc"))
      .select(col("query_id"), col("qv"), col("rc.cell").as("cell"))
      .withColumn("qr", residual(col("qv"), col("cell")))
      .withColumn("qc", Vectors.dot(col("qv"), element_at(cmap, col("cell"))))
    val qlut = qcells.crossJoin(broadcast(localBooks))
      .select(col("query_id"), col("cell"), col("qv"), col("qc"),
        (col("sub") * stride + col("code")).cast("int").as("slot"),
        Vectors.dot(slice(col("qr"), col("sub").cast("int") * d + 1, lit(d)),
          col("centroid")).as("dp"))
      .groupBy("query_id", "cell")
      .agg(map_from_entries(collect_list(struct(col("slot"), col("dp"))))
        .as("m"), first("qv").as("qv"), first("qc").as("qc"))
      // densified per (query, cell) — O(1) array indexing in the hot loop,
      // as in [[pqSearchWith]]
      .select(col("query_id"), col("cell"), col("qv"), col("qc"),
        transform(sequence(lit(0), lit(numSub * stride - 1)),
          i => coalesce(element_at(col("m"), i.cast("int")), lit(0.0d)))
          .as("lut"))
    val approx = coded.join(broadcast(qlut), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      // native codegen'd ADC loop (same subspace-order sum as the HOF
      // aggregate it replaces — see [[VectorExpressions.adcScore]])
      .withColumn("ascore", col("qc") +
        graft.functions.expressions.VectorExpressions
          .adcScore(col("codes"), col("lut"), stride))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ascore").desc, col("nbr_id"))
    val cand = approx.withColumn("arank", row_number().over(w))
      .where(col("arank") <= refine * k)
      .select("query_id", "nbr_id", "qv")
    val exact = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("nbr_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nbr_id"))
    exact.withColumn("rank", row_number().over(w2))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }

  /** IVF top-k: score only corpus vectors in the query's nearest `nprobe`
    * cells — the scan per query shrinks by ~numCells/nprobe while recall
    * stays high for clustered corpora. With `nprobe = numCells` every cell
    * is probed and the result is EXACTLY brute force (each corpus vector
    * lives in one cell, so each (query, corpus) pair scores once) — the
    * oracle-checked configuration; production sets nprobe ≪ numCells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int = 16,
              nprobe: Int = 4, seed: Long = 42L, iters: Int = 4,
              trainFraction: Double = 1.0): DataFrame =
    ivfSearch(corpus, queries, idCol, vecCol, k,
      ivfCentroids(corpus, idCol, vecCol, numCells, seed, iters,
        trainFraction).withColumnRenamed("cell0", "cell"), nprobe)

  /** Search phase of [[ivfTopK]] against a trained centroid artifact —
    * `centroids` is the (cell, centroid) DataFrame from [[ivfCentroids]]
    * (column `cell0` renamed to `cell`), live or read back from any sink.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, centroids: DataFrame,
                nprobe: Int = 4): DataFrame = {
    val (ids, cents) = collectCentroids(
      centroids.withColumnRenamed("cell", "cell0"))
    def ranked(v: Column) = graft.functions.expressions.VectorExpressions
      .nearestCells(v, cents, ids)
    val corpusCells = corpus.select(col(idCol).as("nbr_id"),
      col(vecCol).as("cv"),
      ranked(col(vecCol))(0).getField("cell").as("cell"))
    val queryCells = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qv"),
        explode(slice(ranked(col(vecCol)), 1, nprobe)).as("rc"))
      .select(col("query_id"), col("qv"), col("rc.cell").as("cell"))
    val probed = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", Vectors.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
    probed.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "nbr_id", "cos", "rank")
  }

  /** Double-accumulating cosine via `zip_with`+`aggregate` — for operands
    * of MIXED element types (float vectors × double centroids) where the
    * native float-array [[Vectors.cosine]] doesn't apply. Same
    * cast-to-double, array-order accumulation as the DuckDB oracle's
    * cosSql, so results are bit-comparable. Both operands are bound column
    * references (the bind-once HOF rule — PLANS.md Round-9).
    */
  private def cosMixed(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** kNN label propagation (auto-labeling): every unlabeled vector takes
    * the majority label of its `k` nearest labeled neighbors by cosine
    * (vote ties → smallest label; neighbor ties → smallest id, so the
    * result is deterministic). The semi-supervised curation step: a small
    * hand-labeled seed set fans its labels out over the big unlabeled
    * pool.
    *
    * Shape for scale: the LABELED seed set broadcasts (it is the small
    * side by construction); the unlabeled pool streams scan-side through
    * the cosine scoring and shuffles once on the query id for the top-k
    * window, carrying only (query, nbr, label, cos) — never raw vectors.
    * For seed sets too big to broadcast, run [[ivfTopK]] first and vote
    * over its output instead.
    */
  def knnLabelPropagation(labeled: DataFrame, unlabeled: DataFrame,
                          idCol: String, vecCol: String, labelCol: String,
                          k: Int): DataFrame = {
    require(k >= 1)
    val seeds = broadcast(labeled.select(col(idCol).as("__nid"),
      col(vecCol).as("__lv"), col(labelCol).as("__lab")))
    val scored = unlabeled
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(seeds, col("query_id") =!= col("__nid"))
      .select(col("query_id"), col("__nid"), col("__lab"),
        Vectors.cosine(col("__qv"), col("__lv")).as("__cos"))
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("__nid"))
    val votes = scored.withColumn("__rn", row_number().over(wTop))
      .where(col("__rn") <= k)
      .groupBy("query_id", "__lab")
      .agg(count(lit(1)).as("votes"), max("__cos").as("__best"))
    val wMaj = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__lab"))
    votes.withColumn("__rk", row_number().over(wMaj))
      .where(col("__rk") === 1)
      .select(col("query_id"), col("__lab").as("predicted_label"),
        col("votes"))
  }

  /** Per-label centroids: element-wise mean embedding per label, assembled
    * in dimension order. One fact-sized posexplode + (label, pos) agg;
    * output is #labels rows.
    */
  def labelCentroids(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy("label", "__pos")
      .agg(avg(col("__x").cast("double")).as("__m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("centroid"))

  /** Centroid-margin mislabel screen (confident-learning-style): each
    * vector's cosine to its OWN label's centroid minus its best cosine to
    * any OTHER centroid. Negative margins sit closer to another class's
    * center than their own — the classic label-noise audit before
    * training. Centroids broadcast (#labels rows); everything else is
    * scan-side.
    */
  def centroidMargins(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val cents = broadcast(labelCentroids(df, vecCol, labelCol)
      .select(col("label").as("__clab"), col("centroid")))
    df.select(col(idCol), col(vecCol), col(labelCol))
      .crossJoin(cents)
      .withColumn("__cos", cosMixed(col(vecCol), col("centroid")))
      .groupBy(col(idCol), col(labelCol))
      .agg(
        max(when(col(labelCol) === col("__clab"), col("__cos"))).as("own_cos"),
        max(when(col(labelCol) =!= col("__clab"),
          struct(col("__cos").as("c"), col("__clab").as("l")))).as("__other"))
      .select(col(idCol), col(labelCol),
        col("own_cos"),
        col("__other.l").as("nearest_other_label"),
        col("__other.c").as("other_cos"),
        (col("own_cos") - col("__other.c")).as("margin"))
  }

  /** SemDeDup-style cluster-confined semantic dedup (Abbas et al. 2023):
    * assign every vector to its nearest centroid, find cosine-≥-threshold
    * pairs WITHIN each cell only, close them transitively, keep each
    * component's min id. The published recipe for embedding dedup at
    * corpus scale: clustering confines the quadratic pair step to
    * cell-sized buckets (cells ≈ N/k), the same role LSH bands play for
    * MinHash — near-dups sit in the same cell because they are near the
    * same centroid. Cross-cell near-dups on a cell boundary are the
    * documented recall gap (SemDeDup accepts it; tighten with more
    * centroids or the LSH path q84).
    *
    * Skew guard (`maxCellSize`): clustering only bounds the pair step if
    * the cells are actually cell-sized — embeddings that collapse onto one
    * centroid (a template-page flood, a single-domain corpus) put ~all of
    * N in one cell and re-quadratize. Cells above the cap are hash-split
    * into ceil(cnt/cap) sub-buckets (one broadcast join against the tiny
    * per-cell count table, no second clustering pass), pairing runs within
    * (cell, sub) — expected bucket ≈ cap, so total pair work is N·cap,
    * exponent 1.0 in N. Consecutive sub-bucket representatives (min id per
    * sub) are chained in as extra candidate pairs — linear count — so the
    * common skew case, a near-identical flood, still closes transitively
    * into ONE component through the chain even though cross-sub pairs are
    * otherwise unseen. Every candidate (within-sub or chain) passes the
    * same cosine-≥-threshold check, so the cap can only LOSE cross-sub
    * recall on merely-similar vectors (the same accepted-gap shape as
    * SemDeDup's cross-cell misses), never merge anything spurious. Cells
    * ≤ cap behave exactly as the uncapped operator (m=1, no chain rows).
    *
    * Returns the surviving rows of `corpus` unchanged.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               cellIds: Seq[Int], centroids: Seq[Seq[Double]],
               threshold: Double, maxCellSize: Int = 4096): DataFrame = {
    require(threshold > -1 && threshold <= 1)
    require(maxCellSize > 0, s"maxCellSize $maxCellSize must be positive")
    val nearest = graft.functions.expressions.VectorExpressions
      .nearestCells(col(vecCol), centroids, cellIds)(0)
    val assigned = corpus.select(col(idCol), col(vecCol),
      nearest.getField("cell").as("__cell"))
    // ≤ |cellIds| rows — broadcast; __m = sub-bucket fan-out per cell
    val cellCounts = assigned.groupBy("__cell")
      .agg(ceil(count(lit(1)) / maxCellSize.toDouble).cast("int").as("__m"))
    val sub = assigned.join(broadcast(cellCounts), Seq("__cell"))
      .withColumn("__sub",
        pmod(xxhash64(col(idCol)), col("__m").cast("long")).cast("int"))
    val a = sub.select(col("__cell"), col("__sub"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = sub.select(col("__cell"), col("__sub"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    val withinSub = a.join(b, Seq("__cell", "__sub"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("__va"), col("id_b"), col("__vb"))
    // chain: min-id representative of sub k ↔ of sub k+1, split cells only
    val reps = sub.where(col("__m") > 1)
      .groupBy("__cell", "__sub")
      .agg(min_by(struct(col(idCol).as("id"), col(vecCol).as("v")),
        col(idCol)).as("r"))
    val chain = reps.alias("x")
      .join(reps.alias("y"),
        col("x.__cell") === col("y.__cell") &&
          col("x.__sub") + 1 === col("y.__sub"))
      .select(
        least(col("x.r.id"), col("y.r.id")).as("id_a"),
        when(col("x.r.id") <= col("y.r.id"), col("x.r.v"))
          .otherwise(col("y.r.v")).as("__va"),
        greatest(col("x.r.id"), col("y.r.id")).as("id_b"),
        when(col("x.r.id") <= col("y.r.id"), col("y.r.v"))
          .otherwise(col("x.r.v")).as("__vb"))
    val pairs = withinSub.union(chain)
      .where(Vectors.cosine(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b")
    val victims = Dedup.connectedComponents(pairs)
      .where(col("id") =!= col("cluster"))
      .select(col("id").as("__victim"))
    corpus.join(victims, col(idCol) === col("__victim"), "left_anti")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix recipe): candidate translation pairs between two
    * embedding sides scored by the MARGIN `cos(x,y) / ((Ax + By) / 2)`,
    * where Ax/By are each point's mean cosine to its `k` nearest
    * neighbours on the OTHER side — raw cosine is hub-biased (some
    * points are close to everything); dividing by the local similarity
    * level is what makes thresholds transfer across corpora. Each source
    * keeps its best-margin candidate (retrieve-by-cosine top-k,
    * re-score by margin), filtered at `threshold`; margin > 1 means
    * "closer than either point's typical neighbour".
    *
    * This is the exact anchor (one cross-score with the smaller side
    * broadcast, bounded by `maxRows` per side); for corpus-scale mining
    * run [[ivfTopK]] both directions and feed its pairs through the same
    * re-scoring arithmetic. Ids must be unique across BOTH sides.
    *
    * Returns (src_id, tgt_id, cos, margin), best pair per src_id.
    */
  def marginMining(src: DataFrame, tgt: DataFrame, idCol: String,
                   vecCol: String, k: Int = 4, threshold: Double = 1.0,
                   maxRows: Int = 20000): DataFrame = {
    require(k >= 1, s"k must be ≥ 1: $k")
    // both size guards in one action: each side limited to maxRows + 1,
    // tagged, and counted per tag
    val sides = Seq("src" -> src, "tgt" -> tgt)
    val sideRows = sides
      .map { case (side, df) => df.limit(maxRows + 1).select(lit(side).as("__side")) }
      .reduce(_ union _)
      .groupBy("__side").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sides.foreach { case (side, _) =>
      require(sideRows.getOrElse(side, 0L) <= maxRows,
        s"marginMining is an exact all-pairs anchor bounded at " +
          s"maxRows=$maxRows, but the $side side exceeds it — slice the " +
          s"input or mine candidates with ivfTopK and re-score.")
    }
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("__sv"))
    // spread the streamed side: every |src|·|tgt| cosine is computed in
    // this scan stage, and the local corpus is one unsplittable file
    // (guide §2.5); no-op on real multi-split scans
    val g = Pinning.spread(
      tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("__tv")),
      col("tgt_id"))
    val scored = g.crossJoin(broadcast(s))
      .withColumn("cos", Vectors.cosine(col("__sv"), col("__tv")))
      .select("src_id", "tgt_id", "cos")
      // both rank directions + denominators read it; lazy, so the
      // |src|·|tgt| scoring runs with the query, not while it is built
      .localCheckpoint(eager = false)
    val wS = Window.partitionBy("src_id")
      .orderBy(col("cos").desc, col("tgt_id"))
    val wT = Window.partitionBy("tgt_id")
      .orderBy(col("cos").desc, col("src_id"))
    val ranked = scored
      .withColumn("__rs", row_number().over(wS))
      .withColumn("__rt", row_number().over(wT))
    val denomS = ranked.where(col("__rs") <= k)
      .groupBy("src_id").agg(avg("cos").as("__da"))
    val denomT = ranked.where(col("__rt") <= k)
      .groupBy("tgt_id").agg(avg("cos").as("__db"))
    val wBest = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    ranked.where(col("__rs") <= k)
      .join(denomS, "src_id")
      .join(denomT, "tgt_id")
      .withColumn("margin",
        col("cos") / ((col("__da") + col("__db")) / 2.0))
      .withColumn("__rb", row_number().over(wBest))
      .where(col("__rb") === 1 && col("margin") >= threshold)
      .select("src_id", "tgt_id", "cos", "margin")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    * — the diversification pass between retrieval and a RAG context
    * window: greedily pick k items maximizing
    * λ·relevance − (1−λ)·max-cosine-to-already-selected, so near-dup
    * hits stop crowding out coverage. Input is a CANDIDATE POOL per
    * query (an ANN/BM25 top-N — bounded by the caller, the rerank
    * contract); every query reranks in PARALLEL, with the greedy rounds
    * running in lockstep: round i joins each query's unselected
    * candidates against its i−1 selections (broadcast — the selected
    * frame is ≤ queries·k rows), takes the max similarity, and a
    * per-query row_number picks the argmax with (mmr desc, id) ties —
    * fully deterministic. Round 1 is pure relevance (max-sim term 0).
    * Returns (queryCol, idCol, rank, mmr), rank 1..k per query.
    *
    * k bounded driver rounds, each ONE join + one pool-bounded window;
    * selected frames pin per round and release when superseded (the
    * pageRank discipline), so plan depth stays constant.
    */
  def mmrRerank(candidates: DataFrame, queryCol: String, idCol: String,
                scoreCol: String, vecCol: String, k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1]: $lambda")
    val cands = candidates.select(col(queryCol).as("__q"),
        col(idCol).as("__id"), col(scoreCol).cast("double").as("__s"),
        col(vecCol).as("__v"))
      .localCheckpoint() // joined every greedy round
    val wPick = Window.partitionBy("__q")
      .orderBy(col("__mmr").desc, col("__id"))
    def pick(scored: DataFrame, rank: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(wPick))
      .where(col("__rn") === 1)
      .select(col("__q"), col("__id"), col("__v"),
        lit(rank).as("rank"), col("__mmr").as("mmr"))
    var selected = pick(cands.withColumn("__mmr",
      lit(lambda) * col("__s") - (lit(1.0) - lambda) * lit(0.0)), 1)
      .localCheckpoint(eager = true)
    var i = 2
    while (i <= k) {
      val unsel = cands.join(
        selected.select(col("__q"), col("__id")), Seq("__q", "__id"),
        "left_anti")
      val scored = unsel
        .join(broadcast(selected.select(col("__q"),
          col("__v").as("__sv"))), Seq("__q"))
        .groupBy(col("__q"), col("__id"), col("__s"))
        .agg(max(Vectors.cosine(col("__v"), col("__sv"))).as("__ms"))
        .join(cands.select(col("__q"), col("__id"), col("__v")),
          Seq("__q", "__id"))
        .withColumn("__mmr",
          lit(lambda) * col("__s") - (lit(1.0) - lambda) * col("__ms"))
      val next = selected
        .unionByName(pick(scored, i))
        .localCheckpoint(eager = true)
      Pinning.unpin(selected) // superseded round
      selected = next
      i += 1
    }
    selected.select(col("__q").as(queryCol), col("__id").as(idCol),
      col("rank"), col("mmr"))
  }

  /** k-center greedy coreset (Gonzalez 1985 farthest-first traversal;
    * Sener & Savarese 2018 as the data-selection recipe): pick k pool
    * points such that every point is near SOME pick — the
    * coverage-maximizing subset for a fixed labeling / finetuning /
    * human-review budget, where sampling ∝ density would burn the whole
    * budget on the biggest cluster. Seed = smallest id (deterministic);
    * round i picks the point FARTHEST (cosine distance 1 − cos) from
    * its nearest already-picked center, ties by (dist desc, id). Each
    * selected row reports `radius` — its distance to the nearest
    * earlier center at pick time, i.e. the covering radius AFTER i−1
    * centers (null for the seed). The radius column is monotonically
    * non-increasing down the ranks: its decay curve is the budget
    * planning table ("how many centers until coverage ε"). If k exceeds
    * the pool, every point returns.
    *
    * Pool is caller-bounded (an ANN/filter pre-pass — the selection
    * contract [[mmrRerank]] shares); k driver rounds, but each round
    * broadcasts ONLY the single newest center and folds it into a
    * per-row running min — O(n·k) total distance evaluations, never the
    * O(n·k²) re-max over all selected. Argmax picks are
    * TakeOrderedAndProject (never a global sort); per-round pins with
    * unpin of superseded state (the pageRank discipline).
    */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .localCheckpoint() // the per-round carry re-reads one snapshot
    // A pool smaller than k exhausts after |distinct ids| picks (the
    // anti-join removes every row of a picked id): every later round
    // would pick nothing yet still pay an eager checkpoint job (k=1000
    // over a 10-point pool = ~990 no-op Spark jobs). The pinned base
    // makes the exact bound one cheap distinct-count.
    val kEff = math.min(k.toLong,
      base.agg(count_distinct(col("__id"))).head.getLong(0)).toInt
    var selected = base.orderBy("__id").limit(1)
      .select(col("__id"), col("__v"), lit(1).as("rank"),
        lit(null).cast("double").as("radius"))
      .localCheckpoint(eager = true)
    // per-row running min distance to the selected set so far
    var state = base
      .crossJoin(broadcast(selected.select(col("__v").as("__sv"))))
      .select(col("__id"), col("__v"),
        (lit(1.0) - Vectors.cosine(col("__v"), col("__sv"))).as("__d"))
      .localCheckpoint(eager = true)
    var i = 2
    while (i <= kEff) {
      val next = state
        .join(broadcast(selected.select("__id")), Seq("__id"), "left_anti")
        .orderBy(col("__d").desc, col("__id"))
        .limit(1)
        .select(col("__id"), col("__v"), lit(i).as("rank"),
          col("__d").as("radius"))
      val nsel = selected.unionByName(next).localCheckpoint(eager = true)
      Pinning.unpin(selected)
      selected = nsel
      if (i < kEff) {
        val newest = selected.where(col("rank") === i)
          .select(col("__v").as("__nv"))
        val nstate = state.crossJoin(broadcast(newest))
          .select(col("__id"), col("__v"),
            least(col("__d"),
              lit(1.0) - Vectors.cosine(col("__v"), col("__nv")))
              .as("__d"))
          .localCheckpoint(eager = true)
        Pinning.unpin(state)
        state = nstate
      }
      i += 1
    }
    Pinning.unpin(state)
    selected.select(col("__id").as(idCol), col("rank"), col("radius"))
  }

  /** Greedy facility-location selection (Nemhauser, Wolsey & Fisher 1978
    * gives the (1−1/e) guarantee; Iyer et al. 2021 as the data-subset-
    * selection recipe): pick k pool points maximizing the submodular
    * coverage f(S) = Σ_v max(0, max_{c∈S} cos(v, c)) — the REPRESENTATIVE
    * subset, where [[kCenterCoreset]]'s max-min objective chases outliers
    * and density sampling over-picks the biggest cluster. The 0 floor
    * makes f monotone under negative cosines (an anti-aligned center
    * never *reduces* coverage). Ties by (gain desc, id); deterministic.
    * Each selected row reports `gain` — its marginal coverage at pick
    * time, a non-increasing curve (submodularity) that is the budget
    * planning table ("how much coverage does center k+1 still buy").
    * Picks stop early if the best remaining gain is ≤ 0 (every point
    * already covered at least as well — more centers buy nothing).
    *
    * Pool is caller-bounded at `maxRows` (an ANN/filter pre-pass — the
    * selection contract [[mmrRerank]] shares) because the gain of EVERY
    * candidate changes with EVERY pick: unlike k-center's newest-center
    * fold, facility location fundamentally re-scores candidates against
    * the pool, so the pairwise cosines materialize ONCE (one broadcast
    * cross join, n² bounded rows, pinned) and each of the k rounds is
    * one coverage join + a partial-agg gain sum + a
    * TakeOrderedAndProject argmax — never an n² recompute per round.
    * Per-round pin/unpin of the coverage carry (the pageRank discipline).
    * Ids must be unique ([[marginMining]]'s contract): a duplicated id
    * would double-count its pair rows in every gain sum. Picks are kept
    * as driver literals, so ids must also be of an atomic type (no
    * arrays, structs or maps) and non-NULL; both are refused up front.
    */
  def facilityLocationSelect(df: DataFrame, idCol: String, vecCol: String,
                             k: Int, maxRows: Int = 20000): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = df.sparkSession
    val idType = df.select(col(idCol)).schema.head.dataType
    require(idType match {
        case _: org.apache.spark.sql.types.NumericType |
             _: org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BinaryType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      },
      s"facilityLocationSelect needs an atomic id type (picks are " +
        s"matched as literals): $idCol is ${idType.simpleString}")
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .localCheckpoint() // read by both cross-join sides + the count bound
    val n = base.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"facilityLocationSelect is an exact greedy bounded at " +
        s"maxRows=$maxRows — slice the pool or pre-select candidates " +
        s"with ivfTopK/an upstream filter.")
    val ids = base.agg(count_distinct(col("__id")),
      count(when(col("__id").isNull, 1))).head()
    require(ids.getLong(1) == 0L,
      s"facilityLocationSelect: $idCol has ${ids.getLong(1)} NULL ids")
    // every (candidate, point) cosine, computed once for all k rounds and
    // pinned ALIGNED on the point id: every round's coverage join reads it
    // on __p, so the n²-row table never re-exchanges inside the loop
    // (the pinBy alignment the iterative graph family uses)
    val parts = Pinning.partsFor(n * n, df)
    val pairs = Pinning.pinByWith(
      base.select(col("__id").as("__c"), col("__v").as("__cv"))
        .crossJoin(broadcast(base.select(col("__id").as("__p"),
          col("__v").as("__pv"))))
        .select(col("__c"), col("__p"),
          Vectors.cosine(col("__cv"), col("__pv")).as("__s")),
      parts, eager = false, "__p") // lazy: materializes inside round 1
    val kEff = math.min(k.toLong, ids.getLong(0)).toInt
    // The selected set is ≤ k rows and every round's argmax already
    // pulls ONE row to the driver to decide termination — so picks
    // live as driver scalars (k-bounded, the q98 seed-exemplar budget) and
    // each round is exactly two jobs: the gains argmax and the coverage-
    // carry pin. The previous shape checkpointed `selected` and `next`
    // per round — three more serial driver-blocking jobs per pick.
    def argmaxHead(gains: DataFrame): Option[(Any, Double)] = gains
      .orderBy(col("__gain").desc, col("__c"))
      .limit(1).head(1).headOption
      .map(r => (r.get(0), r.getDouble(1)))
    var picks = Vector.empty[(Any, Int, Double)]
    var cover: DataFrame = null
    var exhausted = kEff < 1
    val first = if (exhausted) None else argmaxHead(
      pairs.groupBy("__c").agg(sum(greatest(col("__s"), lit(0.0)))
        .as("__gain")))
    first match {
      case None => exhausted = true
      case Some((id, gain)) =>
        picks :+= ((id, 1, gain)) // the rank-1 pick is kept even at gain 0
        exhausted = gain <= 0
        if (!exhausted && kEff > 1)
          // per-point best coverage by the selected set so far (0 floor),
          // pinned aligned on __p like pairs — the round join is
          // exchange-free on both sides
          cover = Pinning.pinByWith(
            pairs.where(col("__c") === lit(id))
              .select(col("__p"), greatest(col("__s"), lit(0.0)).as("__cm")),
            parts, eager = true, "__p")
    }
    var i = 2
    while (i <= kEff && !exhausted) {
      val pickedIds = picks.map(_._1)
      val gains = pairs
        .where(!col("__c").isin(pickedIds: _*))
        .join(cover, Seq("__p"))
        .groupBy("__c")
        .agg(sum(greatest(col("__s") - col("__cm"), lit(0.0)))
          .as("__gain"))
      argmaxHead(gains) match {
        case Some((id, gain)) if gain > 0 =>
          picks :+= ((id, i, gain))
          if (i < kEff) {
            val ncover = Pinning.pinByWith(
              cover.join(pairs.where(col("__c") === lit(id))
                  .select(col("__p"), col("__s")), Seq("__p"))
                .select(col("__p"), greatest(col("__cm"), col("__s"))
                  .as("__cm")),
              parts, eager = true, "__p")
            Pinning.unpin(cover)
            cover = ncover
          }
        case _ => exhausted = true
      }
      i += 1
    }
    if (cover != null) Pinning.unpin(cover)
    Seq(pairs, base).foreach(Pinning.unpin)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        base.schema("__id").dataType, base.schema("__id").nullable),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("gain",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    picks.foreach { case (id, r, g) =>
      rows.add(org.apache.spark.sql.Row(id, r, g)) }
    spark.createDataFrame(rows, outSchema)
  }

  /** DBSCAN density clustering (Ester et al. 1996) over a PRECOMPUTED
    * eps-neighbor pair table — the curation pass that separates dense
    * semantic regions from stragglers where k-means-style quantizers
    * force every point into a cell. Decoupling neighborhood discovery
    * from the clustering is the scale design: feed
    * `Dedup.embeddingNearDupExact` (bounded all-pairs audit anchor) or
    * `Dedup.embeddingNearDupPairs` (LSH-bucketed, corpus scale — its
    * recall is separately gated) as `pairs` (id_a < id_b once per
    * unordered pair, that contract), and the same clustering semantics
    * ride either path.
    *
    * Semantics (deterministic throughout):
    * - a point is CORE when its neighbor count + 1 ≥ minPts (the point
    *   counts itself — the standard convention);
    * - clusters = connected components over core–core eps-edges
    *   ([[Dedup.connectedComponents]] — label = min core id; a core with
    *   no core neighbor keeps its own id as a singleton cluster);
    * - a non-core point with ≥ 1 core neighbor is BORDER and joins the
    *   MINIMUM label among its core neighbors (textbook DBSCAN leaves
    *   multi-cluster borders visit-order-dependent; min-label is the
    *   canonical deterministic resolution);
    * - everything else is NOISE (cluster null).
    *
    * Returns one row per point: (idCol, n_neighbors, is_core, cluster,
    * role ∈ core|border|noise).
    *
    * SCALE: the pair table pins once; degrees/flags are one pair-keyed
    * aggregate, core filtering two semi-joins, and the component loop is
    * connectedComponents' O(log diameter) rounds on (id, label) rows —
    * nothing here re-touches vectors, so the cost after neighborhood
    * discovery is edge-bound, not dimension-bound.
    */
  def dbscan(points: DataFrame, idCol: String, pairs: DataFrame,
             minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val p0 = pairs.select(col("id_a"), col("id_b"))
      .localCheckpoint() // degrees, core edges, border join all re-read it
    val und = p0.select(col("id_a").as("__id"), col("id_b").as("__nb"))
      .unionByName(p0.select(col("id_b").as("__id"),
        col("id_a").as("__nb")))
    val deg = und.groupBy("__id").agg(count(lit(1)).as("__n"))
    val flagged = points.select(col(idCol).as("__id"))
      .join(deg, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("__n"), lit(0L)).as("n_neighbors"),
        (coalesce(col("__n"), lit(0L)) + 1 >= minPts).as("is_core"))
      .localCheckpoint() // core filter + final assembly
    val cores = flagged.where(col("is_core")).select("__id")
    val coreEdges = p0
      .join(cores.withColumnRenamed("__id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(cores.withColumnRenamed("__id", "id_b"), Seq("id_b"),
        "left_semi")
    val cc = Dedup.connectedComponents(coreEdges)
    val coreLabeled = cores
      .join(cc.withColumnRenamed("id", "__id"), Seq("__id"), "left")
      .select(col("__id"), coalesce(col("cluster"), col("__id"))
        .as("cluster"))
      .localCheckpoint() // border join + final assembly
    val borderLabels = und
      .join(flagged.where(!col("is_core")).select("__id"), Seq("__id"),
        "left_semi")
      .join(coreLabeled.select(col("__id").as("__nb"), col("cluster")),
        Seq("__nb"))
      .groupBy("__id").agg(min("cluster").as("__bcl"))
    flagged
      .join(coreLabeled.withColumnRenamed("cluster", "__ccl"),
        Seq("__id"), "left")
      .join(borderLabels, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_neighbors"), col("is_core"),
        coalesce(col("__ccl"), col("__bcl")).as("cluster"),
        when(col("is_core"), "core")
          .when(col("__bcl").isNotNull, "border")
          .otherwise("noise").as("role"))
  }
}
