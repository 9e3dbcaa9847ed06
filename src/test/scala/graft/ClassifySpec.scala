package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Classify

/** [[Classify]] — feature determinism, gradient-descent learning on a
  * separable fixture, scoring semantics.
  */
class ClassifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fcols = Seq("f0", "f1", "f2", "f3")

  test("textFeatures: integer-derived, empty text stays finite") {
    val docs = Seq((1L, "ab ab cd"), (2L, "")).toDF("doc_id", "text")
    val f = Classify.textFeatures(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = f(0)
    assert(r1.getDouble(r1.fieldIndex("f0")) === 1.0)
    assert(r1.getDouble(r1.fieldIndex("f1")) === 0.03)        // 3 tokens
    assert(r1.getDouble(r1.fieldIndex("f2")) === 8.0 / 30.0)  // 8 chars
    assert(r1.getDouble(r1.fieldIndex("f3")) === 2.0 / 3.0)   // 2 unique
    val r2 = f(1)
    fcols.foreach(c =>
      assert(!r2.getDouble(r2.fieldIndex(c)).isNaN, s"$c NaN on empty text"))
  }

  test("trainLogistic separates long from short docs") {
    // y=1 docs are 40 tokens, y=0 docs are 4 — f1 separates them linearly
    val long = (1L to 20L).map(i => (i, Seq.fill(40)(s"w$i").mkString(" "), 1.0))
    val short = (21L to 40L).map(i => (i, Seq.fill(4)(s"w$i").mkString(" "), 0.0))
    val feats = Classify.textFeatures(
      (long ++ short).toDF("doc_id", "text", "y"), "doc_id", "text")
    val w = Classify.trainLogistic(feats, fcols, "y",
      iterations = 60, lr = 8.0)
    val scored = Classify.scoreLogistic(feats, fcols, w)
      .select(col("y"), col("p")).collect()
    assert(scored.forall(r => (r.getDouble(1) >= 0.5) == (r.getDouble(0) == 1.0)),
      s"not separated with w=${w.toSeq}")
  }

  test("zero iterations scores one half everywhere; weights shape checked") {
    val feats = Classify.textFeatures(
      Seq((1L, "a b c", 1.0)).toDF("doc_id", "text", "y"), "doc_id", "text")
    val w = Classify.trainLogistic(feats, fcols, "y", iterations = 0)
    assert(w.toSeq === Seq(0.0, 0.0, 0.0, 0.0))
    val p = Classify.scoreLogistic(feats, fcols, w).select("p").head.getDouble(0)
    assert(p === 0.5)
    assertThrows[IllegalArgumentException] {
      Classify.scoreLogistic(feats, fcols, Array(1.0))
    }
  }

  test("naive bayes: routes held-out docs to their token distribution") {
    val train = Seq(
      ("en", "the cat sat on the mat"), ("en", "the dog ran to the park"),
      ("de", "der hund lief zum park"), ("de", "die katze sass auf der matte")
    ).toDF("lang", "text")
    val (model, priors) = Classify.trainNaiveBayes(train, "text", "lang")
    val test = Seq((1L, "the cat ran"), (2L, "der hund auf matte"))
      .toDF("doc_id", "text")
    val got = Classify.scoreNaiveBayes(test, "doc_id", "text", model, priors)
      .orderBy("doc_id").collect()
    assert(got.map(_.getAs[String]("predicted_class")).toSeq ===
      Seq("en", "de"))
    assert(got.forall(_.getAs[Double]("log_posterior") < 0.0))
  }

  test("naive bayes: all-OOV doc falls back to priors (tie → first class)") {
    val train = Seq(("a", "x x"), ("b", "y y")).toDF("lang", "text")
    val (model, priors) = Classify.trainNaiveBayes(train, "text", "lang")
    // 'w' unseen by both classes; equal priors and equal OOV mass
    // (same totals) → posterior tie → lexicographically first class
    val got = Classify.scoreNaiveBayes(
      Seq((1L, "w")).toDF("doc_id", "text"), "doc_id", "text", model, priors)
      .head()
    assert(got.getAs[String]("predicted_class") === "a")
  }

  test("kMeansFixed: recovers two planted blobs with blob-seeded init") {
    // ids 1,2 are the two blob anchors, so the k=2 init starts one
    // centroid in each blob and Lloyd converges in one round
    val pts = Seq(
      (1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 0.5, 0.0),
      (4L, 9.5, 10.0), (5L, 0.0, 0.5), (6L, 10.0, 9.5)
    ).toDF("id", "x", "y")
    val (assigned, cents) = Classify.kMeansFixed(pts, "id", Seq("x", "y"),
      k = 2, iterations = 2)
    val c = cents.orderBy("cluster").collect()
    assert(c.map(_.getAs[Long]("n_points")).toSeq === Seq(3L, 3L))
    assert(math.abs(c(0).getAs[Double]("x") - 0.5 / 3) < 1e-12)
    assert(math.abs(c(1).getAs[Double]("x") - (29.5 / 3)) < 1e-12)
    val byCluster = assigned.orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("cluster")).toMap
    assert(Seq(1L, 3L, 5L).forall(byCluster(_) === byCluster(1L)))
    assert(Seq(2L, 4L, 6L).forall(byCluster(_) === byCluster(2L)))
  }

  test("olsFit: exact linear data recovers coefficients with r2 = 1") {
    // y = 2 + 3·x1 − x2 on a non-degenerate grid
    val rows = for (x1 <- 0 to 4; x2 <- 0 to 3)
      yield (x1.toDouble, x2.toDouble, 2.0 + 3.0 * x1 - x2)
    val df = rows.toDF("x1", "x2", "y")
    val (n, icpt, beta, r2) = Classify.olsFit(df, "y", Seq("x1", "x2"))
    assert(n === 20L)
    assert(math.abs(icpt - 2.0) < 1e-9)
    assert(math.abs(beta(0) - 3.0) < 1e-9)
    assert(math.abs(beta(1) + 1.0) < 1e-9)
    assert(math.abs(r2 - 1.0) < 1e-9)
  }

  test("targetEncodeLoo: own row excluded, prior shrinks singletons") {
    val rows = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0))
      .toDF("cat", "y")
    val gm = 4.0 // (1+2+3+10)/4
    val got = Classify.targetEncodeLoo(rows, "cat", "y", m = 1.0)
      .orderBy("cat", "y").collect()
      .map(r => (r.getAs[String]("cat"), r.getAs[Double]("y"),
        r.getAs[Double]("te")))
    // a, y=1: (6-1 + 1*4)/(3-1+1) = 3
    assert(math.abs(got(0)._3 - 3.0) < 1e-12)
    // a, y=3: (6-3+4)/3 = 7/3
    assert(math.abs(got(2)._3 - 7.0 / 3) < 1e-12)
    // singleton b: (10-10+4)/(0+1) = gm exactly — pure prior, no leak
    assert(math.abs(got(3)._3 - gm) < 1e-12)
  }

  test("olsFit: collinear design fails loudly, not with garbage betas") {
    val rows = (1 to 10).map(i => (i.toDouble, 2.0 * i, i * 3.0))
    assertThrows[IllegalArgumentException] {
      Classify.olsFit(rows.toDF("x1", "x2", "y"), "y", Seq("x1", "x2"))
    }
  }

  test("silhouetteSimplified: tight separated clusters ≈ 1, merged < 0.5") {
    // two tight clusters far apart: a ≈ 0.5, b ≈ 10 → s ≈ 0.95
    val assigned = Seq(
      (0.0, 0), (1.0, 0), (10.0, 1), (11.0, 1))
      .toDF("x", "cluster")
    val cents = Seq((0, 0.5), (1, 10.5)).toDF("cluster", "x")
    val got = Classify.silhouetteSimplified(assigned, cents, Seq("x"))
      .orderBy("cluster").collect()
    // per cluster: a = 0.5 for both points, b = 10.5 and 9.5 → hand mean
    val expected = (10.0 / 10.5 + 9.0 / 9.5) / 2
    got.foreach { r =>
      assert(r.getAs[Long]("n_points") === 2L)
      assert(math.abs(r.getAs[Double]("mean_silhouette") - expected) < 1e-12)
    }
    // a point sitting ON another centroid scores negative
    val stray = Seq((0.0, 0), (10.5, 0), (10.0, 1), (11.0, 1))
      .toDF("x", "cluster")
    val cents2 = Seq((0, 0.0), (1, 10.5)).toDF("cluster", "x")
    val s2 = Classify.silhouetteSimplified(stray, cents2, Seq("x"))
      .orderBy("cluster").collect()
    assert(s2.head.getAs[Double]("min_silhouette") < 0)
  }

  test("chiMergeBins: zero-chi neighbours merge first, ties to lower bin") {
    // values 1..16 → 4 quantile prebins of 4; target = v ≥ 9: prebins
    // carry events [0,0,4,4]. chi(0,1)=0 and chi(2,3)=0 tie → merge
    // (0,1) first, then (2,3) → final [0-1: 8/0, 2-3: 8/8]
    val rows = (1 to 16).map(v => (v.toDouble, if (v >= 9) 1 else 0))
      .toDF("v", "y")
    val got = Classify.chiMergeBins(rows, "v", "y",
        initialBins = 4, targetBins = 2)
      .orderBy("bin").collect()
    assert(got.length === 2)
    assert((got(0).getAs[Int]("lo_prebin"), got(0).getAs[Int]("hi_prebin"),
      got(0).getAs[Long]("n"), got(0).getAs[Long]("events")) ===
      ((0, 1, 8L, 0L)))
    assert((got(1).getAs[Int]("lo_prebin"), got(1).getAs[Int]("hi_prebin"),
      got(1).getAs[Long]("n"), got(1).getAs[Long]("events")) ===
      ((2, 3, 8L, 8L)))
    assert(got(1).getAs[Double]("event_rate") === 1.0)
  }

  test("chiMergeBins: a rate step survives while flat neighbours merge") {
    // prebins events [0, 0, 0, 2, 4, 4, 4, 4]/4 → with targetBins 3 the
    // boundary around the transition prebin is what remains
    val rows = (0 until 32).map { i =>
      val pre = i / 4
      val e = pre match {
        case p if p <= 2 => 0; case 3 => if (i % 4 < 2) 1 else 0
        case _ => 1
      }
      (i.toDouble, e)
    }.toDF("v", "y")
    val got = Classify.chiMergeBins(rows, "v", "y",
        initialBins = 8, targetBins = 3)
      .orderBy("bin").collect()
    assert(got.length === 3)
    // rates are the flat-low block, the transition, the flat-high block
    val rates = got.map(_.getAs[Double]("event_rate")).toSeq
    assert(rates === Seq(0.0, 0.5, 1.0))
  }

  test("chiMergeBins: GK-sketch prebin path tracks the exact path within " +
    "rank-error tolerance") {
    // 20k rows, smooth value spread: accuracy 10000 bounds each GK
    // threshold's rank error to N/10000 = 2 rows, so per-bin counts can
    // drift only by a few rows per boundary and the merge sequence —
    // driven by whole-bin chi² — stays the exact path's
    val n = 20000
    val rows = (0 until n).map { i =>
      val v = (i * 2654435761L % 1000003L).toDouble
      (v, if (v > 500000) 1 else 0)
    }.toDF("v", "y")
    val exact = Classify.chiMergeBins(rows, "v", "y",
        initialBins = 12, targetBins = 5)
      .orderBy("bin").collect()
    val approx = Classify.chiMergeBins(rows, "v", "y",
        initialBins = 12, targetBins = 5, approxAccuracy = Some(10000))
      .orderBy("bin").collect()
    assert(approx.length === exact.length)
    assert(approx.map(_.getAs[Long]("n")).sum === n.toLong)
    exact.zip(approx).foreach { case (e, a) =>
      assert(a.getAs[Int]("lo_prebin") === e.getAs[Int]("lo_prebin"))
      assert(a.getAs[Int]("hi_prebin") === e.getAs[Int]("hi_prebin"))
      // ≤ 2 boundaries per bin × 2-row rank error, with slack
      assert(math.abs(a.getAs[Long]("n") - e.getAs[Long]("n")) <= 16L,
        s"bin ${e.getAs[Int]("bin")}: ${a.getAs[Long]("n")} vs " +
          s"${e.getAs[Long]("n")}")
      assert(math.abs(a.getAs[Double]("event_rate") -
        e.getAs[Double]("event_rate")) <= 0.01)
    }
  }

  test("chiMergeBins: big input auto-routes prebins to the GK sketch; " +
    "small input and MaxValue opt-out stay exact") {
    // Same 20k fixture; maxExactRows = 1000 forces the auto-route, whose
    // result must be IDENTICAL to an explicit approxAccuracy = 10000 run
    // (proof the sketch path was taken — the exact path differs on this
    // fixture in per-bin counts at several boundaries).
    val n = 20000
    val rows = (0 until n).map { i =>
      val v = (i * 2654435761L % 1000003L).toDouble
      (v, if (v > 500000) 1 else 0)
    }.toDF("v", "y")
    def rendered(rs: Array[org.apache.spark.sql.Row]): Seq[(Int, Long)] =
      rs.map(r => (r.getAs[Int]("lo_prebin"), r.getAs[Long]("n"))).toSeq
    val routed = Classify.chiMergeBins(rows, "v", "y",
      initialBins = 12, targetBins = 5, maxExactRows = 1000L)
      .orderBy("bin").collect()
    val sketch = Classify.chiMergeBins(rows, "v", "y",
      initialBins = 12, targetBins = 5, approxAccuracy = Some(10000))
      .orderBy("bin").collect()
    val exact = Classify.chiMergeBins(rows, "v", "y",
      initialBins = 12, targetBins = 5).orderBy("bin").collect()
    val optOut = Classify.chiMergeBins(rows, "v", "y",
      initialBins = 12, targetBins = 5, maxExactRows = Long.MaxValue)
      .orderBy("bin").collect()
    // the fixture separates the two paths (per-bin counts differ at GK
    // rank-error boundaries), so routed === sketch proves the route
    assert(rendered(exact) !== rendered(sketch))
    assert(rendered(routed) === rendered(sketch))
    assert(rendered(exact) === rendered(optOut))
    assert(routed.map(_.getAs[Long]("n")).sum === n.toLong)
  }

  /** chiMergeBins as it was before the one-aggregate rewrite, kept
    * literally: thresholds from Spark's `percentile` (or, on the GK route,
    * `percentile_approx`) over the raw column, each row's prebin = the
    * thresholds strictly below it, a prebin-keyed aggregate, then the
    * merge loop. Returns (lo_prebin, hi_prebin, n, events) per final bin.
    */
  private def referenceChiMerge(df: org.apache.spark.sql.DataFrame,
                                v: String, y: String, initialBins: Int,
                                targetBins: Int,
                                approx: Option[Int]): Seq[(Int, Int, Long, Long)] = {
    val ps = array((1 until initialBins).map(b =>
      lit(b.toDouble / initialBins)): _*)
    val ths = approx.fold(df.agg(percentile(col(v), ps).as("__ths")))(a =>
      df.agg(percentile_approx(col(v), ps, lit(a)).as("__ths")))
    var bins = df.crossJoin(broadcast(ths))
      .withColumn("bucket", size(filter(col("__ths"), t => col(v) > t)))
      .groupBy(col("bucket").cast("int").as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(col(y).cast("double")).cast("long").as("__e"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toVector
    def chi2(a: (Int, Int, Long, Long), b: (Int, Int, Long, Long)): Double = {
      val tot = (a._3 + b._3).toDouble
      val ev = (a._4 + b._4).toDouble; val nev = tot - ev
      def cell(obs: Double, rowTot: Double, colTot: Double): Double = {
        val exp = (rowTot * colTot) / tot
        if (exp > 0) (obs - exp) * (obs - exp) / exp else 0.0
      }
      cell(a._4.toDouble, a._3.toDouble, ev) +
        cell((a._3 - a._4).toDouble, a._3.toDouble, nev) +
        cell(b._4.toDouble, b._3.toDouble, ev) +
        cell((b._3 - b._4).toDouble, b._3.toDouble, nev)
    }
    while (bins.size > targetBins) {
      val (m, _) = bins.indices.dropRight(1)
        .map(i => i -> chi2(bins(i), bins(i + 1))).minBy { case (i, c) => (c, i) }
      val (alo, _, an, ae) = bins(m); val (_, bhi, bn, be) = bins(m + 1)
      bins = (bins.take(m) :+ ((alo, bhi, an + bn, ae + be))) ++ bins.drop(m + 2)
    }
    bins
  }

  /** `n` rows over `domain` hashed values (ties when domain < n; every
    * tenth row draws from 100 values, so large domains tie too), ~2 %
    * NULL values, as a double `vd` and a decimal(12,2) `vdec`, with a
    * 0/1 target whose rate rises with the value.
    */
  private def chiFixture(seed: Long, n: Long, domain: Long) = {
    val h = (salt: Long) => pmod(xxhash64(col("id"), lit(seed * 31 + salt)),
      lit(Long.MaxValue))
    val k = when(col("id") % 10 === 0, pmod(h(1), lit(100L)))
      .otherwise(pmod(h(2), lit(domain)))
    spark.range(n).select(
      when(pmod(h(3), lit(50L)) === 0, lit(null)).otherwise(k).as("k"),
      (pmod(h(4), lit(100L)) < lit(20.0) + pmod(h(2), lit(domain)) * 60.0 / domain)
        .cast("int").as("y"))
      .select((col("k") / 7.0).as("vd"),
        (col("k") / 100).cast("decimal(12,2)").as("vdec"), col("y"))
  }

  test("chiMergeBins: equals the percentile-threshold reference on both " +
    "domain routes and the GK route (ties, NULLs, decimals)") {
    def check(df: org.apache.spark.sql.DataFrame, v: String,
              maxExactRows: Long, approx: Option[Int], what: String): Unit = {
      val got = Classify.chiMergeBins(df, v, "y", initialBins = 16,
          targetBins = 6, maxExactRows = maxExactRows)
        .orderBy("bin").collect()
        .map(r => (r.getAs[Int]("lo_prebin"), r.getAs[Int]("hi_prebin"),
          r.getAs[Long]("n"), r.getAs[Long]("events"))).toSeq
      assert(got === referenceChiMerge(df, v, "y", 16, 6, approx), what)
      assert(got.map(_._3).sum === df.count(), what)
    }
    for (seed <- 1L to 3L) {
      val small = chiFixture(seed, 20000L, 3000L).cache()
      for (v <- Seq("vd", "vdec")) {
        check(small, v, 10000000L, None, s"small/$v/$seed")
        check(small, v, 1000L, Some(10000), s"gk/$v/$seed")
      }
      // the small route is two jobs: the per-value aggregate's shuffle
      // and one collect of the table
      val (_, jobs) = JobCount.of(spark)(
        Classify.chiMergeBins(small, "vd", "y", 16, 6))
      assert(jobs <= 2, s"small route started $jobs jobs")
      small.unpersist()
    }
    val large = chiFixture(4L, 80000L, 1000000000L).cache()
    assert(large.where(col("vd").isNotNull).select("vd").distinct().count() >
      65536L)
    for (v <- Seq("vd", "vdec")) check(large, v, 10000000L, None, s"large/$v")
    large.unpersist()
  }

  test("confidentJoint: thresholds, off-diagonal catch, unconfident bucket") {
    // t0 = mean s0 over label 0 = 0.6; t1 = mean s1 over label 1 = 0.75
    val rows = Seq(
      (0, 0.9, 0.1), (0, 0.7, 0.3),
      (0, 0.2, 0.8),               // clears only t1 → latent 1 (mislabel)
      (1, 0.1, 0.9),
      (1, 0.4, 0.6))               // clears neither → unconfident
      .toDF("lab", "s0", "s1")
    val got = Classify.confidentJoint(rows, "lab", Seq("s0", "s1"))
      .orderBy("given_label", "latent_label").collect()
    assert(got.map(r => (r.getAs[Int]("given_label"),
      r.getAs[Int]("latent_label"), r.getAs[Long]("n"))).toSeq ===
      Seq((0, 0, 2L), (0, 1, 1L), (1, 1, 1L)))
    assert(got.forall(_.getAs[Long]("n_unconfident") === 1L))
    assert(got.head.getAs[Long]("n_given") === 3L)
    assert(math.abs(got.head.getAs[Double]("frac_of_given") - 2.0 / 3) < 1e-12)
  }

  test("confidentJoint: score ties resolve to the lower class index") {
    val rows = Seq((0, 0.5, 0.5), (1, 0.5, 0.5)).toDF("lab", "s0", "s1")
    val got = Classify.confidentJoint(rows, "lab", Seq("s0", "s1"))
      .orderBy("given_label").collect()
    assert(got.map(_.getAs[Int]("latent_label")).toSeq === Seq(0, 0))
  }

  test("woeIv: hand-computed smoothing algebra, IV sums over terms") {
    // a: 3 events / 1 nonevent; b: 1 / 3 — totals 4 / 4
    val rows = Seq(("a", 1), ("a", 1), ("a", 1), ("a", 0),
      ("b", 1), ("b", 0), ("b", 0), ("b", 0)).toDF("cat", "y")
    val got = Classify.woeIv(rows, "cat", "y").orderBy("cat").collect()
    val a = got(0)
    assert(a.getAs[Long]("n") === 4L && a.getAs[Long]("events") === 3L)
    val pe = 3.5 / 4.0; val pn = 1.5 / 4.0
    assert(math.abs(a.getAs[Double]("woe") - math.log(pe / pn)) < 1e-12)
    assert(math.abs(a.getAs[Double]("iv_term") -
      (pe - pn) * math.log(pe / pn)) < 1e-12)
    // symmetric fixture: b mirrors a, so IV terms are equal
    val b = got(1)
    assert(math.abs(b.getAs[Double]("iv_term") -
      a.getAs[Double]("iv_term")) < 1e-12)
  }

  test("woeIv: pure category stays finite; single-class corpus nulls out") {
    val pure = Seq(("a", 1), ("a", 1), ("b", 0)).toDF("cat", "y")
    val got = Classify.woeIv(pure, "cat", "y").orderBy("cat").collect()
    assert(!got(0).getAs[Double]("woe").isInfinite)
    assert(got(0).getAs[Double]("woe") > 0 && got(1).getAs[Double]("woe") < 0)
    val oneClass = Seq(("a", 1), ("b", 1)).toDF("cat", "y")
    val r = Classify.woeIv(oneClass, "cat", "y").head()
    assert(r.isNullAt(r.fieldIndex("woe")) && r.isNullAt(r.fieldIndex("iv_term")))
  }
}
