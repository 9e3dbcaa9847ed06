package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Stats

/** [[Stats]] — evaluation / statistical-test operators against closed-form
  * fixtures computed by hand.
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def d(x: Double, y: Double, tol: Double = 1e-9): Boolean =
    math.abs(x - y) <= tol

  test("rankingMetrics: recall/MRR/NDCG from first principles") {
    // query q1: rel at ranks 2 and 5, k=3; query q2: nothing relevant
    val ranked = Seq(
      ("q1", 1, 0), ("q1", 2, 1), ("q1", 3, 0), ("q1", 4, 0), ("q1", 5, 1),
      ("q2", 1, 0), ("q2", 2, 0)
    ).toDF("q", "rank", "rel")
    val m = Stats.rankingMetrics(ranked, "q", "rank", "rel", k = 3)
      .orderBy("q").collect()
    val r1 = m(0)
    assert(r1.getAs[Long]("n_rel") === 2L)
    assert(r1.getAs[Long]("hits_k") === 1L)
    assert(d(r1.getAs[Double]("recall_k"), 0.5))
    assert(d(r1.getAs[Double]("mrr"), 0.5))
    val log2_3 = math.log(3.0) / math.log(2.0)
    val ndcg = (1.0 / log2_3) / (1.0 + 1.0 / log2_3)
    assert(d(r1.getAs[Double]("ndcg_k"), ndcg, 1e-6))
    val r2 = m(1) // no relevant items: all metrics 0, never NULL
    assert(r2.getAs[Long]("n_rel") === 0L)
    assert(d(r2.getAs[Double]("recall_k"), 0.0))
    assert(d(r2.getAs[Double]("mrr"), 0.0))
    assert(d(r2.getAs[Double]("ndcg_k"), 0.0))
  }

  test("calibrationBins: bin stats, ECE terms, score 1.0 clamps to top bin") {
    val rows = Seq((0.05, 0), (0.95, 1), (0.95, 0), (1.0, 1))
      .toDF("score", "label")
    val b = Stats.calibrationBins(rows, "score", "label", bins = 10)
      .orderBy("bin").collect()
    assert(b.map(_.getAs[Int]("bin")).toSeq === Seq(0, 9))
    val b0 = b(0)
    assert(b0.getAs[Long]("n") === 1L)
    assert(d(b0.getAs[Double]("confidence"), 0.05))
    assert(d(b0.getAs[Double]("accuracy"), 0.0))
    assert(d(b0.getAs[Double]("ece_term"), 0.25 * 0.05))
    val b9 = b(1)
    assert(b9.getAs[Long]("n") === 3L)
    assert(d(b9.getAs[Double]("accuracy"), 2.0 / 3.0))
    // ECE term = share × |conf − acc|
    val conf9 = (0.95 + 0.95 + 1.0) / 3.0
    assert(d(b9.getAs[Double]("ece_term"), 0.75 * math.abs(conf9 - 2.0 / 3.0)))
  }

  test("cohenKappa: textbook marginals") {
    val rows = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y"))
      .toDF("a", "b")
    val r = Stats.cohenKappa(rows, "a", "b").head()
    assert(r.getAs[Long]("n") === 4L)
    assert(d(r.getAs[Double]("po"), 0.75))
    assert(d(r.getAs[Double]("pe"), 0.5))
    assert(d(r.getAs[Double]("kappa"), 0.5))
  }

  test("cohenKappa: identical labelings score kappa 1") {
    val rows = Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("a", "b")
    val r = Stats.cohenKappa(rows, "a", "b").head()
    assert(d(r.getAs[Double]("po"), 1.0))
    assert(d(r.getAs[Double]("kappa"), 1.0))
  }

  test("chiSquareIndependence: 2×2 closed form incl. zero-observed cells") {
    val rows =
      (Seq.fill(10)(("a1", "b1")) ++ Seq.fill(20)(("a1", "b2")) ++
        Seq.fill(30)(("a2", "b1")) ++ Seq.fill(40)(("a2", "b2")))
        .toDF("a", "b")
    val r = Stats.chiSquareIndependence(rows, "a", "b").head()
    assert(r.getAs[Long]("n") === 100L)
    assert(r.getAs[Long]("dof") === 1L)
    val expected = 4.0 / 12 + 4.0 / 18 + 4.0 / 28 + 4.0 / 42
    assert(d(r.getAs[Double]("chi2"), expected, 1e-9))
    assert(d(r.getAs[Double]("cramers_v"), math.sqrt(expected / 100), 1e-9))
    // a category pair never observed together still contributes its
    // expected mass: add a lone ("a3","b1") row — cell (a3,b2) has o=0
    val r2 = Stats.chiSquareIndependence(
      rows.union(Seq(("a3", "b1")).toDF("a", "b")), "a", "b").head()
    assert(r2.getAs[Long]("dof") === 2L)
    assert(r2.getAs[Double]("chi2") > expected)
  }

  test("mannWhitney: tied ranks, U and z from first principles") {
    val rows = Seq(("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0),
      ("A", 4.0)).toDF("g", "v")
    val r = Stats.mannWhitney(rows, "v", "g", "A", "B").head()
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 2L)
    assert(d(r.getAs[Double]("u"), 2.5))
    val sigma = math.sqrt(3.0 * 2 / 12 * (6.0 - 6.0 / 20))
    assert(d(r.getAs[Double]("z"), (2.5 - 3.0) / sigma, 1e-9))
  }

  test("mannWhitney: symmetric samples give z = 0") {
    val rows = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0))
      .toDF("g", "v")
    val r = Stats.mannWhitney(rows, "v", "g", "A", "B").head()
    assert(d(r.getAs[Double]("z"), 0.0))
  }

  test("mahalanobis: independent standardized features → md2 = Σz²") {
    // symmetric ±1 grid: means 0, variances 1, covariance 0
    val rows = Seq((1L, -1.0, -1.0), (2L, -1.0, 1.0),
      (3L, 1.0, -1.0), (4L, 1.0, 1.0)).toDF("id", "x1", "x2")
    val got = Stats.mahalanobis(rows, Seq("x1", "x2"))
      .select("id", "md2").collect()
    assert(got.forall(r => math.abs(r.getDouble(1) - 2.0) < 1e-9))
    // scale-invariant: stretching one axis leaves md2 unchanged
    val stretched = Stats.mahalanobis(
      rows.select($"id", ($"x1" * 100).as("x1"), $"x2"), Seq("x1", "x2"))
      .select("md2").collect()
    assert(stretched.forall(r => math.abs(r.getDouble(0) - 2.0) < 1e-9))
  }

  test("mahalanobis: singular covariance fails loudly") {
    val rows = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0))
      .toDF("id", "x1", "x2")
    assertThrows[IllegalArgumentException] {
      Stats.mahalanobis(rows, Seq("x1", "x2")).collect()
    }
  }

  test("bootstrapMeanCI: deterministic, covers the mean, width ~ σ/√n") {
    val rows = (1 to 1000).map(i => (i.toLong, (i % 100) / 10.0))
      .toDF("id", "v")
    val r1 = Stats.bootstrapMeanCI(rows, "id", "v", replicates = 100).head()
    val r2 = Stats.bootstrapMeanCI(rows, "id", "v", replicates = 100).head()
    assert(r1 === r2, "hash-seeded resampling must replay exactly")
    val (mean, lo, hi) = (r1.getAs[Double]("mean"),
      r1.getAs[Double]("ci_lo"), r1.getAs[Double]("ci_hi"))
    assert(math.abs(mean - 4.95) < 1e-9)
    assert(lo < mean && mean < hi, s"CI [$lo, $hi] must cover the mean")
    // σ ≈ 2.886 → σ/√n ≈ 0.0913 → 95% CI width ≈ 0.36; allow slack for
    // 100-replicate percentile noise
    val width = hi - lo
    assert(width > 0.15 && width < 0.7, s"implausible CI width $width")
  }

  test("trimmedMean: interpolated cuts, inclusive band, outliers drop") {
    import graft.operators.Analytics
    val rows = (1 to 20).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Analytics.trimmedMean(rows, "grp", "v", lo = 0.1, hi = 0.9)
      .head()
    assert(r.getAs[Long]("n") === 20L)
    // cuts interpolate: 1 + 0.1·19 = 2.9 and 1 + 0.9·19 = 18.1 →
    // band keeps 3..18 (16 values), mean 10.5
    assert(math.abs(r.getAs[Double]("lo_cut") - 2.9) < 1e-9)
    assert(math.abs(r.getAs[Double]("hi_cut") - 18.1) < 1e-9)
    assert(r.getAs[Long]("n_kept") === 16L)
    assert(math.abs(r.getAs[Double]("trimmed_mean") - 10.5) < 1e-9)
    // a giant outlier cannot move the trimmed mean beyond cut shift
    val poisoned = rows.union(Seq(("g", 1e9)).toDF("grp", "v"))
    val r2 = Analytics.trimmedMean(poisoned, "grp", "v", 0.1, 0.9).head()
    assert(r2.getAs[Double]("trimmed_mean") < 20.0)
  }

  test("auc: separation, reversal, and tie credit") {
    def a(rows: Seq[(Double, Int)]): Double =
      Stats.auc(rows.toDF("score", "label"), "score", "label")
        .head().getAs[Double]("auc")
    assert(d(a(Seq((3.0, 1), (4.0, 1), (1.0, 0), (2.0, 0))), 1.0))
    assert(d(a(Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0))), 0.0))
    // pos {1,2} vs neg {2,3}: only the (2,2) tie scores, at half credit
    assert(d(a(Seq((1.0, 1), (2.0, 1), (2.0, 0), (3.0, 0))), 0.125))
  }

  test("prCurve: thresholds sweep the cumulative confusion counts") {
    val rows = Seq((0.9, 1), (0.8, 0), (0.7, 1)).toDF("score", "label")
    val got = Stats.prCurve(rows, "score", "label")
      .orderBy(col("threshold").desc).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("tp"),
        r.getAs[Long]("fp"), r.getAs[Double]("precision"),
        r.getAs[Double]("recall")))
    assert(got(0) === ((0.9, 1L, 0L, 1.0, 0.5)))
    assert(got(1) === ((0.8, 1L, 1L, 0.5, 0.5)))
    assert(got(2)._2 === 2L && got(2)._3 === 1L)
    assert(d(got(2)._4, 2.0 / 3) && d(got(2)._5, 1.0))
  }

  test("spearman: monotone = 1 regardless of curvature; reversal = -1") {
    val mono = (1 to 30).map(i => (i.toDouble, (i * i).toDouble))
      .toDF("x", "y")
    val r1 = Stats.spearman(mono, "x", "y").head()
    assert(r1.getAs[Long]("n") === 30L)
    assert(d(r1.getAs[Double]("rho"), 1.0, 1e-9))
    val anti = (1 to 30).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(d(Stats.spearman(anti, "x", "y").head()
      .getAs[Double]("rho"), -1.0, 1e-9))
  }

  test("kaplanMeier: textbook cohort with a censored subject") {
    // (t=1 event), (t=2 event), (t=2 censored), (t=3 event)
    val subjects = Seq((1.0, 1), (2.0, 1), (2.0, 0), (3.0, 1))
      .toDF("dur", "ev")
    val km = Stats.kaplanMeier(subjects, "dur", "ev")
      .orderBy("t").collect()
    assert(km.map(_.getAs[Double]("t")).toSeq === Seq(1.0, 2.0, 3.0))
    assert(km.map(_.getAs[Long]("n_at_risk")).toSeq === Seq(4L, 3L, 1L))
    assert(d(km(0).getAs[Double]("survival"), 0.75))
    assert(d(km(1).getAs[Double]("survival"), 0.5))
    assert(d(km(2).getAs[Double]("survival"), 0.0))
  }

  test("kAnonymity: class-size audit") {
    val rows = (Seq.fill(1)(("n1", "s1")) ++ Seq.fill(2)(("n1", "s2")) ++
      Seq.fill(5)(("n2", "s1"))).zipWithIndex
      .map { case ((a, b), i) => (a, b, i) }.toDF("qa", "qb", "id")
    val r = Stats.kAnonymity(rows, Seq("qa", "qb"), k = 3).head()
    assert(r.getAs[Long]("n_rows") === 8L)
    assert(r.getAs[Long]("n_classes") === 3L)
    assert(r.getAs[Long]("min_class_size") === 1L)
    assert(r.getAs[Long]("classes_below_k") === 2L)
    assert(r.getAs[Long]("rows_below_k") === 3L)
    assert(d(r.getAs[Double]("at_risk_share"), 3.0 / 8))
  }

  test("lDiversity: homogeneous classes flagged even when k-anonymous") {
    // class A: 4 rows, ONE sensitive value (k-safe, l-unsafe);
    // class B: 3 rows, 3 values; class C: 2 rows, 2 values
    val rows = (Seq.fill(4)(("A", "x")) ++
      Seq(("B", "x"), ("B", "y"), ("B", "z"), ("C", "x"), ("C", "y")))
      .zipWithIndex.map { case ((q, sv), i) => (q, sv, i) }
      .toDF("q", "sv", "id")
    val r = Stats.lDiversity(rows, Seq("q"), "sv", l = 2).head()
    assert(r.getAs[Long]("n_rows") === 9L)
    assert(r.getAs[Long]("n_classes") === 3L)
    assert(r.getAs[Long]("min_diversity") === 1L)
    assert(r.getAs[Long]("classes_below_l") === 1L)
    assert(r.getAs[Long]("rows_below_l") === 4L)
    assert(d(r.getAs[Double]("at_risk_share"), 4.0 / 9))
  }

  test("tCloseness: per-class TVD incl. values absent from the class") {
    // global: x 6/9, y 2/9, z 1/9
    val rows = (Seq.fill(4)(("A", "x")) ++
      Seq(("B", "x"), ("B", "y"), ("B", "z"), ("C", "x"), ("C", "y")))
      .zipWithIndex.map { case ((q, sv), i) => (q, sv, i) }
      .toDF("q", "sv", "id")
    val got = Stats.tCloseness(rows, Seq("q"), "sv")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("t"))).toMap
    // A = all-x: ½(|1−6/9| + |0−2/9| + |0−1/9|) = ½(3/9+2/9+1/9) = 1/3
    assert(got("A")._1 === 4L)
    assert(d(got("A")._2, 1.0 / 3))
    // B = (1/3,1/3,1/3): ½(|1/3−6/9| + |1/3−2/9| + |1/3−1/9|) = 1/3
    assert(d(got("B")._2, 0.5 * (3.0 / 9 + 1.0 / 9 + 2.0 / 9)))
    // C = (1/2,1/2,0): ½(|1/2−6/9| + |1/2−2/9| + 1/9)
    assert(d(got("C")._2, 0.5 * (1.0 / 6 + 5.0 / 18 + 1.0 / 9)))
  }

  test("tCloseness: null is a sensitive value, not a dropped row") {
    // class A: 2 null + 1 "x"; class B: 3 "x". global: null 2/6, x 4/6
    val rows = Seq(("A", null), ("A", null), ("A", "x"),
      ("B", "x"), ("B", "x"), ("B", "x"))
      .zipWithIndex.map { case ((q, sv), i) => (q, sv, i) }
      .toDF("q", "sv", "id")
    val got = Stats.tCloseness(rows, Seq("q"), "sv")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("t"))).toMap
    // no rows vanish: both classes present with FULL sizes
    assert(got("A")._1 === 3L && got("B")._1 === 3L)
    // A = (null 2/3, x 1/3): ½(|2/3−1/3| + |1/3−2/3|) = 1/3
    assert(d(got("A")._2, 1.0 / 3))
    // B = (x 1): ½(|1−2/3| + 1/3 absent-null mass) = 1/3
    assert(d(got("B")._2, 1.0 / 3))
  }

  test("ksTest: sup ECDF gap and Kolmogorov p against the closed form") {
    val rows = Seq((1.0, "a"), (2.0, "a"), (3.0, "a"),
      (3.0, "b"), (4.0, "b"), (5.0, "b")).toDF("v", "g")
    val r = Stats.ksTest(rows, "v", "g", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 3L)
    // F_a = (1/3, 2/3, 1, 1, 1), F_b = (0, 0, 1/3, 2/3, 1) → D = 2/3
    assert(d(r.getAs[Double]("d_stat"), 2.0 / 3.0))
    val ne = 3.0 * 3 / 6
    val lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * (2.0 / 3.0)
    val p = 2.0 * (1 to 50).map(k =>
      math.pow(-1.0, k - 1) * math.exp(-2.0 * k * k * lam * lam)).sum
    assert(d(r.getAs[Double]("p_value"), p, 1e-9))
  }

  test("ksTest: identical samples give D = 0, p clamps to 1") {
    val rows = Seq((1.0, "a"), (2.0, "a"), (1.0, "b"), (2.0, "b"))
      .toDF("v", "g")
    val r = Stats.ksTest(rows, "v", "g", "a", "b").head()
    assert(d(r.getAs[Double]("d_stat"), 0.0))
    // λ = 0 → every series term is 1 and the raw sum diverges from the
    // true limit; the [0, 1] clamp pins the degenerate case
    assert(r.getAs[Double]("p_value") <= 1.0)
    assert(r.getAs[Double]("p_value") >= 0.0)
  }

  test("kendallTau: hand-counted concordant/discordant/tie fixture") {
    // pairs: C=5, D=1, x-ties n1=2, y-ties n2=2, n0=10 → τb = 4/8
    val rows = Seq((1, 1), (1, 2), (2, 1), (2, 2), (3, 3)).toDF("x", "y")
    val r = Stats.kendallTau(rows, "x", "y").head()
    assert(r.getAs[Long]("n") === 5L)
    assert(d(r.getAs[Double]("tau_b"), 0.5))
  }

  test("kendallTau: perfect monotone and perfect inverse") {
    val up = Seq((1, 10), (2, 20), (3, 30)).toDF("x", "y")
    assert(d(Stats.kendallTau(up, "x", "y").head().getAs[Double]("tau_b"),
      1.0))
    val down = Seq((1, 30), (2, 20), (3, 10)).toDF("x", "y")
    assert(d(Stats.kendallTau(down, "x", "y").head().getAs[Double]("tau_b"),
      -1.0))
  }

  test("kendallTau: over-cap continuous input fails fast with quantize hint") {
    // 30 unique (x, y) cells against maxCells = 10 → the guard must refuse
    // BEFORE the O(cells²) pair pass, naming quantization as the way out
    val continuous = (1 to 30).map(i => (i * 1.7, i * 0.3)).toDF("x", "y")
    val ex = intercept[IllegalArgumentException] {
      Stats.kendallTau(continuous, "x", "y", maxCells = 10)
    }
    assert(ex.getMessage.contains("Quantize"))
    assert(ex.getMessage.contains("maxCells=10"))
    // the same data quantized under the cap computes fine
    val quantized = continuous.select(
      floor(col("x") / 10).as("x"), floor(col("y") / 3).as("y"))
    val r = Stats.kendallTau(quantized, "x", "y", maxCells = 10).head()
    assert(r.getAs[Long]("n") === 30L)
    assert(r.getAs[Double]("tau_b") > 0.5) // still strongly concordant
  }

  test("adjustedRand: textbook contingency fixture, identical partitions, guard") {
    // A = [1,1,1,2,2,2], B = [1,1,2,2,2,2]: cells (1,1)=2 (1,2)=1 (2,2)=3
    // index = 1+0+3 = 4; Σ C(a,2) = 6, Σ C(b,2) = 1+6 = 7; C(6,2) = 15
    // expected = 6·7/15 = 2.8; max = 6.5 → ARI = 1.2/3.7
    val rows = Seq((1, 1), (1, 1), (1, 2), (2, 2), (2, 2), (2, 2))
      .toDF("a", "b")
    val r = Stats.adjustedRand(rows, "a", "b").head()
    assert(r.getAs[Long]("n") === 6L)
    assert(d(r.getAs[Double]("ari"), 1.2 / 3.7))
    // identical labelings agree perfectly
    val same = Seq((1, 10), (1, 10), (2, 20), (3, 30)).toDF("a", "b")
    assert(d(Stats.adjustedRand(same, "a", "b").head()
      .getAs[Double]("ari"), 1.0))
    // row-unique labels blow the cell cap → fail fast, coarsen hint
    val unique = (1 to 50).map(i => (i, i)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Stats.adjustedRand(unique, "a", "b", maxCells = 10)
    }
    assert(ex.getMessage.contains("Coarsen"))
  }

  test("liftGain: distinct-score deciles from first principles") {
    // 10 rows, scores 1.0 down to 0.1; the top 3 scores are the positives
    val rows = (1 to 10).map(i => (i / 10.0, if (i >= 8) 1 else 0))
      .toDF("score", "label")
    val lg = Stats.liftGain(rows, "score", "label").collect()
    assert(lg.map(_.getAs[Int]("decile")).toSeq === (1 to 10))
    assert(lg.map(_.getAs[Long]("cum_rows")).toSeq ===
      (1L to 10L))
    val r1 = lg(0)
    assert(r1.getAs[Long]("cum_pos") === 1L)
    assert(d(r1.getAs[Double]("gain"), 1.0 / 3))
    assert(d(r1.getAs[Double]("lift"), (1.0 / 1) / 0.3))
    val r3 = lg(2)
    assert(r3.getAs[Long]("cum_pos") === 3L)
    assert(d(r3.getAs[Double]("gain"), 1.0))
    assert(d(r3.getAs[Double]("lift"), 10.0 / 3))
    val r10 = lg(9)
    assert(d(r10.getAs[Double]("gain"), 1.0))
    assert(d(r10.getAs[Double]("lift"), 1.0))
  }

  test("welchT: hand-computed unequal-variance fixture") {
    // A = 1,2,3 (mean 2, var 1); B = 2,4,6,8 (mean 5, var 20/3)
    val rows = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 4, 6, 8).map(("b", _)))
      .toDF("g", "v")
    val r = Stats.welchT(rows, "v", "g", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 4L)
    assert(d(r.getAs[Double]("mean_a"), 2.0))
    assert(d(r.getAs[Double]("mean_b"), 5.0))
    val sa = (1.0 / 3); val sb = (20.0 / 3) / 4
    assert(d(r.getAs[Double]("t"), -3.0 / math.sqrt(sa + sb), 1e-9))
    val dfw = math.pow(sa + sb, 2) /
      (math.pow(sa, 2) / 2 + math.pow(sb, 2) / 3)
    assert(d(r.getAs[Double]("df_welch"), dfw, 1e-9))
    // pooled var = (2·1 + 3·20/3) / 5 = 4.4
    assert(d(r.getAs[Double]("cohen_d"), -3.0 / math.sqrt(4.4), 1e-9))
  }

  test("dpNoisyCounts: deterministic, replayable, salt re-draws") {
    val rows = (Seq.fill(7)("x") ++ Seq.fill(3)("y")).toDF("g")
    val a = Stats.dpNoisyCounts(rows, Seq("g"), epsilon = 1.0)
      .orderBy("g").collect()
    val b = Stats.dpNoisyCounts(rows, Seq("g"), epsilon = 1.0)
      .orderBy("g").collect()
    assert(a.map(_.getDouble(2)).toSeq === b.map(_.getDouble(2)).toSeq)
    assert(a.map(_.getAs[Long]("n_true")).toSeq === Seq(7L, 3L))
    // replay the draw: md5 of g + \u0001 + salt, 6 hex digits → uniform
    def expected(g: String, nTrue: Long, eps: Double, salt: String)
    : Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest((g + "\u0001" + salt).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      val poly = h.map(c => Integer.parseInt(c.toString, 16).toDouble)
        .foldLeft(0.0)(_ * 16 + _)
      val u = (poly + 0.5) / math.pow(16.0, 6) - 0.5
      nTrue - (1.0 / eps) * math.signum(u) * math.log(1 - 2 * math.abs(u))
    }
    a.foreach { r =>
      assert(d(r.getDouble(2),
        expected(r.getString(0), r.getLong(1), 1.0, "r0"), 1e-9))
    }
    // a different salt re-draws the noise
    val c = Stats.dpNoisyCounts(rows, Seq("g"), epsilon = 1.0, salt = "r1")
      .orderBy("g").collect()
    assert(c.map(_.getDouble(2)).toSeq !== a.map(_.getDouble(2)).toSeq)
    // tighter epsilon → more noise on the same draw (same |u|, b scales)
    val e5 = Stats.dpNoisyCounts(rows, Seq("g"), epsilon = 0.2)
      .orderBy("g").collect()
    a.zip(e5).foreach { case (x, y) =>
      val nx = x.getDouble(2) - x.getLong(1)
      val ny = y.getDouble(2) - y.getLong(1)
      assert(d(ny, nx * 5.0, 1e-9))
    }
  }

  test("conformalInterval: order-statistic rank and eval coverage") {
    // calib residuals 1..10 (pred 0), α = 0.2 → k = ⌈11·0.8⌉ = 9 →
    // q̂ = 9; eval residuals 5, 8.5, 12 → coverage 2/3
    val rows = ((1 to 10).map(i => (i, 0.0, i.toDouble, true)) ++
      Seq((11, 0.0, 5.0, false), (12, 0.0, 8.5, false),
        (13, 0.0, 12.0, false)))
      .toDF("id", "pred", "label", "calib")
    val r = Stats.conformalInterval(rows, "pred", "label",
      col("calib"), alpha = 0.2).head()
    assert(r.getAs[Long]("n_calib") === 10L)
    assert(r.getAs[Long]("k") === 9L)
    assert(d(r.getAs[Double]("q_hat"), 9.0))
    assert(r.getAs[Long]("n_eval") === 3L)
    assert(d(r.getAs[Double]("coverage"), 2.0 / 3.0))
  }

  test("conformalInterval: k clamps to n when alpha is tiny") {
    val rows = ((1 to 4).map(i => (i, 0.0, i.toDouble, true)) :+
      ((5, 0.0, 99.0, false))).toDF("id", "pred", "label", "calib")
    val r = Stats.conformalInterval(rows, "pred", "label",
      col("calib"), alpha = 0.01).head()
    assert(r.getAs[Long]("k") === 4L) // ⌈5·0.99⌉ = 5 clamps to n = 4
    assert(d(r.getAs[Double]("q_hat"), 4.0))
    assert(d(r.getAs[Double]("coverage"), 0.0))
  }

  test("brierDecomposition: identity exact for constant-score bins") {
    val rows = Seq((0.05, 0), (0.05, 0), (0.95, 1), (0.95, 1))
      .toDF("score", "label")
    val r = Stats.brierDecomposition(rows, "score", "label").head()
    assert(d(r.getAs[Double]("brier"), 0.0025))
    assert(d(r.getAs[Double]("reliability"), 0.0025))
    assert(d(r.getAs[Double]("resolution"), 0.25))
    assert(d(r.getAs[Double]("uncertainty"), 0.25))
    assert(d(r.getAs[Double]("decomposition_gap"), 0.0))
  }

  test("brierDecomposition: within-bin score variance lands in the gap") {
    // one bin, scores 0.01/0.09 (conf 0.05), all-negative labels:
    // brier 0.0041, rel 0.0025, res = unc = 0 → gap = score variance
    val rows = Seq((0.01, 0), (0.09, 0)).toDF("score", "label")
    val r = Stats.brierDecomposition(rows, "score", "label").head()
    assert(d(r.getAs[Double]("brier"), 0.0041))
    assert(d(r.getAs[Double]("reliability"), 0.0025))
    assert(d(r.getAs[Double]("resolution"), 0.0))
    assert(d(r.getAs[Double]("uncertainty"), 0.0))
    assert(d(r.getAs[Double]("decomposition_gap"), 0.0016))
  }

  test("madOutliers: lower medians, consistency factor, zero-MAD fallback") {
    // group A: values 1..9 plus a 100 outlier → med 5 (lower, n=10),
    // residuals {4,3,2,1,0,1,2,3,4,95} → mad 2 (lower median, cum 5≥5);
    // robust_z(100) = 95/(1.4826·2) ≈ 32 → flagged; z(9) ≈ 1.35 → not
    val a = ((1 to 9).map(i => ("A", i.toDouble)) :+ (("A", 100.0)))
    // group B: constant 7s → mad 0 → any deviation flags, 7 itself never
    val b = Seq(("B", 7.0), ("B", 7.0), ("B", 7.0), ("B", 7.1))
    val got = Stats.madOutliers((a ++ b).toDF("g", "v"), "g", "v", k = 3.5)
      .collect()
    val ga = got.filter(_.getAs[String]("g") == "A")
    assert(ga.forall(r => r.getAs[Double]("med") == 5.0 &&
      r.getAs[Double]("mad") == 2.0))
    assert(ga.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Double]("v")).toSeq === Seq(100.0))
    val gb = got.filter(_.getAs[String]("g") == "B")
    assert(gb.forall(r => r.getAs[Double]("mad") == 0.0 &&
      r.isNullAt(r.fieldIndex("robust_z"))))
    assert(gb.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Double]("v")).toSeq === Seq(7.1))
  }

  test("madOutliers: unique-valued continuous domain (distinct = N) " +
    "matches a driver-computed lower median per group") {
    // Every value distinct: the worst case for the per-group cumulative
    // pass — before the distributed-rank rewrite each group's whole
    // domain funnelled through one window task. With many range
    // partitions (shuffle.partitions from the suite session) groups span
    // several partitions, exercising offset stitching across them.
    val rng = new scala.util.Random(7)
    val rows = (0 until 4000).map(i =>
      (s"g${i % 3}", i.toDouble + rng.nextDouble() * 0.5))
    def lowerMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(((s.size + 1) / 2) - 1)
    }
    val expect = rows.groupBy(_._1).map { case (g, vs) =>
      val v = vs.map(t => math.rint(t._2 * 1e6) / 1e6)
      val med = lowerMedian(v)
      g -> (med, lowerMedian(v.map(x =>
        math.rint(math.abs(x - med) * 1e6) / 1e6)))
    }
    val got = Stats.madOutliers(rows.toDF("g", "v"), "g", "v")
      .select("g", "med", "mad").distinct().collect()
    assert(got.length === 3)
    got.foreach { r =>
      val (m, d) = expect(r.getAs[String]("g"))
      assert(math.abs(r.getAs[Double]("med") - m) < 1e-9, s"med ${r}")
      assert(math.abs(r.getAs[Double]("mad") - d) < 1e-9, s"mad ${r}")
    }
  }

  test("winsorize: lower-value-at-rank cuts clamp the tails only") {
    // values 1..20: lo rank ⌈0.05·20⌉=1 → lo_cut 1; hi rank ⌈0.95·20⌉=19
    // → hi_cut 19; so only 20 moves (to 19)
    val rows = (1 to 20).map(i => ("A", i.toDouble)).toDF("g", "v")
    val got = Stats.winsorize(rows, "g", "v", 0.05, 0.95)
      .collect().map(r => r.getAs[Double]("v") ->
        r.getAs[Double]("winsorized")).toMap
    assert(got(1.0) === 1.0 && got(19.0) === 19.0 && got(20.0) === 19.0)
    assert((2 to 18).forall(i => got(i.toDouble) === i.toDouble))
  }

  test("quantileNormalize: midpoint ECDF onto the global inverse CDF") {
    import graft.operators.Analytics
    val rows = (Seq(1, 2, 3, 4).map(("A", _)) ++ Seq(10, 20).map(("B", _)))
      .toDF("g", "v")
    val got = Analytics.quantileNormalize(rows, "g", "v")
      .orderBy("g", "v").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Double]("p"), r.getAs[Double]("mapped")))
    // global domain 1,2,3,4,10,20 (ECDF k/6); A mids .125/.375/.625/.875,
    // B mids .25/.75 → inverse CDF picks 1,3,4,20 and 2,10
    assert(got.map(_._4).toSeq === Seq(1.0, 3.0, 4.0, 20.0, 2.0, 10.0))
    assert(math.abs(got(0)._3 - 0.125) < 1e-9)
    assert(math.abs(got(4)._3 - 0.25) < 1e-9)
    // within a group the mapping is monotone
    assert(got.take(4).map(_._4).toSeq.sorted === got.take(4).map(_._4).toSeq)
  }

  test("quantileNormalize: continuous domain (distinct = N) matches a " +
    "driver-computed inverse CDF") {
    import graft.operators.Analytics
    // every value unique: the shape whose per-group window used to funnel
    // each group through one task, and whose |domain|x|domain| inequality
    // join used to go quadratic — now distributed-rank + sorted merge
    val rng = new scala.util.Random(11)
    val rows = (0 until 3000).map(i =>
      (s"g${i % 2}", i.toDouble + rng.nextDouble() * 0.25))
    val byG = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted }
    val all = rows.map(_._2).sorted
    def expected(g: String, v: Double): Double = {
      val xs = byG(g)
      val cum = xs.count(_ <= v) // values unique: cum index of v
      val p = (cum - 0.5) / xs.size
      // min global value whose ECDF >= p, with the SAME double comparison
      // the operator makes (ceil-arithmetic re-derivations round
      // differently at p*N boundaries)
      val k = (1 to all.size)
        .find(k => k.toDouble / all.size >= p).get
      all(k - 1)
    }
    val got = Analytics.quantileNormalize(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Double]("mapped")).toMap
    assert(got.size === 3000)
    rows.foreach { case (g, v) =>
      assert(got((g, v)) === expected(g, v), s"($g, $v)") }
  }

  test("liftGain: a tied block lands in the decile its last row reaches") {
    // 4 rows of score 0.9 then 6 of 0.1: decile 1 target is 1 row, but
    // the first threshold already carries 4 rows — deciles 1..4 all pick
    // the 4-row threshold
    val rows = (Seq.fill(4)((0.9, 1)) ++ Seq.fill(6)((0.1, 0)))
      .toDF("score", "label")
    val lg = Stats.liftGain(rows, "score", "label").collect()
    assert(lg.take(4).map(_.getAs[Long]("cum_rows")).toSeq ===
      Seq(4L, 4L, 4L, 4L))
    assert(lg.map(_.getAs[Long]("cum_rows")).last === 10L)
    assert(d(lg.head.getAs[Double]("lift"), (4.0 / 4) / 0.4))
  }

  test("mixShiftDecomposition: effects sum exactly to the topline delta") {
    import graft.operators.Analytics
    val rows = Seq(
      ("X", "a", 10.0), ("X", "a", 20.0), ("Y", "a", 30.0), ("Y", "a", 40.0),
      ("X", "b", 18.0), ("Y", "b", 30.0), ("Y", "b", 40.0), ("Y", "b", 50.0))
      .toDF("seg", "period", "v")
    val got = Analytics.mixShiftDecomposition(rows, "seg", "period",
      "a", "b", "v").orderBy("segment").collect()
    val x = got(0); val y = got(1)
    assert(d(x.getAs[Double]("within_effect"), 1.5))
    assert(d(x.getAs[Double]("mix_effect"), -4.5))
    assert(d(y.getAs[Double]("within_effect"), 2.5))
    assert(d(y.getAs[Double]("mix_effect"), 10.0))
    val total = got.map(r => r.getAs[Double]("within_effect") +
      r.getAs[Double]("mix_effect")).sum
    assert(d(total, 34.5 - 25.0)) // M_b − M_a
  }

  test("mixShiftDecomposition: a vanished segment keeps the identity") {
    import graft.operators.Analytics
    val rows = Seq(("X", "a", 10.0), ("Z", "a", 100.0),
      ("X", "b", 20.0), ("X", "b", 20.0)).toDF("seg", "period", "v")
    val got = Analytics.mixShiftDecomposition(rows, "seg", "period",
      "a", "b", "v").orderBy("segment").collect()
    val z = got(1)
    assert(z.getAs[Double]("w_b") === 0.0 && z.getAs[Double]("r_b") === 0.0)
    val total = got.map(r => r.getAs[Double]("within_effect") +
      r.getAs[Double]("mix_effect")).sum
    assert(d(total, 20.0 - 55.0))
  }

  test("dispersionIndex: empty bins count as zeros; regular stream ≈ 0") {
    // bursty: 6 events in bin 0, 1 in bin 3 → span 4, mean 1.75,
    // var = 37/4 − 1.75² = 6.1875; regular: one event per bin → var 0
    val rows = (Seq.fill(6)(("bursty", 10L)) ++ Seq(("bursty", 3 * 60L)) ++
      (0 to 3).map(b => ("regular", b * 60L + 5L)))
      .toDF("k", "sec").withColumn("ts", col("sec").cast("timestamp"))
    val got = Stats.dispersionIndex(rows, "k", "ts", 60L)
      .orderBy("key").collect()
    val bursty = got(0)
    assert(bursty.getAs[Long]("n_bins") === 4L)
    assert(bursty.getAs[Long]("n_events") === 7L)
    assert(d(bursty.getAs[Double]("var_count"), 6.1875))
    assert(d(bursty.getAs[Double]("vmr"), 6.1875 / 1.75))
    val regular = got(1)
    assert(d(regular.getAs[Double]("vmr"), 0.0))
  }

  test("dispersionIndex: a single-bin key has no dispersion to report") {
    val rows = Seq(("k", 1L), ("k", 2L)).toDF("k", "sec")
      .withColumn("ts", col("sec").cast("timestamp"))
    val r = Stats.dispersionIndex(rows, "k", "ts", 60L).head()
    assert(r.getAs[Long]("n_bins") === 1L)
    assert(r.isNullAt(r.fieldIndex("vmr")))
    assert(r.isNullAt(r.fieldIndex("d_stat")))
  }

  test("cmhTest: kidney-stone Simpson's paradox — crude flips, MH doesn't") {
    // classic table: within BOTH strata arm A beats B, crude pooled flips
    val cells = Seq(
      ("small", "A", 1, 81), ("small", "A", 0, 6),
      ("small", "B", 1, 234), ("small", "B", 0, 36),
      ("large", "A", 1, 192), ("large", "A", 0, 71),
      ("large", "B", 1, 55), ("large", "B", 0, 25))
    val rows = cells.flatMap { case (s, g, y, k) =>
      Seq.fill(k)((s, g, y)) }.toDF("stratum", "arm", "y")
    val r = Stats.cmhTest(rows, "stratum", "arm", "A", "B", "y").head()
    assert(r.getAs[Long]("n") === 700L)
    assert(r.getAs[Long]("sum_a") === 273L)
    assert(r.getAs[Double]("or_crude") < 1.0)   // crude says B wins…
    assert(r.getAs[Double]("or_mh") > 1.0)      // …stratified says A does
    assert(math.abs(r.getAs[Double]("or_mh") -
      (81.0 * 36 / 357 + 192.0 * 25 / 343) /
        (6.0 * 234 / 357 + 71.0 * 55 / 343)) < 1e-12)
    assert(r.getAs[Double]("cmh_chi2") > 0)
  }

  test("cmhTest: single-row strata carry no variance and are skipped") {
    val rows = (Seq.fill(5)(("s1", "A", 1)) ++ Seq.fill(5)(("s1", "A", 0)) ++
      Seq.fill(5)(("s1", "B", 1)) ++ Seq.fill(5)(("s1", "B", 0)) ++
      Seq(("lonely", "A", 1))).toDF("stratum", "arm", "y")
    val r = Stats.cmhTest(rows, "stratum", "arm", "A", "B", "y").head()
    assert(r.getAs[Long]("n_strata") === 1L)
    assert(r.getAs[Long]("n_strata_skipped") === 1L)
    assert(r.getAs[Long]("n") === 20L)
    // balanced 2×2: no association, chi2 exactly 0, ORs 1
    assert(d(r.getAs[Double]("cmh_chi2"), 0.0))
    assert(d(r.getAs[Double]("or_mh"), 1.0))
  }

  test("bhAdjust: textbook example, reverse running min + clamp") {
    // p = [.005, .01, .03, .04], n = 4 → raw p·n/rank = [.02, .02, .04, .04]
    val rows = Seq((1L, 0.01), (2L, 0.04), (3L, 0.03), (4L, 0.005))
      .toDF("id", "p")
    val got = Stats.bhFdr(rows, "id", "p").orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L, 4L))
    val qs = got.map(_.getAs[Double]("p_adj")).toSeq
    assert(qs.zip(Seq(0.02, 0.02, 0.04, 0.04))
      .forall { case (a, b) => d(a, b) })
    assert(got.forall(_.getAs[Boolean]("rejected")))
    // monotone in rank by construction
    assert(qs === qs.sorted)
  }

  test("bhAdjust: q clamps at 1 and big late p's don't rescue early ones") {
    val rows = Seq((1L, 0.001), (2L, 0.9), (3L, 0.95), (4L, 1.0))
      .toDF("id", "p")
    val got = Stats.bhFdr(rows, "id", "p").orderBy("rank").collect()
    assert(d(got.head.getAs[Double]("p_adj"), 0.004)) // 0.001·4/1
    assert(got.last.getAs[Double]("p_adj") === 1.0)
    assert(got.count(_.getAs[Boolean]("rejected")) === 1)
  }

  test("quantileTreatmentEffects: constant shift shows at every decile") {
    // b = a + 5 pointwise over 1..10 → every decile's qte is exactly 5
    val rows = (1 to 10).flatMap(v =>
      Seq(("a", v.toDouble), ("b", v + 5.0))).toDF("g", "v")
    val got = Stats.quantileTreatmentEffects(rows, "v", "g", "a", "b")
      .orderBy("pct").collect()
    assert(got.length === 9)
    assert(got.forall(r => r.getAs[Double]("qte") === 5.0))
    // lower-value-at-rank: p50 of 1..10 is the 5th value
    val p50 = got.find(_.getAs[Int]("pct") === 50).get
    assert(p50.getAs[Double]("q_a") === 5.0)
  }

  test("quantileTreatmentEffects: tail-only treatment nets zero below p50") {
    // b equals a except the top two values explode — only p90 moves
    // (rank ⌈0.9·10⌉ = 9: a's 9th value is 9, b's is 50)
    val a = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)
    val b = a.take(8) ++ Seq(50.0, 100.0)
    val rows = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
    val got = Stats.quantileTreatmentEffects(rows, "v", "g", "a", "b")
      .orderBy("pct").collect()
    assert(got.takeWhile(_.getAs[Int]("pct") <= 80)
      .forall(_.getAs[Double]("qte") === 0.0))
    assert(got.last.getAs[Double]("qte") === 41.0)
  }

  test("sampleRatioMismatch: deviations, chi2, mystery arm quarantined") {
    // a×6, b×4 declared 50/50, plus 3 rows in an undeclared arm c
    val rows = (Seq.fill(6)("a") ++ Seq.fill(4)("b") ++ Seq.fill(3)("c"))
      .toDF("variant")
    val got = Stats.sampleRatioMismatch(rows, "variant",
        Seq("a" -> 0.5, "b" -> 0.5))
      .orderBy("variant").collect()
    assert(got.length === 2)
    val a = got(0)
    assert(a.getAs[Long]("n_obs") === 6L)
    assert(d(a.getAs[Double]("n_expected"), 5.0)) // c excluded from n
    assert(d(a.getAs[Double]("dev_z"), 1.0 / math.sqrt(2.5)))
    assert(d(a.getAs[Double]("chi2"), 0.4))
    assert(a.getAs[Int]("dof") === 1)
    assert(a.getAs[Long]("n_unexpected") === 3L)
  }

  test("sampleRatioMismatch: an absent declared arm reads 0, not missing") {
    val rows = Seq.fill(8)("a").toDF("variant")
    val got = Stats.sampleRatioMismatch(rows, "variant",
        Seq("a" -> 0.5, "b" -> 0.5))
      .orderBy("variant").collect()
    assert(got.length === 2)
    assert(got(1).getAs[Long]("n_obs") === 0L)
    // the whole sample sits in one arm of a 50/50 split: chi2 = n
    assert(d(got(1).getAs[Double]("chi2"), 8.0))
  }

  test("wasserstein1: point masses a unit apart move unit mass unit far") {
    val rows = Seq(("a", 0.0), ("a", 0.0), ("b", 1.0), ("b", 1.0))
      .toDF("g", "v")
    val r = Stats.wasserstein1(rows, "v", "g", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(d(r.getAs[Double]("w1"), 1.0))
    assert(d(r.getAs[Double]("w1_normalized"), 1.0))
  }

  test("wasserstein1: identical samples score 0; half mass moves 0.5") {
    val same = Seq(("a", 1.0), ("a", 5.0), ("b", 1.0), ("b", 5.0))
      .toDF("g", "v")
    assert(d(Stats.wasserstein1(same, "v", "g", "a", "b")
      .head().getAs[Double]("w1"), 0.0))
    // a uniform on {0,1}, b all at 1: only half of a's mass moves by 1
    val half = Seq(("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 1.0))
      .toDF("g", "v")
    assert(d(Stats.wasserstein1(half, "v", "g", "a", "b")
      .head().getAs[Double]("w1"), 0.5))
  }

  test("wasserstein1: value units carry — a 10× wider gap costs 10×") {
    val rows = Seq(("a", 0.0), ("b", 10.0)).toDF("g", "v")
    val r = Stats.wasserstein1(rows, "v", "g", "a", "b").head()
    assert(d(r.getAs[Double]("w1"), 10.0))
    assert(d(r.getAs[Double]("w1_normalized"), 1.0)) // scale-free form
  }

  test("isotonicCalibration: PAV pools the violator, endpoints untouched") {
    // bin means [0, 1, 0.5] equal-weight → isotonic fit [0, 0.75, 0.75]
    val rows = Seq((0.05, 0), (0.05, 0), (0.15, 1), (0.15, 1),
      (0.25, 1), (0.25, 0)).toDF("score", "label")
    val got = Stats.isotonicCalibration(rows, "score", "label")
      .orderBy("bin").collect()
    assert(got.map(_.getAs[Int]("bin")).toSeq === Seq(0, 1, 2))
    assert(got.map(_.getAs[Double]("label_mean")).toSeq === Seq(0.0, 1.0, 0.5))
    assert(got.map(_.getAs[Double]("fit")).toSeq === Seq(0.0, 0.75, 0.75))
  }

  test("isotonicCalibration: pooling is weighted, not bin-count averaged") {
    // bin0 (n=1, mean 1) vs bin1 (n=3, mean 0) → pooled 1/4, not 1/2
    val rows = Seq((0.05, 1), (0.15, 0), (0.15, 0), (0.15, 0))
      .toDF("score", "label")
    val got = Stats.isotonicCalibration(rows, "score", "label")
      .orderBy("bin").collect()
    assert(got.map(_.getAs[Double]("fit")).toSeq === Seq(0.25, 0.25))
  }

  test("isotonicCalibration: already-monotone input is a fixed point") {
    val rows = (Seq.fill(1)((0.05, 1)) ++ Seq.fill(4)((0.05, 0)) ++
      Seq((0.15, 1), (0.15, 0)) ++
      Seq.fill(9)((0.25, 1)) ++ Seq((0.25, 0))).toDF("score", "label")
    val got = Stats.isotonicCalibration(rows, "score", "label")
      .orderBy("bin").collect()
    got.foreach { r =>
      assert(d(r.getAs[Double]("fit"), r.getAs[Double]("label_mean")))
    }
    // and the fit is nondecreasing in bin
    val fits = got.map(_.getAs[Double]("fit")).toSeq
    assert(fits === fits.sorted)
  }

  test("binnedMI: perfect dependence scores MI = H = ln 2, nmi = 1") {
    // x = y ∈ {0, 1}: with 2 bins per side both marginals are (½, ½) and
    // the joint sits on the diagonal → MI = ln 2 nats, NMI = 1
    val rows = Seq((0.0, 0.0), (0.0, 0.0), (1.0, 1.0), (1.0, 1.0))
      .toDF("x", "y")
    val r = Stats.binnedMI(rows, "x", "y", xBins = 2, yBins = 2).head()
    assert(r.getAs[Long]("n") === 4L)
    assert(d(r.getAs[Double]("mi"), math.log(2)))
    assert(d(r.getAs[Double]("h_x"), math.log(2)))
    assert(d(r.getAs[Double]("h_y"), math.log(2)))
    assert(d(r.getAs[Double]("nmi"), 1.0))
  }

  test("binnedMI: independent uniform cells score MI = 0") {
    val rows = (for (x <- Seq(0.0, 1.0); y <- Seq(0.0, 1.0)) yield (x, y))
      .toDF("x", "y")
    val r = Stats.binnedMI(rows, "x", "y", xBins = 2, yBins = 2).head()
    assert(d(r.getAs[Double]("mi"), 0.0))
    assert(d(r.getAs[Double]("nmi"), 0.0))
  }

  test("binnedMI: a constant column collapses to one bin — mi 0, nmi null") {
    val rows = Seq((5.0, 0.0), (5.0, 1.0), (5.0, 0.0)).toDF("x", "y")
    val r = Stats.binnedMI(rows, "x", "y").head()
    assert(d(r.getAs[Double]("mi"), 0.0))
    assert(d(r.getAs[Double]("h_x"), 0.0)) // single cell: zero entropy
    assert(r.isNullAt(r.fieldIndex("nmi")))
  }

  test("proportionCI: Wilson reference values, Wald-collapse honesty, null = failure") {
    // 3-for-3: Wald says [1, 1]; Wilson at z = 1.96 says ~[0.4385, 1]
    val rows = Seq(
      ("a", Some(150.0)), ("a", Some(200.0)), ("a", Some(300.0)),
      ("b", Some(150.0)), ("b", Some(50.0)), ("b", Some(50.0)),
      ("b", Some(50.0)),
      ("c", Some(50.0)), ("c", Option.empty[Double]))
      .toDF("g", "value")
    val got = Stats.proportionCI(rows, Seq("g"), col("value") > 100)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toMap
    val (na, sa, pa, loA, hiA) = got("a")
    assert((na, sa, pa) === ((3L, 3L, 1.0)))
    assert(math.abs(loA - 0.43849) < 1e-4) // Wilson lower, z = 1.96
    assert(math.abs(hiA - 1.0) < 1e-12)    // never escapes [0, 1]
    val (nb, sb, pb, loB, hiB) = got("b")
    assert((nb, sb, pb) === ((4L, 1L, 0.25)))
    assert(loB > 0.0 && loB < 0.25 && hiB > 0.25 && hiB < 1.0)
    // hand Wilson for n=4, s=1, z=1.96
    val z2 = 1.96 * 1.96
    val wantLo = (0.25 + z2 / 8 - 1.96 * math.sqrt(0.25 * 0.75 / 4 + z2 / 64)) / (1 + z2 / 4)
    assert(math.abs(loB - wantLo) < 1e-12)
    // null success predicate counts as failure, not as a dropped row
    val (nc, sc, _, _, _) = got("c")
    assert((nc, sc) === ((2L, 0L)))
  }

  test("snapshotDiff: added/removed/changed with null transitions and null keys") {
    val before = Seq(
      (Some(1L), Some("x"), Some(10.0)),  // unchanged
      (Some(2L), Some("x"), Some(10.0)),  // value change
      (Some(3L), None, Some(10.0)),       // null -> value
      (Some(4L), Some("x"), Some(10.0)),  // removed
      (None, Some("x"), Some(10.0)))      // null KEY, changed
      .toDF("k", "s", "v")
    val after = Seq(
      (Some(1L), Some("x"), Some(10.0)),
      (Some(2L), Some("x"), Some(11.0)),
      (Some(3L), Some("y"), Some(10.0)),
      (Some(5L), Some("x"), Some(10.0)),  // added
      (None, Some("x"), Some(99.0)))
      .toDF("k", "s", "v")
    val got = operators.Analytics.snapshotDiff(before, after, Seq("k"), Seq("s", "v"))
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getString(1), r.getString(2)))).toMap
    assert(got.size === 6)
    assert(got(1L) === (("unchanged", "")))
    assert(got(2L) === (("changed", "v")))
    assert(got(3L) === (("changed", "s"))) // null -> value IS a change
    assert(got(4L) === (("removed", "")))
    assert(got(5L) === (("added", "")))
    assert(got(-1L) === (("changed", "v"))) // null key matched null-safely
  }

  test("binnedMI: a parabola invisible to correlation has high NMI") {
    // y = (x − 8)² on x = 0..16: Pearson ≈ 0 by symmetry, but the binned
    // MI sees the deterministic relationship
    val rows = (0 to 16).map(i => (i.toDouble, (i - 8.0) * (i - 8.0)))
      .toDF("x", "y")
    val r = Stats.binnedMI(rows, "x", "y", xBins = 8, yBins = 8).head()
    val pearson = rows.stat.corr("x", "y")
    assert(math.abs(pearson) < 0.05)
    assert(r.getAs[Double]("nmi") > 0.5)
  }

  test("logRank: identical survival in both groups gives chi2 = 0") {
    val subjects = Seq("a", "b").flatMap(g =>
      Seq((1.0, 1, g), (2.0, 1, g), (3.0, 0, g))).toDF("d", "ev", "grp")
    val r = Stats.logRank(subjects, "d", "ev", "grp", "a", "b").head()
    assert(r.getAs[Long]("n_a") === 3L && r.getAs[Long]("n_b") === 3L)
    assert(d(r.getAs[Double]("expected_a"),
      r.getAs[Long]("observed_a").toDouble))
    assert(d(r.getAs[Double]("chi2"), 0.0))
  }

  test("logRank: two-subject hand case pins expectation and variance") {
    // t=1: both at risk, A dies: e1 = 0.5, v = 0.25. t=2: only B at
    // risk (n = 1): the (n − 1) guard pins that term's variance to 0.
    val subjects = Seq((1.0, 1, "a"), (2.0, 1, "b")).toDF("d", "ev", "grp")
    val r = Stats.logRank(subjects, "d", "ev", "grp", "a", "b").head()
    assert(r.getAs[Long]("observed_a") === 1L)
    assert(d(r.getAs[Double]("expected_a"), 0.5))
    assert(d(r.getAs[Double]("var_sum"), 0.25))
    assert(d(r.getAs[Double]("chi2"), 1.0))
  }

  test("logRank: censored subjects leave the risk set without events") {
    // A: event at 2. B: censored at 1, so at t=2 only A is at risk and
    // the t=2 term is degenerate (n = 1) → zero variance, e1 = d.
    val subjects = Seq((2.0, 1, "a"), (1.0, 0, "b")).toDF("d", "ev", "grp")
    val r = Stats.logRank(subjects, "d", "ev", "grp", "a", "b").head()
    assert(r.getAs[Long]("observed_a") === 1L)
    assert(d(r.getAs[Double]("expected_a"), 1.0))
    assert(d(r.getAs[Double]("var_sum"), 0.0))
  }

  test("krippendorffAlpha: perfect agreement is 1, known mixed case 4/9") {
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "label")
    assert(d(Stats.krippendorffAlpha(perfect, "item", "label")
      .head().getAs[Double]("alpha"), 1.0))
    // i1 (a,a), i2 (a,b), i3 (b,b): D_o = 1/3, D_e = 0.6 → α = 4/9
    val mixed = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b")).toDF("item", "label")
    val r = Stats.krippendorffAlpha(mixed, "item", "label").head()
    assert(d(r.getAs[Double]("d_o"), 1.0 / 3))
    assert(d(r.getAs[Double]("d_e"), 0.6))
    assert(d(r.getAs[Double]("alpha"), 4.0 / 9))
  }

  test("krippendorffAlpha: single-rating items drop from BOTH rollups") {
    val mixed = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b"), (4L, "a")).toDF("item", "label")
    val r = Stats.krippendorffAlpha(mixed, "item", "label").head()
    assert(r.getAs[Long]("n_items") === 3L)
    assert(r.getAs[Long]("n_ratings") === 6L)
    assert(d(r.getAs[Double]("alpha"), 4.0 / 9)) // i4 must not move margins
  }

  test("dawidSkene: recovers the majority truth past a broken rater") {
    // raters 1 and 2 tell the truth; rater 3 always answers "x" — its
    // confusion row is uninformative and the posteriors should
    // concentrate on the two-vote majority
    val truth = Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b")
    val rows = truth.toSeq.flatMap { case (i, l) =>
      Seq((i, 1, l), (i, 2, l), (i, 3, "x")) }
    val got = Stats.dawidSkene(rows.toDF("item", "rater", "label"),
      "item", "rater", "label", iterations = 2).collect()
    val byItem = got.groupBy(_.getLong(0))
    byItem.foreach { case (i, rs) =>
      val mapRow = rs.find(_.getAs[Boolean]("is_map")).get
      assert(mapRow.getString(1) === truth(i))
      assert(mapRow.getAs[Double]("posterior") > 0.5)
      assert(d(rs.map(_.getAs[Double]("posterior")).sum, 1.0))
    }
  }

  test("dawidSkene: the label-domain guard fails fast") {
    val wide = (1 to 101).map(k => (1L, k, s"label_$k"))
    val ex = intercept[IllegalArgumentException] {
      Stats.dawidSkene(wide.toDF("item", "rater", "label"),
        "item", "rater", "label").collect()
    }
    assert(ex.getMessage.contains("maxClasses"))
  }

  test("ebShrinkMeans: hand-computed moment estimates and blend") {
    // g1: (0,2) mean 1, se2 1; g2: (10,12) mean 11, se2 1
    // center 6, vb 50, mse2 1 → τ² 49, w .98, shrunk(g1) 1.1
    val rows = Seq(("g1", 0.0), ("g1", 2.0), ("g2", 10.0), ("g2", 12.0))
      .toDF("g", "v")
    val got = Stats.ebShrinkMeans(rows, Seq("g"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("shrunk_mean"),
          r.getAs[Double]("shrink_weight")))).toMap
    assert(d(got("g1")._2, 0.98) && d(got("g2")._2, 0.98))
    assert(d(got("g1")._1, 0.98 * 1 + 0.02 * 6))
    assert(d(got("g2")._1, 0.98 * 11 + 0.02 * 6))
  }

  test("ebShrinkMeans: a singleton group shrinks fully to the center") {
    val rows = Seq(("g1", 0.0), ("g1", 2.0), ("g2", 10.0), ("g2", 12.0),
      ("g3", 5.0)).toDF("g", "v")
    val r = Stats.ebShrinkMeans(rows, Seq("g"), "v")
      .where(col("g") === "g3").head()
    assert(r.getAs[Double]("shrink_weight") === 0.0)
    assert(d(r.getAs[Double]("shrunk_mean"), (1.0 + 11.0 + 5.0) / 3))
  }

  test("temperatureScaling: overconfident scores want T > 1") {
    // 9 of 10 at p = .99 are right → optimal q* = .9 → T* = ln 99/ln 9
    // ≈ 2.09 → grid best 2.0
    val rows = (Seq.fill(9)((1, 0.99)) :+ ((0, 0.99))).toDF("y", "p")
    val r = Stats.temperatureScaling(rows, "p", "y").head()
    assert(r.getAs[Double]("best_t") === 2.0)
    assert(r.getAs[Double]("nll_reduction") > 0.0)
  }

  test("temperatureScaling: a calibrated scorer keeps T = 1") {
    // 9 of 10 at p = .9 are right: q* = .9 is already the prediction
    val rows = (Seq.fill(9)((1, 0.9)) :+ ((0, 0.9))).toDF("y", "p")
    val r = Stats.temperatureScaling(rows, "p", "y").head()
    assert(r.getAs[Double]("best_t") === 1.0)
    assert(d(r.getAs[Double]("nll_reduction"), 0.0))
  }

  test("temperatureScaling: an all-T tie resolves to the smallest T") {
    // p = .5 → z = 0 → σ(0/T) = ½ for every T: all NLLs equal
    val rows = Seq((1, 0.5), (0, 0.5)).toDF("y", "p")
    val r = Stats.temperatureScaling(rows, "p", "y").head()
    assert(r.getAs[Double]("best_t") === 0.25)
    assert(d(r.getAs[Double]("nll_reduction"), 0.0))
  }

  test("ratioMetricDelta: hand-computed ratios, delta variance, z") {
    // A (y,x): (2,4),(4,6) → R=.6; moments vyy=1 vxx=1 vxy=1
    //   var_A = (1 − 2·.6·1 + .36·1)/(2·25) = .0032
    // B: (1,5),(3,5) → R=.4; vyy=1 vxx=0 vxy=0 → var_B = 1/50 = .02
    val rows = Seq((true, 2.0, 4.0), (true, 4.0, 6.0),
      (false, 1.0, 5.0), (false, 3.0, 5.0)).toDF("arma", "y", "x")
    val r = Stats.ratioMetricDelta(rows, col("arma"), "y", "x").head()
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(d(r.getAs[Double]("ratio_a"), 0.6))
    assert(d(r.getAs[Double]("ratio_b"), 0.4))
    assert(d(r.getAs[Double]("diff"), 0.2))
    assert(d(r.getAs[Double]("se"), math.sqrt(0.0032 + 0.02)))
    assert(d(r.getAs[Double]("z"), 0.2 / math.sqrt(0.0232)))
  }

  test("ratioMetricDelta: a zero-denominator arm reports nulls, not ±∞") {
    val rows = Seq((true, 2.0, 4.0), (false, 1.0, 0.0))
      .toDF("arma", "y", "x")
    val r = Stats.ratioMetricDelta(rows, col("arma"), "y", "x").head()
    assert(r.isNullAt(r.fieldIndex("ratio_b")))
    assert(r.isNullAt(r.fieldIndex("se")))
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("mdeCurve: hand-computed sizing row") {
    // y: 1,3 (bin 1), 2,2 (bin 2) → mean 2, σ² = .5, rate = 2/period;
    // horizon 4 → n/arm 4, MDE = 2.801585·√(2·.5/4) = 1.4007925
    val rows = Seq((1L, 1.0), (1L, 3.0), (2L, 2.0), (2L, 2.0))
      .toDF("bin", "y")
    val got = Stats.mdeCurve(rows, col("bin"), "y", Seq(1, 4))
      .orderBy("horizon").collect()
    assert(got.length === 2)
    val h4 = got(1)
    assert(h4.getAs[Int]("horizon") === 4)
    assert(d(h4.getAs[Double]("n_per_arm"), 4.0))
    assert(d(h4.getAs[Double]("mean"), 2.0))
    assert(d(h4.getAs[Double]("sd"), math.sqrt(0.5)))
    assert(d(h4.getAs[Double]("mde_abs"), (1.959964 + 0.841621) * 0.5))
    assert(d(h4.getAs[Double]("mde_rel"),
      (1.959964 + 0.841621) * 0.25))
    // more runtime → smaller detectable effect, monotone
    assert(got(0).getAs[Double]("mde_abs") > h4.getAs[Double]("mde_abs"))
  }

  test("ipwEstimate: hand-computed Hájek means, ATE, and ESS") {
    // T: (y=2,e=.5)w=2, (y=4,e=.8)w=1.25; C: (y=1,e=.5)w=2, (y=3,e=.2)w=1.25
    // mean_t = 9/3.25, mean_c = 5.75/3.25 → ate exactly 1;
    // ess = 3.25²/5.5625 both arms
    val rows = Seq((true, 2.0, 0.5), (true, 4.0, 0.8),
      (false, 1.0, 0.5), (false, 3.0, 0.2)).toDF("tr", "y", "e")
    val r = Stats.ipwEstimate(rows, col("tr"), "y", "e").head()
    assert(r.getAs[Long]("n_t") === 2L && r.getAs[Long]("n_c") === 2L)
    assert(d(r.getAs[Double]("mean_t_ipw"), 9.0 / 3.25))
    assert(d(r.getAs[Double]("mean_c_ipw"), 5.75 / 3.25))
    assert(d(r.getAs[Double]("ate_ipw"), 1.0))
    assert(d(r.getAs[Double]("ate_naive"), 1.0))
    assert(d(r.getAs[Double]("ess_t"), 3.25 * 3.25 / 5.5625))
    assert(d(r.getAs[Double]("ess_c"), 3.25 * 3.25 / 5.5625))
  }

  test("ipwEstimate: scores clip before weighting (positivity guard)") {
    // e = .001 clips to .01 → weight 100, not 1000: observable in the
    // Hájek mean — (100·0 + 2·1)/102, not (1000·0 + 2·1)/1002
    val rows = Seq((true, 0.0, 0.001), (true, 1.0, 0.5),
      (false, 1.0, 0.5)).toDF("tr", "y", "e")
    val r = Stats.ipwEstimate(rows, col("tr"), "y", "e", clip = 0.01)
      .head()
    assert(d(r.getAs[Double]("mean_t_ipw"), 2.0 / 102.0))
    assert(d(r.getAs[Double]("ess_t"), 102.0 * 102.0 / 10004.0))
  }

  test("mcnemarStratified: opposite-direction strata — pooled CMH 0, " +
    "homogeneity flags the reversal") {
    // s1: b=3 c=1 (A wins); s2: b=1 c=3 (B wins) → per-stratum χ²=1 each,
    // pooled B=C=4 → CMH 0; hom: p̂=.5, Σ(b_s−2)²/(4·.25) = 1+1 = 2
    val rows =
      Seq.fill(3)(("s1", true, false)) ++ Seq(("s1", false, true)) ++
        Seq.fill(2)(("s1", true, true)) ++
        Seq(("s2", true, false)) ++ Seq.fill(3)(("s2", false, true)) ++
        Seq(("s2", false, false))
    val df = rows.toDF("g", "a", "b")
    val got = Stats.mcnemarStratified(df, col("a"), col("b"), Seq("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("s1").getAs[Long]("a_only_correct") === 3L)
    assert(got("s1").getAs[Long]("b_only_correct") === 1L)
    assert(d(got("s1").getAs[Double]("chi2"), 1.0))
    assert(d(got("s2").getAs[Double]("chi2"), 1.0))
    assert(got("s1").getAs[Long]("n_strata") === 2L)
    assert(got("s1").getAs[Long]("n_informative") === 2L)
    assert(d(got("s1").getAs[Double]("cmh_chi2"), 0.0))
    assert(d(got("s1").getAs[Double]("hom_chi2"), 2.0))
  }

  test("mcnemarStratified: fully concordant strata report all zeros") {
    val df = Seq(("s1", true, true), ("s1", false, false),
      ("s2", true, true)).toDF("g", "a", "b")
    val got = Stats.mcnemarStratified(df, col("a"), col("b"), Seq("g"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Double]("chi2") === 0.0)
      assert(r.getAs[Double]("cmh_chi2") === 0.0)
      assert(r.getAs[Double]("hom_chi2") === 0.0)
      assert(r.getAs[Long]("n_informative") === 0L)
    }
  }

  test("temperatureScaling: overconfident-and-WRONG rows keep their " +
    "penalty at small T (log-space NLL, no log(0) drop)") {
    // label-0 at p=.99999: z ≈ 11.51, so σ(z/0.25) rounds to exactly 1.0
    // in binary64 — the direct -log(1-q) form hits log(0) → NULL and
    // sum() silently scores the infinite penalty as ZERO, handing the
    // win to T=0.25; softplus keeps the ~46-nat penalty and the grid
    // max (T=4) wins
    val rows = (Seq.fill(5)((1, 0.8)) :+ ((0, 0.99999))).toDF("y", "p")
    val r = Stats.temperatureScaling(rows, "p", "y").head()
    assert(!r.isNullAt(r.fieldIndex("nll_calibrated")))
    assert(!r.getAs[Double]("nll_calibrated").isNaN)
    assert(r.getAs[Double]("best_t") === 4.0)
  }

  test("ebShrinkMeans: zero-variance groups under zero between-variance " +
    "shrink to the center, never NaN") {
    // every observation identical: se2 = 0 per group AND τ² = 0 → the
    // unguarded blend is 0/0 = NaN; the contract is full shrink (w = 0)
    val rows = Seq(("g1", 5.0), ("g1", 5.0), ("g2", 5.0), ("g2", 5.0))
      .toDF("g", "v")
    val got = Stats.ebShrinkMeans(rows, Seq("g"), "v").collect()
    got.foreach { r =>
      assert(r.getAs[Double]("shrink_weight") === 0.0)
      assert(r.getAs[Double]("shrunk_mean") === 5.0)
      assert(!r.getAs[Double]("shrunk_mean").isNaN)
    }
  }

  test("bestThreshold: symmetric costs tie to the higher threshold") {
    val rows = Seq((0.9, 1), (0.7, 0), (0.5, 1), (0.3, 0)).toDF("s", "y")
    val r = Stats.bestThreshold(rows, "s", "y").head()
    // cost 1 at both t=.9 (fn=1) and t=.5 (fp=1): conservative cut wins
    assert(r.getAs[Double]("threshold") === 0.9)
    assert(r.getAs[Double]("cost") === 1.0)
  }

  test("bestThreshold: pricing FN 5× moves the cut down") {
    val rows = Seq((0.9, 1), (0.7, 0), (0.5, 1), (0.3, 0)).toDF("s", "y")
    val r = Stats.bestThreshold(rows, "s", "y", costFp = 1.0,
      costFn = 5.0).head()
    assert(r.getAs[Double]("threshold") === 0.5)
    assert(r.getAs[Long]("tp") === 2L && r.getAs[Long]("fp") === 1L)
    assert(d(r.getAs[Double]("recall"), 1.0))
  }

  test("dpNoisyMean: clipping, determinism, nonzero noise") {
    val rows = Seq(("a", -50.0), ("a", 50.0), ("a", 150.0), ("b", 10.0))
      .toDF("g", "v")
    def run() = Stats.dpNoisyMean(rows, Seq("g"), "v", lo = 0.0,
      hi = 100.0, epsilon = 1.0).orderBy("g").collect()
    val (r1, r2) = (run(), run())
    assert(d(r1(0).getAs[Double]("mean_true"), 50.0)) // (0+50+100)/3
    assert(r1(0).getAs[Double]("n_noisy") !==
      r1(0).getAs[Long]("n_true").toDouble)
    assert(r1.map(_.getAs[Double]("mean_noisy")).toSeq ===
      r2.map(_.getAs[Double]("mean_noisy")).toSeq)
  }

  test("captureRecapture: textbook Chapman estimate") {
    // 4 flagged by A, 2 by B, 1 by both → N̂ = 5·3/2 − 1 = 6.5
    val rows = Seq((true, true), (true, false), (true, false),
      (true, false), (false, true), (false, false)).toDF("a", "b")
    val r = Stats.captureRecapture(rows, col("a"), col("b")).head()
    assert(r.getAs[Long]("n_a") === 4L && r.getAs[Long]("n_b") === 2L)
    assert(d(r.getAs[Double]("n_est"), 6.5))
    assert(d(r.getAs[Double]("recall_a"), 4.0 / 6.5))
    // var = 5·3·3·1/(4·3) = 3.75
    assert(d(r.getAs[Double]("se_est"), math.sqrt(3.75)))
  }

  test("captureRecapture: full overlap estimates the union exactly") {
    val rows = Seq((true, true), (true, true), (false, false))
      .toDF("a", "b")
    val r = Stats.captureRecapture(rows, col("a"), col("b")).head()
    assert(d(r.getAs[Double]("n_est"), 2.0)) // 3·3/3 − 1
    assert(d(r.getAs[Double]("se_est"), 0.0))
    assert(d(r.getAs[Double]("recall_a"), 1.0))
  }

  test("mcnemar: discordant cells drive the statistic") {
    val rows = Seq((true, true), (true, false), (true, false),
      (false, true), (false, false)).toDF("a", "b")
    val r = Stats.mcnemar(rows, col("a"), col("b")).head()
    assert(r.getAs[Long]("n") === 5L)
    assert(r.getAs[Long]("both_correct") === 1L)
    assert(r.getAs[Long]("a_only_correct") === 2L)
    assert(r.getAs[Long]("b_only_correct") === 1L)
    assert(r.getAs[Long]("neither_correct") === 1L)
    assert(d(r.getAs[Double]("chi2"), 1.0 / 3))
  }

  test("mcnemar: fully concordant input reports chi2 = 0, not NaN") {
    val rows = Seq((true, true), (false, false)).toDF("a", "b")
    assert(Stats.mcnemar(rows, col("a"), col("b"))
      .head().getAs[Double]("chi2") === 0.0)
  }

  test("upliftDeciles: per-tier rates and the cumulative Qini") {
    val rows = Seq(
      (0.8, true, 10.0), (0.9, false, 4.0),  // high-score tier
      (0.1, true, 3.0), (0.2, false, 3.0))   // low-score tier
      .toDF("score", "tr", "y")
    val got = Stats.upliftDeciles(rows, col("tr"), "score", "y",
      numBuckets = 2).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(1, 0)) // highest first
    assert(d(got(0).getAs[Double]("uplift"), 6.0))
    assert(d(got(1).getAs[Double]("uplift"), 0.0))
    assert(d(got(0).getAs[Double]("qini"), 6.0))
    assert(d(got(1).getAs[Double]("qini"), 6.0)) // 13 − 7·(2/2)
  }

  test("permutationTest: no effect saturates extremes; strong effect does not") {
    val flat = (1L to 40L).map(i => (i, 5.0, i <= 20))
      .toDF("id", "y", "tr")
    val r0 = Stats.permutationTest(flat, "id", "y", col("tr"), k = 32)
      .head()
    assert(r0.getAs[Double]("observed_diff") === 0.0)
    assert(r0.getAs[Long]("n_extreme") === 32L) // |0| ≥ |0| everywhere
    assert(r0.getAs[Double]("p_value") === 1.0)
    val strong = (1L to 40L).map(i =>
      (i, if (i <= 20) 100.0 else 1.0, i <= 20)).toDF("id", "y", "tr")
    val r1 = Stats.permutationTest(strong, "id", "y", col("tr"), k = 32)
      .head()
    assert(d(r1.getAs[Double]("observed_diff"), 99.0))
    assert(r1.getAs[Double]("p_value") < 0.1)
  }

  test("permutationTest: deterministic — two runs agree exactly") {
    val rows = (1L to 30L).map(i => (i, (i % 7).toDouble, i % 3 == 0))
      .toDF("id", "y", "tr")
    val a = Stats.permutationTest(rows, "id", "y", col("tr"), k = 16)
      .head()
    val b = Stats.permutationTest(rows, "id", "y", col("tr"), k = 16)
      .head()
    assert(a.getAs[Long]("n_extreme") === b.getAs[Long]("n_extreme"))
    assert(a.getAs[Double]("p_value") === b.getAs[Double]("p_value"))
  }

  test("nelsonAalen: hand-summed hazard and variance with censoring") {
    // t=1: n=3, d=1 → H = 1/3, V = 1/9. t=2: n=2, d=1 → H = 5/6,
    // V = 1/9 + 1/4 = 13/36. censored t=3 row emits no output row.
    val subjects = Seq((1.0, 1), (2.0, 1), (3.0, 0)).toDF("dur", "ev")
    val got = Stats.nelsonAalen(subjects, "dur", "ev")
      .orderBy("t").collect()
    assert(got.length === 2)
    assert(got(0).getAs[Long]("n_at_risk") === 3L)
    assert(d(got(0).getAs[Double]("cumhaz"), 1.0 / 3))
    assert(d(got(1).getAs[Double]("cumhaz"), 1.0 / 3 + 0.5))
    assert(d(got(1).getAs[Double]("se_cumhaz"), math.sqrt(13.0 / 36)))
  }

  test("propensityMatch: nearest-within-caliper, ties to the lower score") {
    val units = Seq(
      // (treated, score, y, stratum)
      (true, 0.14, 10.0, 0L),  // -> control 0.10 (|Δ| .04 < .06)
      (true, 0.18, 20.0, 0L),  // -> control 0.20
      (true, 0.15, 30.0, 0L),  // equidistant -> LOWER score 0.10
      (true, 0.30, 40.0, 0L),  // nearest is 0.20 at .10 > caliper: drops
      (false, 0.10, 1.0, 0L),
      (false, 0.20, 2.0, 0L))
      .toDF("is_treated", "score", "y", "stratum")
    val r = Stats.propensityMatch(units, col("is_treated"), "score", "y",
      "stratum", caliper = 0.05).head()
    assert(r.getAs[Long]("n_treated") === 4L)
    assert(r.getAs[Long]("n_control") === 2L)
    assert(r.getAs[Long]("n_matched") === 3L)
    assert(d(r.getAs[Double]("match_rate"), 0.75))
    // matches: (10,1), (20,2), (30,1) -> ATT = mean(9, 18, 29)
    assert(d(r.getAs[Double]("att"), (9.0 + 18.0 + 29.0) / 3))
  }

  test("propensityMatch: strata never cross-match") {
    val units = Seq(
      (true, 0.50, 10.0, 0L),
      (false, 0.50, 1.0, 1L)) // perfect score match, WRONG stratum
      .toDF("is_treated", "score", "y", "stratum")
    val r = Stats.propensityMatch(units, col("is_treated"), "score", "y",
      "stratum", caliper = 0.05).head()
    assert(r.getAs[Long]("n_matched") === 0L)
  }

  test("propensityMatch: equal-score controls collapse to the struct min") {
    val units = Seq(
      (true, 0.50, 10.0, 0L),
      (false, 0.50, 7.0, 0L),
      (false, 0.50, 3.0, 0L)) // same score: min outcome wins
      .toDF("is_treated", "score", "y", "stratum")
    val r = Stats.propensityMatch(units, col("is_treated"), "score", "y",
      "stratum", caliper = 0.05).head()
    assert(d(r.getAs[Double]("att"), 7.0))
  }
  test("bhFdr: step-up adjusted p-values match the textbook example; " +
    "rejection set is the suffix-min cut") {
    // p = .01,.02,.03,.5 at m=4: raw m*p/i = .04,.04,.04,.5 -> suffix
    // mins .04,.04,.04,.5; q=.1 rejects the first three
    val tests = Seq(("t1", 0.01), ("t2", 0.02), ("t3", 0.03), ("t4", 0.5))
      .toDF("test", "p")
    val got = Stats.bhFdr(tests, "test", "p", q = 0.1)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(got.forall(_.getAs[Long]("m") === 4L))
    assert(got.take(3).forall(r =>
      d(r.getAs[Double]("p_adj"), 0.04) && r.getAs[Boolean]("rejected")))
    assert(d(got(3).getAs[Double]("p_adj"), 0.5))
    assert(!got(3).getAs[Boolean]("rejected"))
  }

  test("bhFdr: adjusted p caps at 1; a p smaller than a later one can " +
    "inherit the later raw value through the suffix min") {
    // p=.6 at rank 1 of 2: raw 1.2 -> suffix min(1.2, .7) = .7 (the BH
    // monotonicity fix); rank 2 raw .7; both cap under 1
    val tests = Seq(("a", 0.6), ("b", 0.7)).toDF("test", "p")
    val got = Stats.bhFdr(tests, "test", "p").orderBy("rank").collect()
    assert(d(got(0).getAs[Double]("p_adj"), 0.7))
    assert(d(got(1).getAs[Double]("p_adj"), 0.7))
    val one = Stats.bhFdr(Seq(("x", 0.9)).toDF("test", "p"), "test", "p")
      .head()
    assert(d(one.getAs[Double]("p_adj"), 0.9)) // m*p/1 = .9, no cap needed
  }
}
