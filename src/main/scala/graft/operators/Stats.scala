package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation and statistical-testing operators — the measurement layer a
  * training-data pipeline runs AFTER curation: did retrieval get better, is
  * the classifier calibrated, do two labeling passes agree, did the vintage
  * shift, is a release safe to publish under k-anonymity.
  *
  * The reference has no evaluation surface (its notebook eyeballs displayed
  * tables, `adls_bikeshare_project_IsmaelDawuda.ipynb` cells 23-41); these
  * extend the same aggregate-first discipline to the statistics themselves:
  * every operator here is partial-aggregable scans plus tiny broadcast
  * joins — no global sorts, no driver-side data loops.
  */
object Stats {

  /** Ranked-retrieval evaluation: recall@k, MRR and NDCG@k per query over
    * an already-ranked result set (one row per (query, item) with a dense
    * 1-based `rankCol` and a 0/1 `relCol`).
    *
    * All three metrics are conditional aggregates over ONE groupBy(query)
    * — no window, no per-query sort (the input is already ranked by the
    * retriever that produced it):
    *
    *  - recall@k  = relevant found at rank ≤ k / total relevant;
    *  - MRR       = 1 / min(rank of a relevant item)   (0 when none);
    *  - NDCG@k    = DCG@k / IDCG, DCG = Σ_{rank≤k} rel/log2(rank+1).
    *
    * With binary gains IDCG depends only on m = min(k, n_rel), so the k
    * ideal-DCG prefix sums ship as ONE broadcast literal array instead of
    * a second ranking pass — the whole evaluation is a single shuffle.
    * Queries with zero relevant items report recall/ndcg = 0 (not NULL) so
    * downstream macro-averages stay defined.
    */
  def rankingMetrics(ranked: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    // idcgByM(m) = Σ_{i=1..m} 1/log2(i+1); index 0 = zero relevant
    val idcgByM = (0 to k).scanLeft(0.0) { case (acc, i) =>
      if (i == 0) 0.0 else acc + 1.0 / (math.log(i + 1.0) / math.log(2.0))
    }.tail
    val rel = col(relCol).cast("double")
    val rk = col(rankCol).cast("long")
    val inK = rk <= k
    ranked.groupBy(col(queryCol))
      .agg(
        sum(rel).cast("long").as("n_rel"),
        sum(when(inK, rel).otherwise(0.0)).cast("long").as("hits_k"),
        min(when(rel > 0, rk)).as("__first_rel"),
        sum(when(inK, rel / log2(rk.cast("double") + 1.0))
          .otherwise(0.0)).as("__dcg"))
      .withColumn("recall_k",
        when(col("n_rel") > 0, col("hits_k") / col("n_rel")).otherwise(0.0))
      .withColumn("mrr",
        when(col("__first_rel").isNotNull,
          lit(1.0) / col("__first_rel")).otherwise(0.0))
      .withColumn("__idcg",
        element_at(lit(idcgByM.toArray),
          least(col("n_rel"), lit(k.toLong)).cast("int") + 1))
      .withColumn("ndcg_k",
        when(col("n_rel") > 0, col("__dcg") / col("__idcg")).otherwise(0.0))
      .drop("__first_rel", "__dcg", "__idcg")
  }

  /** Classifier calibration by equal-width reliability bins: rows land in
    * `bins` buckets of predicted score, each bin reports its size, mean
    * confidence, observed positive rate, and its expected-calibration-error
    * contribution `(n/N)·|conf − acc|` — Σ ece_term = ECE, the number a
    * curation-classifier audit gates on before its scores become sampling
    * weights.
    *
    * One groupBy(bin) with partial aggs; the corpus total joins back as a
    * broadcast scalar (the A5 pattern). Scores are clamped into [0, 1) so
    * a score of exactly 1.0 lands in the top bin instead of bin `bins`.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins: $bins")
    val s = col(scoreCol).cast("double")
    val bin = least(floor(s * bins).cast("int"), lit(bins - 1))
    val per = df
      .select(bin.as("bin"), s.as("__s"),
        col(labelCol).cast("double").as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), avg("__s").as("confidence"),
        avg("__y").as("accuracy"))
    val tot = per.agg(sum("n").as("__total"))
    per.crossJoin(broadcast(tot))
      .withColumn("ece_term",
        col("n") / col("__total") * abs(col("confidence") - col("accuracy")))
      .drop("__total")
  }

  /** Isotonic (PAV) calibration over score bins — the monotone recalibration
    * map a scored corpus filter actually deploys (Platt scaling assumes a
    * sigmoid shape; isotonic assumes only "higher score → no lower
    * probability"). Scores bin equi-width like [[calibrationBins]]; the
    * pool-adjacent-violators solution over the bin sequence comes from its
    * minimax characterization
    *
    *   fit(k) = max,,i≤k,, min,,j≥k,, weightedMean(label, bins i..j)
    *
    * — not the sequential pooling loop, which doesn't distribute. All
    * post-bin work runs on the ≤`bins`-row aggregate: cumulative
    * (weight, label-sum) via a bounded-domain window, segment means from
    * cumulative differences (≤ B² segment rows), and the minimax as two
    * bounded groupBys (≤ B³ intermediate rows — 32 bins ⇒ ≤ 33k rows of
    * driver-free broadcast-join work, invariant in corpus size). Label
    * sums are exact (0/1 counts in doubles), so segment means — and hence
    * the fit — replay bit-for-bit in SQL. Returns one row per non-empty
    * bin: (bin, n, score_mean, label_mean, fit), fit nondecreasing in bin.
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
                          bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2, 64]: $bins")
    val s = col(scoreCol).cast("double")
    val bin = least(floor(s * bins).cast("int"), lit(bins - 1))
    val per = df
      .select(bin.as("bin"), s.as("__s"),
        col(labelCol).cast("double").as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), avg("__s").as("score_mean"),
        sum("__y").as("__sy"))
    // everything below runs on ≤ bins rows — the window is bounded-domain
    val cum = per
      .withColumn("__cw", sum("n").over(Window.orderBy("bin")))
      .withColumn("__cs", sum("__sy").over(Window.orderBy("bin")))
    val lo = cum.select(col("bin").as("__i"),
      (col("__cw") - col("n")).as("__wi"), (col("__cs") - col("__sy")).as("__si"))
    val hi = cum.select(col("bin").as("__j"),
      col("__cw").as("__wj"), col("__cs").as("__sj"))
    val seg = lo.join(broadcast(hi), col("__i") <= col("__j"))
      .select(col("__i"), col("__j"),
        ((col("__sj") - col("__si")) / (col("__wj") - col("__wi"))).as("__a"))
    val fit = per.select(col("bin").as("__k"))
      .join(broadcast(seg), col("__i") <= col("__k") && col("__k") <= col("__j"))
      .groupBy("__k", "__i").agg(min("__a").as("__mn"))
      .groupBy(col("__k").as("bin")).agg(max("__mn").as("fit"))
    per.join(broadcast(fit), Seq("bin"))
      .select(col("bin"), col("n"), col("score_mean"),
        (col("__sy") / col("n")).as("label_mean"), col("fit"))
  }

  /** Cohen's kappa between two categorical labelings of the same rows —
    * the inter-annotator (or model-vs-model) agreement test that tells a
    * labeling pipeline whether its two passes agree beyond chance:
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_c p_a(c)·p_b(c) the chance rate from the marginals.
    *
    * Three aggregates (joint agreement count + each side's marginal
    * distribution over a category-sized key space) and one tiny
    * marginal-join — nothing row-scale ever joins. Returns ONE row:
    * (n, po, pe, kappa). Degenerate perfect-chance margins (p_e = 1)
    * report kappa 0 rather than NULL.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(col(aCol).cast("string").as("__a"),
      col(bCol).cast("string").as("__b"))
    val n = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("__agree"))
    val ma = base.groupBy(col("__a").as("__c")).agg(count(lit(1)).as("__na"))
    val mb = base.groupBy(col("__b").as("__c")).agg(count(lit(1)).as("__nb"))
    val pe = ma.join(mb, Seq("__c"))
      .agg(sum(col("__na").cast("double") * col("__nb")).as("__pesum"))
    n.crossJoin(broadcast(pe))
      .select(col("n"),
        (col("__agree") / col("n")).as("po"),
        (col("__pesum") / (col("n").cast("double") * col("n"))).as("pe"))
      .withColumn("kappa",
        when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .otherwise(0.0))
  }

  /** Krippendorff's alpha (nominal) — [[cohenKappa]]'s generalization to
    * ANY number of raters with missing ratings, the standard reliability
    * number for crowdsourced labeling: α = 1 − D_o/D_e over the
    * coincidence matrix. Rater identity never enters (only the multiset
    * of labels per item), so input is simply one row per (item, label);
    * items with a single rating drop (they carry no pairing). Closed
    * forms used: per-item disagreement Σ_u (m_u² − Σ_c r_uc²)/(m_u − 1),
    * chance disagreement from the label marginals (n² − Σ_c n_c²)/(n−1)·…
    * — so D_o/D_e = (n − 1)·Σ_u[…] / (n² − Σ n_c²). Returns ONE row:
    * (n_items, n_ratings, d_o, d_e, alpha). A degenerate corpus (every
    * rating the same label → D_e = 0) reports α = 1.
    *
    * Two partial-aggregable passes — (item, label) counts, then per-item
    * and marginal rollups over the COUNT table — nothing row-scale moves
    * twice; no pair table ever materializes (the naive coincidence
    * matrix is Σ m_u² rows).
    */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
                        labelCol: String): DataFrame = {
    val rc = df.groupBy(col(itemCol).as("__u"),
        col(labelCol).cast("string").as("__c"))
      .agg(count(lit(1)).as("__r"))
    val perItem = rc.groupBy("__u")
      .agg(sum("__r").as("__m"), sum(col("__r") * col("__r")).as("__r2"))
      .where(col("__m") >= 2)
      .agg(count(lit(1)).as("n_items"),
        sum("__m").as("n_ratings"),
        sum((col("__m").cast("double") * col("__m") - col("__r2")) /
          (col("__m").cast("double") - 1.0)).as("__dnum"))
    // marginals over qualifying items only — recount after the m ≥ 2 cut
    val qual = rc.withColumn("__m",
        sum("__r").over(Window.partitionBy("__u")))
      .where(col("__m") >= 2)
    val marg = qual.groupBy("__c").agg(sum("__r").as("__nc"))
      .agg(sum("__nc").as("__n"),
        sum(col("__nc").cast("double") * col("__nc")).as("__nc2"))
    perItem.crossJoin(broadcast(marg))
      .withColumn("d_o", col("__dnum") / col("__n").cast("double"))
      .withColumn("d_e",
        (col("__n").cast("double") * col("__n") - col("__nc2")) /
          (col("__n").cast("double") * (col("__n").cast("double") - 1.0)))
      .withColumn("alpha",
        when(col("d_e") > 0.0, lit(1.0) - col("d_o") / col("d_e"))
          .otherwise(1.0))
      .select(col("n_items"), col("n_ratings"), col("d_o"), col("d_e"),
        col("alpha"))
  }

  /** Dawid–Skene label aggregation (1979) — the step past majority vote
    * for crowdsourced/model-ensemble labels: jointly estimate per-rater
    * CONFUSION MATRICES and per-item posterior labels, so a rater who is
    * reliably wrong in a known direction still contributes signal.
    * Fixed EM rounds (deterministic, oracle-replayable): init = soft
    * majority shares; M-step re-estimates class priors and
    * Laplace-smoothed confusions π_rck from the current posteriors;
    * E-step rebuilds posteriors in log space with max-subtraction
    * (the domainReweight stabilization). Returns one row per
    * (item, label): posterior plus `is_map` (argmax, label-asc
    * tiebroken).
    *
    * Scale shape: every M-step table is keyed on (rater, class[, label])
    * — rater-count × C² rows, never item-scale; the E-step expands
    * ratings × C through ONE broadcast of the C-row class spine
    * (`maxClasses` guards the bounded-domain contract), aggregates back
    * to (item, class), and normalizes over C-row item windows. Posterior
    * frames pin per round (the pageRank discipline), so plan depth stays
    * constant. N and C are bounded driver scalars.
    */
  def dawidSkene(df: DataFrame, itemCol: String, raterCol: String,
                 labelCol: String, iterations: Int = 2,
                 epsilon: Double = 0.01,
                 maxClasses: Int = 100): DataFrame = {
    require(iterations >= 1, s"iterations must be ≥ 1: $iterations")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    // Aligned-pin round shape (see [[Graphs.pageRank]]'s layout note):
    // ratings, per-(item, rater) counts and every posterior frame pin
    // hash-partitioned on __i, so the den/num M-step joins, the E-step's
    // (__i, __c) aggregate (subset rule) and both item windows all run
    // without re-exchanging item-scale data — the only per-round
    // exchanges left carry rater-scale partial aggregates and the
    // rater-keyed M-table joins back onto the exploded scan.
    val rt0 = df.select(col(itemCol).as("__i"), col(raterCol).as("__r"),
      col(labelCol).cast("string").as("__k")).localCheckpoint(eager = true)
    val parts = Pinning.partsFor(rt0.count(), rt0)
    def pin(d: DataFrame, keys: String*): DataFrame =
      Pinning.pinBy(d, parts, keys: _*)
    val rt = pin(rt0, "__i")
    Pinning.unpin(rt0)
    val classes = rt.select(col("__k").as("__c")).distinct()
      .localCheckpoint(eager = true) // C rows; broadcast every round
    // the widest label in the same action as the count (bytes, for the
    // M-table estimate below)
    val cStats = classes
      .agg(count(lit(1)), coalesce(max(octet_length(col("__c"))), lit(0)))
      .collect().head
    val cCnt = cStats.getLong(0)
    val kBytes = cStats.getInt(1).toLong
    require(cCnt <= maxClasses,
      s"dawidSkene is a bounded-label-domain operator, but the input has " +
        s"$cCnt distinct labels (> maxClasses=$maxClasses). Collapse the " +
        s"label space or raise maxClasses explicitly.")
    val mi = rt.groupBy("__i").agg(count(lit(1)).as("__m"))
    val nItems = mi.count().toDouble
    // M-step join strategy, decided ONCE from measured bounds (AQE is off
    // inside the pins, so the planner can't size them itself): the num/
    // den confusion tables are ≤ raters·C² rows — broadcast them onto the
    // exploded scan when that bound is comfortably broadcastable,
    // otherwise shuffle-hash-join (never a sort) at corpus scale.
    // the widest string rater id in the same action as the rater count
    val rIsString = rt.schema("__r").dataType == org.apache.spark.sql.types.StringType
    val rStats = rt.select("__r").distinct()
      .agg(count(lit(1)), coalesce(max(
        if (rIsString) octet_length(col("__r")) else lit(0)), lit(0)))
      .collect().head
    val nRaters = rStats.getLong(0)
    // bounded in BYTES as well as rows: near the row bound a
    // string-labeled confusion table is hundreds of MB framed (the driver
    // and every executor hold the built relation, twice per round as num
    // and den) — estimate row width from the measured keys (a string
    // takes its widest value's bytes, word-aligned, plus a 16-byte slot;
    // a scalar 16; plus struct/map overhead) and require the table under
    // a 64 MB broadcast budget.
    val mRows = nRaters * cCnt * cCnt
    def stringWidth(maxBytes: Long): Long = 16L + (maxBytes + 7) / 8 * 8
    val rWidth = if (rIsString) stringWidth(rStats.getInt(1).toLong) else 16L
    val mBytes = mRows * (24L + rWidth + 2L * stringWidth(kBytes) + 16L)
    val mSmall = mRows <= 4000000L && mBytes <= 64L * 1024 * 1024
    def mHint(d: DataFrame): DataFrame =
      if (mSmall) broadcast(d) else d.hint("shuffle_hash")
    val nir = pin(rt.groupBy("__i", "__r").agg(count(lit(1)).as("__nir")),
      "__i")
    var post = pin(rt.groupBy(col("__i"), col("__k").as("__c"))
      .agg(count(lit(1)).as("__v"))
      .join(mi.hint("shuffle_hash"), "__i")
      .select(col("__i"), col("__c"),
        (col("__v") / col("__m").cast("double")).as("__t")), "__i")
    val wItem = Window.partitionBy("__i") // ≤ C rows per item
    var i = 0
    while (i < iterations) {
      val prior = post.groupBy("__c")
        .agg((sum("__t") / nItems).as("__p"))
      val den = nir.join(post.hint("shuffle_hash"), "__i")
        .groupBy("__r", "__c")
        .agg(sum(col("__nir") * col("__t")).as("__den"))
      val num = rt.join(post.hint("shuffle_hash"), "__i")
        .groupBy("__r", "__c", "__k")
        .agg(sum("__t").as("__num"))
      val joined = rt.crossJoin(broadcast(classes))
        .join(mHint(num), Seq("__r", "__c", "__k"), "left")
        .join(mHint(den), Seq("__r", "__c"), "left")
        .withColumn("__lp",
          log((coalesce(col("__num"), lit(0.0)) + epsilon) /
            (coalesce(col("__den"), lit(0.0)) + epsilon * cCnt)))
      // broadcast path: still item-partitioned, the aggregate and both
      // windows below run exchange-free; shuffled path: one repartition
      // back to items replaces what would otherwise be an (__i, __c)
      // agg exchange plus an (__i) window exchange
      val scored = (if (mSmall) joined
        else joined.repartition(parts, col("__i")))
        .groupBy("__i", "__c").agg(sum("__lp").as("__lsum"))
        .join(broadcast(prior), "__c")
        .withColumn("__sc", log(col("__p")) + col("__lsum"))
        .withColumn("__ex", exp(col("__sc") - max("__sc").over(wItem)))
      val next = pin(scored
        .withColumn("__t", col("__ex") / sum("__ex").over(wItem))
        .select("__i", "__c", "__t"), "__i")
      Pinning.unpin(post)
      post = next
      i += 1
    }
    // the MAP projection below reads ONLY the final pinned posterior —
    // the EM spine frames are done; release them so long-lived sessions
    // don't accumulate pinned blocks per call (hits/bradleyTerry parity)
    Pinning.unpin(rt)
    Pinning.unpin(classes)
    Pinning.unpin(nir)
    post
      .withColumn("is_map", row_number().over(
        wItem.orderBy(col("__t").desc, col("__c"))) === 1)
      .select(col("__i").as("item"), col("__c").as("label"),
        col("__t").as("posterior"), col("is_map"))
  }

  /** Empirical-Bayes shrinkage of per-group means (method-of-moments
    * random-effects, the James–Stein idea): a group's observed mean is
    * pulled toward the cross-group center in proportion to how NOISY it
    * is — small segments stop winning leaderboards on luck. Between-group
    * variance τ² = max(0, var(group means) − avg(SE²)); each group's
    * posterior mean is the precision-weighted blend
    * (τ²·mean_g + SE²_g·μ̄)/(τ² + SE²_g) with weight τ²/(τ²+SE²_g) on
    * the observed mean. Single-observation groups (undefined SE²) shrink
    * fully to the center, and a degenerate single-GROUP input reports
    * weight 0 with shrunk = its own mean (Spark `greatest` skips the
    * null between-variance). Returns per group: (groupCols..., n, mean,
    * se2, shrunk_mean, shrink_weight).
    *
    * ONE per-group aggregate + one G-row scalar rollup broadcast back —
    * nothing row-scale moves twice.
    */
  def ebShrinkMeans(df: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val per = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        avg(col(valueCol).cast("double")).as("mean"),
        (var_samp(col(valueCol).cast("double")) /
          count(lit(1)).cast("double")).as("se2"))
    val roll = per.agg(avg("mean").as("__center"),
      var_samp("mean").as("__vb"), avg("se2").as("__mse2"))
    per.crossJoin(broadcast(roll))
      .withColumn("__tau2",
        greatest(lit(0.0), col("__vb") - col("__mse2")))
      .withColumn("shrink_weight",
        // the τ²+se2 = 0 guard: a zero-sample-variance group under zero
        // between-variance would otherwise compute 0/0 = NaN (and DuckDB
        // 0/0 differs — a latent oracle divergence); it shrinks fully to
        // the center, matching the singleton convention
        when(col("se2").isNull ||
          col("__tau2") + col("se2") === 0.0, lit(0.0))
          .otherwise(col("__tau2") / (col("__tau2") + col("se2"))))
      .withColumn("shrunk_mean",
        col("shrink_weight") * col("mean") +
          (lit(1.0) - col("shrink_weight")) * col("__center"))
      .select(groupCols.map(col) ++ Seq(col("n"), col("mean"),
        col("se2"), col("shrunk_mean"), col("shrink_weight")): _*)
  }

  /** Temperature-scaling calibration (Guo et al. 2017) for a binary
    * scorer: find the single temperature T that minimizes NLL of
    * σ(logit(p)/T) — the one-parameter fix for an over/under-confident
    * model, evaluated over a FIXED grid so the search is deterministic
    * and replayable (no iterative optimizer state). Scores clip to
    * [1e-6, 1−1e-6] before the logit. Returns ONE row: (n, best_t,
    * nll_uncalibrated, nll_calibrated, nll_reduction); best-T ties break
    * to the SMALLER temperature.
    *
    * ONE aggregate scan carries |grid| conditional NLL sums (the
    * permutationTest pattern — no explode); the argmin is row arithmetic
    * over a struct array. Pair with [[calibrationBins]] /
    * [[isotonicCalibration]]: temperature preserves ranking, isotonic
    * does not.
    */
  def temperatureScaling(df: DataFrame, scoreCol: String,
                         labelCol: String,
                         grid: Seq[Double] = Seq(0.25, 0.5, 0.75, 1.0,
                           1.25, 1.5, 2.0, 2.5, 3.0, 4.0)): DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0),
      s"grid must be positive temperatures: $grid")
    require(grid.contains(1.0),
      "grid must include T = 1 (the uncalibrated reference)")
    // textual literals, not 1.0 − 1e-6: the SQL oracle parses the same
    // decimal text, so both engines clip with the identical double
    val p = least(lit(0.999999),
      greatest(lit(0.000001), col(scoreCol).cast("double")))
    val z = log(p / (lit(1.0) - p))
    val y = col(labelCol).cast("double") > 0
    // Log-space NLL via softplus: −log σ(z/t) = sp(−z/t) and
    // −log(1−σ(z/t)) = sp(z/t) with sp(x) = max(x,0) + ln(1+exp(−|x|)) —
    // finite for EVERY z, unlike the direct form, where a label-0 row
    // with p near the clip and small t rounds σ(z/t) to exactly 1.0 and
    // −log(1−q) becomes log(0) → NULL, which sum() silently drops: an
    // infinite penalty scored as zero, biasing small-t NLL low on
    // exactly the overconfident-and-wrong inputs this operator targets.
    // ln(1+exp(·)), not log1p: the oracle engine has no log1p, and the
    // identical op sequence is what makes the two engines hash-match.
    def nllSum(t: Double): Column = {
      def sp(x: Column): Column =
        greatest(x, lit(0.0)) + log(lit(1.0) + exp(-abs(x)))
      sum(when(y, sp(-(z / t))).otherwise(sp(z / t)))
    }
    val gridAggs = grid.zipWithIndex.map { case (t, i) =>
      nllSum(t).as(s"__nll$i")
    }
    val aggs = Seq(count(lit(1)).as("n")) ++ gridAggs
    val base = df.agg(aggs.head, aggs.tail: _*)
    val candidates = grid.zipWithIndex.map { case (t, i) =>
      struct((col(s"__nll$i") / col("n")).as("nll"), lit(t).as("t"))
    }
    base
      .withColumn("__best", array_min(array(candidates: _*)))
      .withColumn("best_t", col("__best.t"))
      .withColumn("nll_uncalibrated",
        col(s"__nll${grid.indexOf(1.0)}") / col("n"))
      .withColumn("nll_calibrated", col("__best.nll"))
      .withColumn("nll_reduction",
        col("nll_uncalibrated") - col("nll_calibrated"))
      .select(col("n"), col("best_t"), col("nll_uncalibrated"),
        col("nll_calibrated"), col("nll_reduction"))
  }

  /** Capture–recapture population estimate (Chapman 1951) from two
    * independent detector passes — the dedup-coverage question no single
    * pass can answer: if LSH config A flags n₁ docs, config B flags n₂,
    * and they agree on m, the TOTAL flaggable population is
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (Chapman's bias-corrected form), with
    * variance (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2)) — so each pass's
    * estimated RECALL is nᵢ/N̂. Returns ONE row: (n, n_a, n_b, n_both,
    * n_est, se_est, recall_a, recall_b); zero overlap still estimates
    * (the +1s), but the independence assumption is the caller's to
    * defend.
    *
    * ONE conditional-cell aggregate — the same single-scan shape as
    * [[mcnemar]]; everything after is scalar arithmetic.
    */
  def captureRecapture(df: DataFrame, flaggedA: Column,
                       flaggedB: Column): DataFrame = {
    val one = lit(1.0)
    df.agg(count(lit(1)).as("n"),
        sum(when(flaggedA, 1L).otherwise(0L)).as("n_a"),
        sum(when(flaggedB, 1L).otherwise(0L)).as("n_b"),
        sum(when(flaggedA && flaggedB, 1L).otherwise(0L)).as("n_both"))
      .withColumn("n_est",
        (col("n_a") + one) * (col("n_b") + one) / (col("n_both") + one) -
          one)
      .withColumn("se_est", sqrt(
        (col("n_a") + one) * (col("n_b") + one) *
          (col("n_a") - col("n_both")) * (col("n_b") - col("n_both")) /
          ((col("n_both") + one) * (col("n_both") + one) *
            (col("n_both") + lit(2.0)))))
      .withColumn("recall_a", col("n_a") / col("n_est"))
      .withColumn("recall_b", col("n_b") / col("n_est"))
  }

  /** McNemar's test for PAIRED binary outcomes — "is model B actually
    * better than model A on the same eval items?", the question accuracy
    * deltas alone cannot answer (shared items correlate the errors; an
    * unpaired two-proportion z wastes the pairing). Only the discordant
    * cells carry signal: χ²(1) = (b − c)²/(b + c) with b = A-only-correct,
    * c = B-only-correct. Returns ONE row: (n, both_correct,
    * a_only_correct, b_only_correct, neither_correct, chi2); a fully
    * concordant input (b + c = 0) reports χ² 0.
    *
    * ONE partial-aggregable aggregate — the million-item eval sheet
    * reduces in a single scan.
    */
  def mcnemar(df: DataFrame, aCorrect: Column, bCorrect: Column)
  : DataFrame = {
    df.agg(count(lit(1)).as("n"),
        sum(when(aCorrect && bCorrect, 1L).otherwise(0L))
          .as("both_correct"),
        sum(when(aCorrect && !bCorrect, 1L).otherwise(0L))
          .as("a_only_correct"),
        sum(when(!aCorrect && bCorrect, 1L).otherwise(0L))
          .as("b_only_correct"),
        sum(when(!aCorrect && !bCorrect, 1L).otherwise(0L))
          .as("neither_correct"))
      .withColumn("chi2",
        when(col("a_only_correct") + col("b_only_correct") > 0,
          pow(col("a_only_correct") - col("b_only_correct"), 2) /
            (col("a_only_correct") + col("b_only_correct"))
              .cast("double"))
          .otherwise(0.0))
  }

  /** Stratified (Cochran–Mantel–Haenszel) McNemar — [[mcnemar]] when the
    * paired evals span heterogeneous strata (language, task family,
    * difficulty tier): per-stratum discordant cells plus the pooled CMH
    * statistic. For 1:1 matched pairs the CMH χ² COLLAPSES to McNemar on
    * the summed discordant cells, (ΣB_s − ΣC_s)²/(ΣB_s + ΣC_s) — the
    * value of stratifying is (a) the per-stratum χ²s showing WHERE the
    * models differ and (b) the homogeneity χ² (Σ(B_s − n_s·p̂)²/(n_s·p̂q̂),
    * p̂ = pooled B/(B+C), df = informative strata − 1) flagging when the
    * pooled verdict hides opposite-direction strata — the paired-test
    * Simpson's-paradox alarm, same contract as [[EventAnalytics]]' CMH
    * odds-ratio pair. Returns one row per stratum (strataCols..., n,
    * a_only_correct, b_only_correct, chi2) with constant rollup columns
    * (n_strata, n_informative, cmh_chi2, hom_chi2). All cells are exact
    * longs, so every ratio replays bit-for-bit in any engine.
    *
    * One per-stratum aggregate + a one-row rollup broadcast back —
    * strata are bounded by the caller's grouping, rows never move twice.
    */
  def mcnemarStratified(df: DataFrame, aCorrect: Column, bCorrect: Column,
                        strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "need at least one stratum column")
    val per = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(aCorrect && !bCorrect, 1L).otherwise(0L))
          .as("a_only_correct"),
        sum(when(!aCorrect && bCorrect, 1L).otherwise(0L))
          .as("b_only_correct"))
      .withColumn("chi2",
        when(col("a_only_correct") + col("b_only_correct") > 0,
          pow(col("a_only_correct") - col("b_only_correct"), 2) /
            (col("a_only_correct") + col("b_only_correct")).cast("double"))
          .otherwise(lit(0.0)))
      .localCheckpoint() // feeds both the rollup and the output rows
    val b = col("a_only_correct")
    val c = col("b_only_correct")
    val roll = per.agg(count(lit(1)).as("n_strata"),
        sum(when(b + c > 0, 1L).otherwise(0L)).as("n_informative"),
        sum(b).as("__tb"), sum(c).as("__tc"),
        // homogeneity numerator needs p̂ before it can aggregate, so the
        // stratum terms carry (B_s, n_s) moments: Σ(B_s − n_s p̂)²/(n_s p̂q̂)
        // = (ΣB²/n − 2p̂ΣB + p̂²Σn)/(p̂q̂) — three exact-long sums suffice
        sum(when(b + c > 0, b * b / (b + c).cast("double"))
          .otherwise(lit(0.0))).as("__sb2n"),
        sum(b + c).as("__tn"))
      .withColumn("cmh_chi2",
        when(col("__tb") + col("__tc") > 0,
          pow(col("__tb") - col("__tc"), 2) /
            (col("__tb") + col("__tc")).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("__p", col("__tb") / (col("__tb") + col("__tc"))
        .cast("double"))
      .withColumn("hom_chi2",
        when(col("__tn") > 0 && col("__p") > 0.0 && col("__p") < 1.0,
          (col("__sb2n") - lit(2.0) * col("__p") * col("__tb") +
            col("__p") * col("__p") * col("__tn")) /
            (col("__p") * (lit(1.0) - col("__p"))))
          .otherwise(lit(0.0)))
      .select("n_strata", "n_informative", "cmh_chi2", "hom_chi2")
    per.crossJoin(broadcast(roll))
      .select(strataCols.map(col) ++ Seq(col("n"), col("a_only_correct"),
        col("b_only_correct"), col("chi2"), col("n_strata"),
        col("n_informative"), col("cmh_chi2"), col("hom_chi2")): _*)
  }

  /** Treatment-uplift by score decile with the Qini statistic — the
    * evaluation grid for an uplift/targeting model: bucket units into
    * `numBuckets` equal-population score tiers, report per-tier treated
    * and control outcome rates, their difference (uplift), and the
    * cumulative Qini value from the highest tier down
    * (Σy_t − Σy_c·N_t/N_c over the targeted prefix) — the curve whose
    * area separates a real uplift model from a random targeting order.
    * Returns one row per bucket, highest scores first: (bucket, n_t,
    * n_c, mean_y_t, mean_y_c, uplift, qini); a prefix with no control
    * units reports null qini.
    *
    * Tiering is [[Splits.quantileBuckets]] (percentile broadcast,
    * scan-side assignment); the only window runs over the ≤ numBuckets
    * aggregate rows — bounded by construction, never data-scale.
    */
  def upliftDeciles(df: DataFrame, treated: Column, scoreCol: String,
                    outcomeCol: String, numBuckets: Int = 10): DataFrame = {
    val y = col(outcomeCol).cast("double")
    val per = Splits.quantileBuckets(df, scoreCol, numBuckets)
      .groupBy("bucket")
      .agg(sum(when(treated, 1L).otherwise(0L)).as("n_t"),
        sum(when(!treated, 1L).otherwise(0L)).as("n_c"),
        sum(when(treated, y).otherwise(0.0)).as("__sy_t"),
        sum(when(!treated, y).otherwise(0.0)).as("__sy_c"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("mean_y_t",
        when(col("n_t") > 0, col("__sy_t") / col("n_t")))
      .withColumn("mean_y_c",
        when(col("n_c") > 0, col("__sy_c") / col("n_c")))
      .withColumn("uplift", col("mean_y_t") - col("mean_y_c"))
      .withColumn("__ct", sum("n_t").over(w))
      .withColumn("__cc", sum("n_c").over(w))
      .withColumn("qini",
        when(col("__cc") > 0,
          sum("__sy_t").over(w) - sum("__sy_c").over(w) *
            col("__ct").cast("double") / col("__cc")))
      .select(col("bucket"), col("n_t"), col("n_c"), col("mean_y_t"),
        col("mean_y_c"), col("uplift"), col("qini"))
      .orderBy(col("bucket").desc)
  }

  /** Deterministic permutation test for a difference in means — the
    * assumption-free significance check when normality is doubtful:
    * re-assign every unit to a pseudo-random arm `k` times and ask how
    * often the null re-assignment beats the observed split. Permutations
    * are HASH-derived (md5 of id + salt, first-hex-digit parity — the
    * [[dpNoisyCounts]] replayability scheme), so the test is a pure
    * function of the data: partitioning/append-stable and replayable by
    * any SQL engine. p = (1 + #{|d_s| ≥ |d_obs|})/(k + 1) (the add-one
    * form — a permutation p-value of 0 is never reported). Returns ONE
    * row: (n, mean_t, mean_c, observed_diff, k, n_extreme, p_value).
    *
    * ONE aggregate scan computes the observed split AND all k
    * pseudo-arms as 2k conditional sums — no explode, no k-fold data
    * blow-up; everything after is row arithmetic on a single row.
    * Degenerate pseudo-arms (one side empty) yield a null diff and drop
    * from `n_extreme` — conservative. k is bounded (≤ 512 guarded): the
    * scan carries 2k codegen'd expressions.
    */
  def permutationTest(df: DataFrame, idCol: String, valueCol: String,
                      treated: Column, k: Int = 64,
                      salt: String = "r0"): DataFrame = {
    require(k >= 1 && k <= 512, s"k must be in [1, 512]: $k")
    val v = col(valueCol).cast("double")
    def parity(s: Int): Column = {
      val h = md5(concat_ws("\u0001", // separator, the dpNoisyCounts scheme
        col(idCol).cast("string"), lit(s"p$s$salt")))
      val a = ascii(substring(h, 1, 1))
      val digit = when(a >= 97, a - 87).otherwise(a - 48)
      digit % 2 === 1
    }
    val saltAggs = (0 until k).flatMap { s =>
      Seq(sum(when(parity(s), v).otherwise(0.0)).as(s"__ss$s"),
        sum(when(parity(s), 1L).otherwise(0L)).as(s"__ns$s"))
    }
    val aggs = Seq(count(lit(1)).as("n"),
      sum(v).as("__stot"),
      sum(when(treated, v).otherwise(0.0)).as("__st"),
      sum(when(treated, 1L).otherwise(0L)).as("__nt")) ++ saltAggs
    val base = df.agg(aggs.head, aggs.tail: _*)
      .withColumn("mean_t", col("__st") / col("__nt"))
      .withColumn("mean_c",
        (col("__stot") - col("__st")) / (col("n") - col("__nt")))
      .withColumn("observed_diff", col("mean_t") - col("mean_c"))
    val diffs = (0 until k).map { s =>
      when(col(s"__ns$s") > 0 && col(s"__ns$s") < col("n"),
        col(s"__ss$s") / col(s"__ns$s") -
          (col("__stot") - col(s"__ss$s")) / (col("n") - col(s"__ns$s")))
    }
    base
      .withColumn("k", lit(k))
      .withColumn("n_extreme",
        size(filter(array(diffs: _*),
          x => abs(x) >= abs(col("observed_diff")))).cast("long"))
      .withColumn("p_value",
        (lit(1.0) + col("n_extreme")) / (k + 1.0))
      .select(col("n"), col("mean_t"), col("mean_c"),
        col("observed_diff"), col("k"), col("n_extreme"), col("p_value"))
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns, plus Cramér's V effect size — the "is source correlated with
    * language / label / quality tier" screen run before stratifying on
    * either. Zero-observed cells of the margin cross-product contribute
    * their full expected count, as the statistic requires.
    *
    * The contingency table is one groupBy over the pair; margins are two
    * category-sized aggregates whose cross join (categories², not rows²)
    * left-joins the observed cells. Returns ONE row:
    * (n, dof, chi2, cramers_v).
    */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val base = df.select(col(aCol).cast("string").as("__a"),
      col(bCol).cast("string").as("__b"))
    val obs = base.groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    val ma = base.groupBy("__a").agg(count(lit(1)).as("__ra"))
    val mb = base.groupBy("__b").agg(count(lit(1)).as("__rb"))
    val tot = base.agg(count(lit(1)).cast("double").as("__n"))
    val cells = ma.crossJoin(broadcast(mb)).crossJoin(broadcast(tot))
      .join(obs, Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .withColumn("__e", col("__ra").cast("double") * col("__rb") / col("__n"))
      .withColumn("__term",
        (col("__o") - col("__e")) * (col("__o") - col("__e")) / col("__e"))
    cells.agg(
        max(col("__n")).cast("long").as("n"),
        ((countDistinct("__a") - 1) * (countDistinct("__b") - 1))
          .cast("long").as("dof"),
        sum("__term").as("chi2"),
        countDistinct("__a").as("__ka"), countDistinct("__b").as("__kb"))
      .withColumn("cramers_v",
        sqrt(col("chi2") / (col("n") *
          least(col("__ka") - 1, col("__kb") - 1))))
      .drop("__ka", "__kb")
  }

  /** Mann-Whitney U rank-sum test: does `valueCol` stochastically differ
    * between `groupA` and `groupB` rows of `groupCol`? The distribution-
    * free alternative to a t-test — the right tool when quality scores or
    * latencies are skewed. Returns ONE row: (n_a, n_b, u, z) with the
    * tie-corrected normal approximation (no continuity correction, so the
    * statistic replays exactly in SQL).
    *
    * Ranks are never materialized per row: the scan collapses to
    * per-DISTINCT-VALUE counts first (one shuffle), and average ranks come
    * from a running sum over that value-level aggregate. The running sum
    * is DISTRIBUTED ([[Ranks.running]] — range-partition + per-partition
    * offsets), so a continuous unique-valued column (distinct ≈ N) costs
    * one extra compact-key shuffle instead of a single-task sort of the
    * corpus; quantized bounded domains stay as cheap as before.
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(g === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(g === groupB, 1L).otherwise(0L)).as("__cb"))
      .withColumn("__t", col("__ca") + col("__cb"))
    val ranked = Ranks
      .running(per, Seq(col("__v")), sums = Seq("__t" -> "__cum"))
      .withColumn("__avg_rank",
        (col("__cum") - col("__t")) + (col("__t") + 1) / lit(2.0))
    ranked.agg(
        sum("__ca").as("n_a"), sum("__cb").as("n_b"),
        sum(col("__ca") * col("__avg_rank")).as("__rank_sum_a"),
        sum(col("__t").cast("double") * col("__t") * col("__t") -
          col("__t")).as("__tie3"))
      .withColumn("u",
        col("__rank_sum_a") - col("n_a") * (col("n_a") + 1) / lit(2.0))
      .withColumn("__nn", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("__sigma",
        sqrt(col("n_a") * col("n_b") / lit(12.0) *
          ((col("__nn") + 1) -
            col("__tie3") / (col("__nn") * (col("__nn") - 1)))))
      .withColumn("z",
        when(col("__sigma") > 0,
          (col("u") - col("n_a") * col("n_b") / lit(2.0)) / col("__sigma"))
          .otherwise(0.0))
      .select(col("n_a"), col("n_b"), col("u"), col("z"))
  }

  /** Poissonized-bootstrap confidence interval for a mean — the error bar
    * every corpus metric should carry. Each of `replicates` resamples
    * weights every row by a DETERMINISTIC pseudo-Poisson(1) draw
    * (thresholded `xxhash64(id, b)`-uniform, so runs replay exactly);
    * the replicate means' empirical [α/2, 1−α/2] percentiles are the CI.
    *
    * Shape for scale: the explode makes B copies of the (id, value)
    * PROJECTION — B·N compact rows through one (replicate)-keyed partial
    * aggregate, then a bounded B-row percentile. Linear in B·N; run on a
    * sample or pre-aggregated values when N is petabyte-scale. Returns
    * ONE row: (mean, ci_lo, ci_hi, replicates).
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
                      replicates: Int = 200,
                      alpha: Double = 0.05): DataFrame = {
    require(replicates >= 20, s"too few replicates: $replicates")
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    val u = (pmod(xxhash64(col(idCol), col("b")), lit(1000000L))
      .cast("double") + 0.5) / 1000000.0
    // Poisson(1) CDF thresholds: P(0)=e⁻¹, P(≤1)=2e⁻¹, P(≤2)=2.5e⁻¹…
    val e = math.exp(-1.0)
    val w = when(u < e, 0).when(u < 2 * e, 1).when(u < 2.5 * e, 2)
      .when(u < e * (2.5 + 1.0 / 6), 3).otherwise(4)
    val rep = df
      .select(col(idCol), col(valueCol).cast("double").as("__x"),
        explode(sequence(lit(0), lit(replicates - 1))).as("b"))
      .withColumn("__w", w)
      .groupBy("b")
      .agg((sum(col("__w") * col("__x")) / sum("__w")).as("__m"))
    val base = df.agg(avg(col(valueCol).cast("double")).as("mean"))
    rep.agg(
        percentile(col("__m"), lit(alpha / 2)).as("ci_lo"),
        percentile(col("__m"), lit(1 - alpha / 2)).as("ci_hi"),
        count(lit(1)).cast("int").as("replicates"))
      .crossJoin(broadcast(base))
      .select(col("mean"), col("ci_lo"), col("ci_hi"), col("replicates"))
  }

  /** [[bootstrapMeanCI]]'s oracle-anchored sibling: identical Poisson
    * bootstrap algebra, but the per-(row, replicate) uniform comes from
    * md5 HEX DIGITS (the [[dpCounts]] idiom) instead of xxhash64, so a
    * plain-SQL engine replays the entire resample — weights, replicate
    * means, and the interpolated percentile bounds — digit for digit.
    * Production callers keep the xxhash64 variant (cheaper); this one
    * exists so the gate can hash-prove the bootstrap machinery.
    */
  def bootstrapMeanCIExact(df: DataFrame, idCol: String, valueCol: String,
                           replicates: Int = 200,
                           alpha: Double = 0.05): DataFrame = {
    require(replicates >= 20, s"too few replicates: $replicates")
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0, 0.5): $alpha")
    val hexChars = 6
    val key = md5(concat_ws(":", col(idCol).cast("string"),
      col("b").cast("string")))
    def digit(i: Int): Column = {
      val a = ascii(substring(key, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("double")
    }
    val poly = (1 to hexChars)
      .map(i => digit(i) * math.pow(16.0, hexChars - i))
      .reduce(_ + _)
    val u = (poly + 0.5) / math.pow(16.0, hexChars)
    val e = math.exp(-1.0)
    val w = when(u < e, 0).when(u < 2 * e, 1).when(u < 2.5 * e, 2)
      .when(u < e * (2.5 + 1.0 / 6), 3).otherwise(4)
    val rep = df
      .select(col(idCol), col(valueCol).cast("double").as("__x"),
        explode(sequence(lit(0), lit(replicates - 1))).as("b"))
      .withColumn("__w", w)
      .groupBy("b")
      .agg((sum(col("__w") * col("__x")) / sum("__w")).as("__m"))
    val base = df.agg(avg(col(valueCol).cast("double")).as("mean"))
    rep.agg(
        percentile(col("__m"), lit(alpha / 2)).as("ci_lo"),
        percentile(col("__m"), lit(1 - alpha / 2)).as("ci_hi"),
        count(lit(1)).cast("int").as("replicates"))
      .crossJoin(broadcast(base))
      .select(col("mean"), col("ci_lo"), col("ci_hi"), col("replicates"))
  }

  /** Squared Mahalanobis distance over scalar feature columns — the
    * covariance-aware multivariate outlier score (a point 3σ out along a
    * tight axis scores high even when each marginal looks ordinary).
    * Adds `md2 = (x−μ)ᵀ Σ⁻¹ (x−μ)`; under multivariate normality md2 is
    * ~χ²(p), so thresholding at the χ² quantile gives the standard
    * audit cut.
    *
    * ONE moment-aggregate pass (means + population covariance matrix),
    * a driver-side p×p inversion (Gauss-Jordan with partial pivoting; p
    * is the feature count, a handful), then a scan-side quadratic form
    * with the inverse baked in as literals — rows are touched twice by
    * scans and never shuffled. Singular covariance fails loudly.
    */
  def mahalanobis(df: DataFrame, featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty)
    val p = featureCols.size
    val aggs: Seq[Column] =
      featureCols.map(c => avg(col(c).cast("double")).as(s"m_$c")) ++
        (for (a <- featureCols; b <- featureCols if a <= b)
          yield covar_pop(col(a).cast("double"), col(b).cast("double"))
            .as(s"c_${a}_$b"))
    val mom = df.agg(aggs.head, aggs.tail: _*).head()
    def g(name: String): Double = mom.getAs[Double](name)
    val cov = Array.tabulate(p, p) { (i, j) =>
      val (a, b) = if (featureCols(i) <= featureCols(j))
        (featureCols(i), featureCols(j)) else (featureCols(j), featureCols(i))
      g(s"c_${a}_$b")
    }
    // Gauss-Jordan inversion with partial pivoting on [Σ | I]
    val m = Array.tabulate(p)(i => cov(i) ++ Array.tabulate(p)(j =>
      if (i == j) 1.0 else 0.0))
    for (c <- 0 until p) {
      val piv = (c until p).maxBy(r => math.abs(m(r)(c)))
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      require(math.abs(m(c)(c)) > 1e-12, "singular covariance matrix")
      val d = m(c)(c)
      for (cc <- 0 until 2 * p) m(c)(cc) /= d
      for (r <- 0 until p if r != c) {
        val f = m(r)(c)
        for (cc <- 0 until 2 * p) m(r)(cc) -= f * m(c)(cc)
      }
    }
    val inv = Array.tabulate(p, p)((i, j) => m(i)(j + p))
    val centered = featureCols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") - lit(g(s"m_$c"))).as(s"__d$i")
    }
    val quad = (for (i <- 0 until p; j <- 0 until p)
      yield col(s"__d$i") * col(s"__d$j") * lit(inv(i)(j))).reduce(_ + _)
    df.select((df.columns.map(col) ++ centered): _*)
      .withColumn("md2", quad)
      .drop((0 until p).map(i => s"__d$i"): _*)
  }

  /** ROC-AUC from scores and binary labels — P(score⁺ > score⁻) + ½·ties,
    * computed as the Mann-Whitney U of the positive class over the
    * negative divided by n⁺·n⁻ (the rank-sum identity, so no curve is
    * ever materialized). Same value-domain contract as [[mannWhitney]]:
    * scores collapse per distinct value (quantize continuous scores).
    * Returns ONE row: (n_pos, n_neg, auc).
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    mannWhitney(df.withColumn("__lbl",
        (col(labelCol).cast("double") > 0).cast("string")),
      scoreCol, "__lbl", groupA = "true", groupB = "false")
      .select(col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        (col("u") / (col("n_a").cast("double") * col("n_b"))).as("auc"))

  /** Precision/recall curve over the score domain: one row per distinct
    * score threshold s — predicting positive where score ≥ s — with
    * cumulative TP/FP from a descending running sum, precision, recall
    * and F1. The classifier-threshold picker (choose the point, then
    * hard-code the cut in the curation filter). Running sums are
    * distributed ([[Ranks.running]]) so a continuous score column is a
    * shuffle, not a single-task sort — though the OUTPUT is one row per
    * distinct score, so quantizing first still keeps the curve readable.
    */
  def prCurve(df: DataFrame, scoreCol: String,
              labelCol: String): DataFrame = {
    val lbl = col(labelCol).cast("double") > 0
    val per = df.groupBy(col(scoreCol).cast("double").as("threshold"))
      .agg(sum(when(lbl, 1L).otherwise(0L)).as("__pos"),
        sum(when(lbl, 0L).otherwise(1L)).as("__neg"))
    Ranks.running(per, Seq(col("threshold").desc),
        sums = Seq("__pos" -> "tp", "__neg" -> "fp"))
      .crossJoin(broadcast(per.agg(sum("__pos").as("__p"))))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp") / col("__p"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .select("threshold", "tp", "fp", "precision", "recall", "f1")
  }

  /** Cost-sensitive threshold selection — [[prCurve]]'s decision step:
    * pick the score cut minimizing expected cost
    * costFp·FP + costFn·FN (a curation filter rarely prices both error
    * kinds equally: letting contamination through usually costs more
    * than over-dropping). Returns ONE row: (threshold, tp, fp, fn, tn,
    * cost, precision, recall, f1); cost ties resolve to the HIGHER
    * threshold (the more conservative filter).
    *
    * Same distributed shape as [[prCurve]] (per-distinct-score collapse
    * + one running pass), then TakeOrderedAndProject picks the argmin —
    * never a global sort of the score domain.
    */
  def bestThreshold(df: DataFrame, scoreCol: String, labelCol: String,
                    costFp: Double = 1.0, costFn: Double = 1.0)
  : DataFrame = {
    require(costFp > 0 && costFn > 0,
      s"costs must be positive: fp=$costFp fn=$costFn")
    val lbl = col(labelCol).cast("double") > 0
    val per = df.groupBy(col(scoreCol).cast("double").as("threshold"))
      .agg(sum(when(lbl, 1L).otherwise(0L)).as("__pos"),
        sum(when(lbl, 0L).otherwise(1L)).as("__neg"))
    Ranks.running(per, Seq(col("threshold").desc),
        sums = Seq("__pos" -> "tp", "__neg" -> "fp"))
      .crossJoin(broadcast(per.agg(sum("__pos").as("__p"),
        sum("__neg").as("__n"))))
      .withColumn("fn", col("__p") - col("tp"))
      .withColumn("tn", col("__n") - col("fp"))
      .withColumn("cost", lit(costFp) * col("fp") + lit(costFn) * col("fn"))
      .withColumn("precision", col("tp") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp") / col("__p"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .orderBy(col("cost"), col("threshold").desc)
      .limit(1)
      .select("threshold", "tp", "fp", "fn", "tn", "cost",
        "precision", "recall", "f1")
  }

  /** Differentially-private noisy group MEANS — [[dpNoisyCounts]]'s
    * companion for value columns: per group, release a clipped noisy sum
    * (sensitivity = hi − lo) and a noisy count (sensitivity 1), each
    * with half the ε budget, and report their ratio — the standard
    * clip-sum/count mechanism. The Laplace draws are DETERMINISTIC (the
    * dpNoisyCounts md5-digit scheme with distinct salts per release
    * part), trading the formal guarantee for replayability HERE; pass a
    * fresh `salt` per real release. Returns (groupCols..., n_true,
    * mean_true, n_noisy, sum_noisy, mean_noisy).
    *
    * One groupBy over the fact with clipping scan-side; noise is scalar
    * arithmetic per GROUP row.
    */
  def dpNoisyMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  lo: Double, hi: Double, epsilon: Double,
                  salt: String = "r0"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    require(hi > lo, s"need a non-degenerate clip range: [$lo, $hi]")
    val hexChars = 6
    def lap(tag: String, b: Double): Column = {
      val key = md5(concat_ws("\u0001", // groups must not collide on concat
        groupCols.map(c => col(c).cast("string")) :+ lit(s"$tag$salt"): _*))
      def digit(i: Int): Column = {
        val a = ascii(substring(key, i, 1))
        when(a >= 97, a - 87).otherwise(a - 48).cast("double")
      }
      val poly = (1 to hexChars)
        .map(i => digit(i) * math.pow(16.0, hexChars - i))
        .reduce(_ + _)
      val u = (poly + 0.5) / math.pow(16.0, hexChars) - 0.5
      -lit(b) * signum(u) * log(lit(1.0) - abs(u) * 2.0)
    }
    val clipped = least(lit(hi), greatest(lit(lo),
      col(valueCol).cast("double")))
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"), sum(clipped).as("__sum_true"))
      .withColumn("mean_true", col("__sum_true") / col("n_true"))
      .withColumn("n_noisy",
        col("n_true") + lap("c", 1.0 / (epsilon / 2.0)))
      .withColumn("sum_noisy",
        col("__sum_true") + lap("s", (hi - lo) / (epsilon / 2.0)))
      .withColumn("mean_noisy", col("sum_noisy") / col("n_noisy"))
      .select(groupCols.map(col) ++ Seq(col("n_true"), col("mean_true"),
        col("n_noisy"), col("sum_noisy"), col("mean_noisy")): _*)
  }

  /** Spearman rank correlation: Pearson correlation of the two columns'
    * tied-average ranks — the monotone-association measure that survives
    * outliers and nonlinearity (does quality score rise with document
    * length AT ALL, not just linearly). Returns ONE row: (n, rho).
    *
    * Ranks come from the SAME value-domain collapse as [[mannWhitney]]:
    * per-distinct-value counts, a DISTRIBUTED running sum over the value
    * domain ([[Ranks.running]] — no single-task sort even when distinct
    * ≈ N), then each row joins its value's average rank — two
    * domain-keyed joins.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def ranks(c: String): DataFrame = {
      val per = df.groupBy(col(c).cast("double").as("__v"))
        .agg(count(lit(1)).as("__t"))
      Ranks.running(per, Seq(col("__v")), sums = Seq("__t" -> "__cum"))
        .select(col("__v"),
          ((col("__cum") - col("__t")) + (col("__t") + 1) / lit(2.0))
            .as(s"__rank_$c"))
    }
    df.select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .join(ranks(xCol).withColumnRenamed("__v", "__x"), Seq("__x"))
      .join(ranks(yCol).withColumnRenamed("__v", "__y"), Seq("__y"))
      .agg(count(lit(1)).as("n"),
        corr(col(s"__rank_$xCol"), col(s"__rank_$yCol")).as("rho"))
  }

  /** Kaplan-Meier survival curve with right-censoring — time-to-event
    * analysis for retention/churn: at each distinct duration with ≥ 1
    * event, survival multiplies by (1 − deaths/at-risk); censored
    * subjects leave the risk set without an event. Input: one row per
    * subject with its observed `durationCol` (a bounded grain — days,
    * weeks) and `eventCol` 1 = event observed, 0 = censored. Returns one
    * row per event time: (t, n_at_risk, n_events, n_censored, survival).
    *
    * Subjects collapse to per-duration (events, censored) counts first;
    * the risk set and the product both come from DISTRIBUTED running
    * sums over the duration domain ([[Ranks.running]] — per-row-unique
    * durations shuffle instead of single-task sorting), the product
    * as exp(Σ ln(1 − d/n)). A zero factor (everyone at risk dies) pins
    * survival to exactly 0 from that time on via an explicit running
    * flag — Spark's `log` yields NULL (not −∞) at 0 and window sums
    * skip NULLs, so the naive formulation would silently resurrect the
    * curve.
    */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val per = df.groupBy(col(durationCol).cast("double").as("t"))
      .agg(sum(col(eventCol).cast("long")).as("n_events"),
        sum(lit(1L) - col(eventCol).cast("long")).as("n_censored"))
      .withColumn("__tt", col("n_events") + col("n_censored"))
    // two distributed running passes ([[Ranks.running]]): the risk set
    // needs the cumulative departures FIRST, and the zero-pin flag and
    // log-product both read n_at_risk — so they ride a second pass
    val atRisk = Ranks
      .running(per, Seq(col("t")), sums = Seq("__tt" -> "__gone"))
      .crossJoin(broadcast(per.agg(sum("__tt").as("__total"))))
      .withColumn("n_at_risk", col("__total") - col("__gone") + col("__tt"))
      .withColumn("__zin",
        when(col("n_events") >= col("n_at_risk"), 1L).otherwise(0L))
      .withColumn("__lg",
        when(col("n_events") > 0 && col("n_events") < col("n_at_risk"),
          log(lit(1.0) - col("n_events") / col("n_at_risk")))
          .otherwise(0.0))
    Ranks.running(atRisk, Seq(col("t")),
        sums = Seq("__zin" -> "__hit_zero", "__lg" -> "__cumlog"))
      .withColumn("survival",
        when(col("__hit_zero") > 0, lit(0.0)).otherwise(exp(col("__cumlog"))))
      .where(col("n_events") > 0)
      .select(col("t"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("survival"))
  }

  /** k-anonymity audit over a set of quasi-identifier columns: how many
    * equivalence classes (distinct quasi-identifier combinations) fall
    * below size `k`, and what share of rows they carry — the release gate
    * run before publishing any row-level extract. Returns ONE row:
    * (n_rows, n_classes, min_class_size, classes_below_k, rows_below_k,
    * at_risk_share).
    *
    * One groupBy over the quasi-identifier tuple, then a scalar rollup of
    * the class-size table — the second aggregate runs over classes, not
    * rows, so nothing row-scale moves twice.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be at least 2: $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"))
      .agg(
        sum("__sz").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("__sz").as("min_class_size"),
        sum(when(col("__sz") < k, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("__sz") < k, col("__sz")).otherwise(0L))
          .as("rows_below_k"))
      .withColumn("at_risk_share",
        col("rows_below_k") / col("n_rows").cast("double"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — [[kAnonymity]]'s
    * necessary companion: a class can be large (k-anonymous) yet carry
    * ONE sensitive value, so membership alone discloses it (the
    * homogeneity attack). Per equivalence class over `quasiCols`, count
    * DISTINCT `sensitiveCol` values; report the corpus rollup. Returns
    * ONE row: (n_rows, n_classes, min_diversity, classes_below_l,
    * rows_below_l, at_risk_share).
    *
    * One (quasi, sensitive)-keyed aggregate collapses rows, a class-keyed
    * aggregate counts values, a scalar rollup finishes — nothing
    * row-scale moves twice.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l must be at least 2: $l")
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum("__n").as("__sz"), count(lit(1)).as("__div"))
      .agg(
        sum("__sz").as("n_rows"),
        count(lit(1)).as("n_classes"),
        min("__div").as("min_diversity"),
        sum(when(col("__div") < l, 1L).otherwise(0L)).as("classes_below_l"),
        sum(when(col("__div") < l, col("__sz")).otherwise(0L))
          .as("rows_below_l"))
      .withColumn("at_risk_share",
        col("rows_below_l") / col("n_rows").cast("double"))
  }

  /** t-closeness audit (Li et al. 2007) — the third of the disclosure
    * trio: diversity can be high yet SKEWED (99 % of a class shares one
    * sensitive value), so per class this measures the distance between
    * the class's sensitive-value distribution and the corpus-wide one.
    * For categorical sensitive attributes the distance is total
    * variation, t = ½·Σ|p_class − p_global| (the standard categorical
    * ground distance). Returns one row per equivalence class:
    * (quasiCols…, n, t) — filter `t > threshold` for the violating
    * classes, or aggregate max(t) for the release gate.
    *
    * Shape: one (quasi, sensitive) aggregate; global shares are a
    * |domain(sensitive)|-row broadcast; the per-class Σ is class-keyed.
    * The |ΔP| sum must include sensitive values ABSENT from a class
    * (they contribute p_global each) — handled in closed form: over the
    * present values Σ|p_c − p_g| plus (1 − Σ_present p_g) for the absent
    * mass, never a class × domain cross join.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    // null IS a sensitive value (lDiversity counts it as one) — coalesce
    // to a sentinel BEFORE the join key, or the inner equi-join would
    // silently drop every null-sv cell and the trio would disagree on
    // the same frame
    val sv = coalesce(col(sensitiveCol).cast("string"), lit("\u0000NULL"))
    val cells = df.groupBy((quasiCols.map(col) :+ sv.as("__sv")): _*)
      .agg(count(lit(1)).as("__n"))
    val tot = cells.agg(sum("__n").as("__tot"))
    val glob = cells.groupBy(col("__sv"))
      .agg(sum("__n").as("__gn"))
      .crossJoin(broadcast(tot))
      .select(col("__sv"), (col("__gn") / col("__tot")).as("__pg"))
    val w = Window.partitionBy(quasiCols.map(col): _*)
    cells
      // glob is |domain(sensitive)|-row — unbounded for a continuous
      // sensitive column, so no hint; AQE broadcasts when small
      .join(glob, Seq("__sv"))
      .withColumn("__sz", sum("__n").over(w))
      .withColumn("__pc", col("__n") / col("__sz"))
      .groupBy(quasiCols.map(col): _*)
      .agg(max("__sz").cast("long").as("n"),
        ((sum(abs(col("__pc") - col("__pg"))) +
          (lit(1.0) - sum("__pg"))) / 2).as("t"))
  }

  /** Split-conformal prediction interval (Vovk et al.; Lei et al. 2018):
    * from a CALIBRATION slice's absolute residuals |y − ŷ|, the
    * order-statistic quantile q̂ at rank k = ⌈(n+1)(1−α)⌉ gives the
    * distribution-free guarantee P(|y − ŷ| ≤ q̂) ≥ 1−α on exchangeable
    * data — the uncertainty band to attach to ANY regression scorer
    * before its predictions gate a pipeline. The eval slice reports
    * observed coverage (the honesty check).
    *
    * The k-th order statistic comes from the rank family's value-domain
    * shape — residuals quantize to `roundTo` decimals, per-value counts,
    * a running sum over the bounded domain, first value reaching k — so
    * there is no row-scale sort and no TakeOrdered of O(N) rows; k and n
    * ride as broadcast scalars. Returns ONE row:
    * (n_calib, k, q_hat, n_eval, coverage).
    */
  def conformalInterval(df: DataFrame, predCol: String, labelCol: String,
                        calibFlag: Column, alpha: Double,
                        roundTo: Int = 6): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1): $alpha")
    val res = round(abs(col(labelCol).cast("double") -
      col(predCol).cast("double")), roundTo)
    // null-safe flag: a null calibFlag row would fail BOTH `__calib` and
    // `!__calib` and silently vanish from the two slices (n_calib + n_eval
    // would stop reconciling to the input count) — null means eval
    // NOT pinned: base is the row-scale input — a localCheckpoint here
    // would hold the whole corpus in executor storage; the calib and
    // eval branches each rescan instead (two scans beat a pinned corpus)
    val base = df.withColumn("__res", res)
      .withColumn("__calib", coalesce(calibFlag, lit(false)))
    val per = base.where(col("__calib"))
      .groupBy(col("__res")).agg(count(lit(1)).as("__t"))
    val tot = per.agg(sum("__t").as("__n"))
      .withColumn("__k",
        least(ceil((col("__n") + 1) * lit(1.0 - alpha)), col("__n"))
          .cast("long"))
    val qhat = Ranks
      .running(per, Seq(col("__res")), sums = Seq("__t" -> "__cum"))
      .crossJoin(broadcast(tot))
      .where(col("__cum") >= col("__k"))
      .agg(max("__n").as("n_calib"), max("__k").as("k"),
        min("__res").as("q_hat"))
    base.where(!col("__calib"))
      .crossJoin(broadcast(qhat))
      .agg(max("n_calib").as("n_calib"), max("k").as("k"),
        max("q_hat").as("q_hat"), count(lit(1)).as("n_eval"),
        avg((col("__res") <= col("q_hat")).cast("double")).as("coverage"))
  }

  /** Murphy decomposition of the Brier score over reliability bins:
    * Brier = reliability − resolution + uncertainty, with
    * REL = Σ nₖ(conf̄ₖ − acc̄ₖ)²/N (calibration error, want 0),
    * RES = Σ nₖ(acc̄ₖ − ȳ)²/N (discrimination, want large),
    * UNC = ȳ(1 − ȳ) (the data's irreducible noise). The identity is
    * exact only when forecasts are constant within a bin, so the
    * within-bin score variance it omits is reported as
    * `decomposition_gap` (= brier − rel + res − unc) instead of being
    * silently absorbed. Same binning as [[calibrationBins]]; one binned
    * aggregate plus scalar algebra. Returns ONE row.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins: $bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("double")
    val bin = least(floor(s * bins).cast("int"), lit(bins - 1))
    val per = df
      .select(bin.as("__bin"), s.as("__s"), y.as("__y"))
      .groupBy("__bin")
      .agg(count(lit(1)).as("__n"), avg("__s").as("__conf"),
        avg("__y").as("__acc"),
        sum((col("__s") - col("__y")) * (col("__s") - col("__y")))
          .as("__se"))
    per
      .agg(sum("__n").as("n"),
        (sum(col("__se")) / sum("__n")).as("brier"),
        (sum(col("__n") * (col("__conf") - col("__acc")) *
          (col("__conf") - col("__acc"))) / sum("__n")).as("reliability"),
        (sum(col("__n") * col("__acc")) / sum("__n")).as("__ybar"),
        sum(col("__n") * col("__acc") * col("__acc")).as("__nacc2"))
      .withColumn("resolution",
        col("__nacc2") / col("n") - col("__ybar") * col("__ybar"))
      .withColumn("uncertainty", col("__ybar") * (lit(1.0) - col("__ybar")))
      .withColumn("decomposition_gap",
        col("brier") - col("reliability") + col("resolution") -
          col("uncertainty"))
      .select("n", "brier", "reliability", "resolution", "uncertainty",
        "decomposition_gap")
  }

  /** Per-group cumulative counts over a quantized value domain, computed
    * with the distributed-rank pattern (same shape as
    * `Splits.expandingTimeFolds`): range-partition the per-(group, value)
    * count table on (group, value), take per-(partition, group) partial
    * sums (≤ one row per partition a group touches — tiny), turn those
    * into per-group running offsets with a window whose partitions are
    * bounded by the partition count, join back, and add a
    * within-partition running sum. No window ever holds a whole group's
    * value domain, so a truly CONTINUOUS value column (distinct ≈ N) with
    * a handful of groups still spreads across all range partitions
    * instead of funnelling each group through one task.
    *
    * Input must be (groupCol, __v, __c); output is
    * (groupCol, __v, __c, __cum, __n) where __cum is the inclusive
    * running count in __v order within the group and __n the group total.
    * Shared with [[Analytics.quantileNormalize]]'s per-group ECDF.
    */
  private[operators] def groupedCumCounts(per: DataFrame,
                                          groupCol: String,
                                          pinnedCount: Option[Long] = None)
      : DataFrame = {
    // Size routing (measured, not guessed — the quantileBuckets rule):
    // the distributed-rank machinery below exists so a CONTINUOUS value
    // domain never funnels one group through one task, but it costs a
    // range-partitioner sample pass, a pin, an offsets window and a pid
    // join — ~6 jobs. When the whole quantized (group, value) domain is
    // provably small, one plain group-keyed window computes the same
    // exact running counts in a single exchange; both routes emit
    // identical integers, so routing never changes results.
    // `pinnedCount`: a caller that already pinned `per` (or a projection
    // of its pin) and counted it passes the count through — otherwise
    // this call would pin the same data a second time and re-run the
    // probe job (the quantileBuckets double-pin).
    val pinned = pinnedCount.fold(per.localCheckpoint(eager = true))(_ => per)
    if (pinnedCount.getOrElse(pinned.count()) <= 65536) {
      val wg = Window.partitionBy(groupCol)
      return pinned
        .withColumn("__cum", sum("__c").over(wg.orderBy("__v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__n", sum("__c").over(wg.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col(groupCol), col("__v"), col("__c"), col("__cum"),
          col("__n"))
    }
    // pinned: both sides below must read ONE physical range partitioning
    // — exchange/stage reuse is not reliable for that under a busy AQE
    // session (independent exchanges sample boundaries with different
    // seeds; measured as silent row loss through the pid join)
    val ranged = pinned.repartitionByRange(col(groupCol), col("__v"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val wOff = Window.partitionBy(groupCol).orderBy("__pid")
    val offsets = ranged.groupBy(col("__pid"), col(groupCol))
      .agg(sum("__c").as("__pc"))
      .withColumn("__off", coalesce(sum("__pc").over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum("__pc").over(
        wOff.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("__pid").as("__opid"), col(groupCol).as("__og"),
        col("__off"), col("__n"))
    val wIn = Window.partitionBy(col("__pid"), col(groupCol)).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-SAFE group match: a null group key is a real group to the
    // window partitioner, and a plain equi-join would silently drop it
    ranged.join(offsets,
        col("__pid") === col("__opid") && col(groupCol) <=> col("__og"))
      .withColumn("__cum", col("__off") + sum("__c").over(wIn))
      .select(col(groupCol), col("__v"), col("__c"), col("__cum"),
        col("__n"))
  }

  /** Per-group robust outlier flags via MAD (median absolute deviation):
    * robust_z = (x − median) / (1.4826·MAD), flagged when |robust_z| > k
    * — the outlier screen that, unlike mean/stddev z-scores, cannot be
    * dragged by the outliers it is hunting (breakdown point 50%). The
    * 1.4826 factor makes MAD consistent for the normal σ.
    *
    * Both medians are LOWER medians over the `roundTo`-quantized value
    * domain (smallest value whose cumulative count reaches ⌈n/2⌉),
    * computed rank-family style: per-(group, value) counts, a
    * DISTRIBUTED running sum over the value domain
    * ([[groupedCumCounts]] — range-partitioned, so a continuous value
    * column never funnels a group through one task), first value
    * reaching the rank — no per-group row sort and no object-hash
    * percentile buffer, and the convention replays exactly in SQL. Two
    * group-keyed broadcast-or-shuffle joins hang the scalars back on the
    * rows.
    * Returns every input row + (med, mad, robust_z, is_outlier);
    * zero-MAD groups (over half the values identical) flag any
    * deviation from the median.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.5, roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def lowerMedian(d: DataFrame, vCol: Column, out: String): DataFrame = {
      val per = d.groupBy(col(groupCol), round(vCol, roundTo).as("__v"))
        .agg(count(lit(1)).as("__c"))
      groupedCumCounts(per, groupCol)
        .where(col("__cum") * 2 >= col("__n"))
        .groupBy(groupCol).agg(min("__v").as(out))
    }
    val base = df.localCheckpoint() // med pass + residual pass + output
    val med = lowerMedian(base, col(valueCol).cast("double"), "med")
    val withMed = base.join(med, groupCol)
    val mad = lowerMedian(withMed,
      abs(col(valueCol).cast("double") - col("med")), "mad")
    withMed.join(mad, groupCol)
      .withColumn("robust_z",
        when(col("mad") > 0,
          (col(valueCol).cast("double") - col("med")) /
            (lit(1.4826) * col("mad"))))
      .withColumn("is_outlier",
        when(col("mad") > 0, abs(col("robust_z")) > k)
          .otherwise(round(abs(col(valueCol).cast("double") - col("med")),
            roundTo) > 0))
  }

  /** Per-group winsorization: clamp values to the [loPct, hiPct]
    * percentile cut points — the tail-taming transform that keeps every
    * row (unlike trimming) while bounding the influence any single
    * value can exert on downstream means/regressions. Cut points use
    * the LOWER-value-at-rank convention (smallest quantized value whose
    * cumulative count reaches ⌈p·n⌉, the same rank-family shape as
    * [[madOutliers]]), computed via the distributed running sum of
    * [[groupedCumCounts]] — no per-group sort, no single-task funnel on a
    * continuous value domain — then joined back and clamped with
    * least/greatest. Returns every input row + (lo_cut, hi_cut,
    * winsorized).
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                loPct: Double, hiPct: Double,
                roundTo: Int = 6): DataFrame = {
    require(loPct >= 0 && hiPct <= 1 && loPct < hiPct,
      s"need 0 <= loPct < hiPct <= 1: $loPct/$hiPct")
    val per = df
      .groupBy(col(groupCol),
        round(col(valueCol).cast("double"), roundTo).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cuts = groupedCumCounts(per, groupCol)
      .groupBy(groupCol)
      .agg(
        min(when(col("__cum") >= greatest(ceil(lit(loPct) * col("__n")),
          lit(1L)), col("__v"))).as("lo_cut"),
        min(when(col("__cum") >= greatest(ceil(lit(hiPct) * col("__n")),
          lit(1L)), col("__v"))).as("hi_cut"))
    df.join(cuts, groupCol)
      .withColumn("winsorized",
        least(greatest(round(col(valueCol).cast("double"), roundTo),
          col("lo_cut")), col("hi_cut")))
  }

  /** Binned mutual information between two numeric columns: equi-width
    * bins over each column's observed [min, max], joint histogram, then
    * MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) with the normalized variant
    * NMI = MI/√(H(x)·H(y)) — the dependence screen that, unlike Pearson
    * or Spearman, sees NON-MONOTONE structure (a parabola scores ~0 on
    * both correlations but high MI). Complements the categorical
    * [[Quality.columnDependencies]].
    *
    * Shape: one scalar min/max aggregate broadcast to the scan, one
    * (bx, by)-keyed aggregate over the ≤ xBins·yBins grid, marginals as
    * grid-local window sums — row-scale work is a single scan + one
    * bounded-key shuffle. Returns ONE row
    * (n, mi, h_x, h_y, nmi); a constant column collapses to one bin and
    * scores mi = 0, nmi null.
    */
  def binnedMI(df: DataFrame, xCol: String, yCol: String,
               xBins: Int = 16, yBins: Int = 16): DataFrame = {
    require(xBins >= 2 && yBins >= 2, "need at least 2 bins per side")
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val ranges = df.agg(min(x).as("__xlo"), max(x).as("__xhi"),
      min(y).as("__ylo"), max(y).as("__yhi"))
    def binned(c: Column, lo: Column, hi: Column, k: Int): Column =
      when(hi > lo,
        least(floor((c - lo) / ((hi - lo) / k)).cast("int"), lit(k - 1)))
        .otherwise(0)
    val joint = df.crossJoin(broadcast(ranges))
      .groupBy(
        binned(x, col("__xlo"), col("__xhi"), xBins).as("__bx"),
        binned(y, col("__ylo"), col("__yhi"), yBins).as("__by"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // marginals + total + MI all read it
    val mx = joint.groupBy("__bx").agg(sum("__c").as("__cx"))
    val my = joint.groupBy("__by").agg(sum("__c").as("__cy"))
    val tot = joint.agg(sum("__c").as("__n"))
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame = m
      .crossJoin(broadcast(tot))
      .agg(sum((col(cnt) / col("__n")) *
        -log(col(cnt).cast("double") / col("__n"))).as(out))
    val mi = joint
      .join(broadcast(mx), "__bx").join(broadcast(my), "__by")
      .crossJoin(broadcast(tot))
      .agg(max("__n").as("n"),
        // counts cast to double BEFORE multiplying: c·n in long overflows
        // once n is in the trillions (100 TB row counts)
        sum((col("__c") / col("__n")) *
          log((col("__c").cast("double") * col("__n").cast("double")) /
            (col("__cx").cast("double") * col("__cy").cast("double"))))
          .as("mi"))
    mi.crossJoin(broadcast(entropy(mx, "__cx", "h_x")))
      .crossJoin(broadcast(entropy(my, "__cy", "h_y")))
      .withColumn("nmi", when(col("h_x") > 0 && col("h_y") > 0,
        col("mi") / sqrt(col("h_x") * col("h_y"))))
      .select("n", "mi", "h_x", "h_y", "nmi")
  }

  /** Welch's unequal-variance t-test plus Cohen's d effect size between
    * two groups — the parametric sibling of [[mannWhitney]] (use this
    * when means are the question and outliers are already handled;
    * Welch's correction means the two groups' sizes and variances may
    * differ freely). One grouped aggregate over the fact (count, mean,
    * sample variance per side) and pure scalar arithmetic after:
    *
    *   t  = (m₁ − m₂) / √(s₁²/n₁ + s₂²/n₂)
    *   df = (s₁²/n₁ + s₂²/n₂)² / [ (s₁²/n₁)²/(n₁−1) + (s₂²/n₂)²/(n₂−1) ]
    *   d  = (m₁ − m₂) / s_pooled
    *
    * Returns ONE row: (n_a, n_b, mean_a, mean_b, t, df_welch, cohen_d).
    */
  def welchT(df: DataFrame, valueCol: String, groupCol: String,
             groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val v = col(valueCol).cast("double")
    def side(grp: String, tag: String) = Seq(
      sum(when(g === grp, 1L).otherwise(0L)).as(s"n_$tag"),
      avg(when(g === grp, v)).as(s"mean_$tag"),
      var_samp(when(g === grp, v)).as(s"var_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    df.where(g.isin(groupA, groupB))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__sa", col("var_a") / col("n_a"))
      .withColumn("__sb", col("var_b") / col("n_b"))
      .withColumn("t",
        (col("mean_a") - col("mean_b")) / sqrt(col("__sa") + col("__sb")))
      .withColumn("df_welch",
        pow(col("__sa") + col("__sb"), 2) /
          (pow(col("__sa"), 2) / (col("n_a") - 1) +
            pow(col("__sb"), 2) / (col("n_b") - 1)))
      .withColumn("cohen_d",
        (col("mean_a") - col("mean_b")) /
          sqrt(((col("n_a") - 1) * col("var_a") +
            (col("n_b") - 1) * col("var_b")) /
            (col("n_a") + col("n_b") - 2)))
      .select("n_a", "n_b", "mean_a", "mean_b", "t", "df_welch", "cohen_d")
  }

  /** Delta-method inference for a RATIO metric (revenue per session,
    * clicks per impression) when the randomization unit is the
    * DENOMINATOR'S owner: per unit, y = numerator sum and x = denominator
    * sum; the arm's metric is R = Σy/Σx = ȳ/x̄, and a naive
    * per-observation z-test is wrong because observations within a unit
    * correlate. The delta method gives
    * var(R) ≈ (σ_y² − 2Rσ_xy + R²σ_x²)/(n·x̄²) from per-unit population
    * moments (Deng et al., KDD 2018's applied form). Returns ONE row:
    * (n_a, n_b, ratio_a, ratio_b, diff, se, z) — se = √(var_A + var_B);
    * an arm with a zero denominator reports nulls rather than ±∞.
    *
    * ONE conditional-moment aggregate scan (the welchT/cuped shape);
    * everything after is scalar arithmetic on one row.
    */
  def ratioMetricDelta(df: DataFrame, armACol: Column, yCol: String,
                       xCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    def side(arm: Column, tag: String) = Seq(
      sum(when(arm, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(arm, y).otherwise(0.0)).as(s"__sy_$tag"),
      sum(when(arm, x).otherwise(0.0)).as(s"__sx_$tag"),
      sum(when(arm, y * y).otherwise(0.0)).as(s"__syy_$tag"),
      sum(when(arm, x * x).otherwise(0.0)).as(s"__sxx_$tag"),
      sum(when(arm, x * y).otherwise(0.0)).as(s"__sxy_$tag"))
    val aggs = side(armACol, "a") ++ side(!armACol, "b")
    val base = df.agg(aggs.head, aggs.tail: _*)
    def derive(d: DataFrame, tag: String): DataFrame = {
      val n = col(s"n_$tag").cast("double")
      val mx = col(s"__sx_$tag") / n
      val my = col(s"__sy_$tag") / n
      val r = col(s"ratio_$tag")
      d.withColumn(s"ratio_$tag",
          when(col(s"__sx_$tag") =!= 0.0,
            col(s"__sy_$tag") / col(s"__sx_$tag")))
        .withColumn(s"__var_$tag",
          when(col(s"n_$tag") > 0 && col(s"__sx_$tag") =!= 0.0,
            ((col(s"__syy_$tag") / n - my * my) -
              lit(2.0) * r * (col(s"__sxy_$tag") / n - mx * my) +
              r * r * (col(s"__sxx_$tag") / n - mx * mx)) /
              (n * mx * mx)))
    }
    derive(derive(base, "a"), "b")
      .withColumn("diff", col("ratio_a") - col("ratio_b"))
      .withColumn("se", sqrt(col("__var_a") + col("__var_b")))
      .withColumn("z",
        when(col("se") > 0.0, col("diff") / col("se")))
      .select("n_a", "n_b", "ratio_a", "ratio_b", "diff", "se", "z")
  }

  /** MDE / runtime planning curve — "how long must this experiment run":
    * from the observed per-unit metric variance and the unit accrual
    * rate (distinct units per distinct `binCol` period in the input),
    * the minimum detectable effect of a two-arm test after h periods of
    * 50/50 traffic is MDE(h) = (z_{α/2} + z_β)·√(2σ²/(rate·h/2)).
    * Returns one row per horizon: (horizon, n_per_arm, mean, sd,
    * mde_abs, mde_rel) — the sizing table an experimenter reads before
    * launching, from the SAME table the experiment will measure.
    * z quantiles are caller-supplied literals (defaults: two-sided
    * α = 0.05 → 1.959964, power 0.8 → 0.841621) so the curve is
    * deterministic — no normal-inverse evaluation in either engine.
    *
    * ONE moment scan (count, mean, population variance, distinct
    * periods) broadcast onto a horizons literal frame — the input is
    * never scanned per horizon.
    */
  def mdeCurve(df: DataFrame, binCol: Column, yCol: String,
               horizons: Seq[Int],
               zAlpha: Double = 1.959964,
               zPower: Double = 0.841621): DataFrame = {
    require(horizons.nonEmpty && horizons.forall(_ >= 1),
      s"horizons must be positive periods: $horizons")
    require(zAlpha > 0 && zPower >= 0, s"bad z quantiles: $zAlpha $zPower")
    val y = col(yCol).cast("double")
    val m = df.agg(count(lit(1)).as("__n"),
      sum(y).as("__sy"), sum(y * y).as("__syy"),
      countDistinct(binCol).as("__periods"))
    val spark = df.sparkSession
    import spark.implicits._
    val hs = horizons.toDF("horizon")
    hs.crossJoin(broadcast(m))
      .withColumn("__mean", col("__sy") / col("__n"))
      .withColumn("__var",
        col("__syy") / col("__n") - col("__mean") * col("__mean"))
      .withColumn("__rate",
        col("__n").cast("double") / col("__periods"))
      .withColumn("n_per_arm", col("__rate") * col("horizon") / 2.0)
      .withColumn("mean", col("__mean"))
      .withColumn("sd", sqrt(col("__var")))
      .withColumn("mde_abs",
        when(col("n_per_arm") > 0.0,
          lit(zAlpha + zPower) *
            sqrt(lit(2.0) * col("__var") / col("n_per_arm"))))
      .withColumn("mde_rel",
        when(col("__mean") =!= 0.0, col("mde_abs") / col("__mean")))
      .select(col("horizon"), col("n_per_arm"), col("mean"), col("sd"),
        col("mde_abs"), col("mde_rel"))
      .orderBy("horizon")
  }

  /** Inverse-propensity-weighted treatment effect (Hájek-normalized) —
    * [[propensityMatch]]'s estimator sibling: where matching PAIRS
    * comparable units and discards the unmatched, IPW keeps every unit
    * and reweights by 1/e(x) (treated) and 1/(1−e(x)) (control), so the
    * weighted arms both resemble the full population. Scores clip into
    * [clip, 1−clip] first (textual-literal bounds) — the standard
    * positivity guard, because a unit with e→0 otherwise dominates the
    * whole estimate. Returns ONE row: (n_t, n_c, ess_t, ess_c,
    * mean_t_ipw, mean_c_ipw, ate_ipw, ate_naive) — ESS = (Σw)²/Σw², the
    * "how many units is this weighted sample really worth" diagnostic
    * that tells you when the weights have collapsed onto a few units
    * and the clip (or the score model) needs revisiting.
    *
    * ONE conditional-weighted-moment scan; scalar arithmetic after —
    * the welchT/cuped shape.
    */
  def ipwEstimate(df: DataFrame, treated: Column, yCol: String,
                  scoreCol: String, clip: Double = 0.01): DataFrame = {
    require(clip > 0 && clip < 0.5, s"clip must be in (0, 0.5): $clip")
    val y = col(yCol).cast("double")
    // the upper bound is 1.0 − clip computed IN the engine (not a Scala
    // pre-fold): the SQL oracle writes the same subtraction, so both
    // engines clip with the identical double
    val e = least(lit(1.0) - lit(clip), greatest(lit(clip),
      col(scoreCol).cast("double")))
    val wT = lit(1.0) / e
    val wC = lit(1.0) / (lit(1.0) - e)
    df.agg(
        sum(when(treated, 1L).otherwise(0L)).as("n_t"),
        sum(when(!treated, 1L).otherwise(0L)).as("n_c"),
        sum(when(treated, wT).otherwise(0.0)).as("__swt"),
        sum(when(!treated, wC).otherwise(0.0)).as("__swc"),
        sum(when(treated, wT * wT).otherwise(0.0)).as("__swt2"),
        sum(when(!treated, wC * wC).otherwise(0.0)).as("__swc2"),
        sum(when(treated, wT * y).otherwise(0.0)).as("__swyt"),
        sum(when(!treated, wC * y).otherwise(0.0)).as("__swyc"),
        sum(when(treated, y).otherwise(0.0)).as("__syt"),
        sum(when(!treated, y).otherwise(0.0)).as("__syc"))
      .withColumn("ess_t", col("__swt") * col("__swt") / col("__swt2"))
      .withColumn("ess_c", col("__swc") * col("__swc") / col("__swc2"))
      .withColumn("mean_t_ipw", col("__swyt") / col("__swt"))
      .withColumn("mean_c_ipw", col("__swyc") / col("__swc"))
      .withColumn("ate_ipw", col("mean_t_ipw") - col("mean_c_ipw"))
      .withColumn("ate_naive",
        col("__syt") / col("n_t") - col("__syc") / col("n_c"))
      .select("n_t", "n_c", "ess_t", "ess_c", "mean_t_ipw", "mean_c_ipw",
        "ate_ipw", "ate_naive")
  }

  /** Differentially-private noisy group counts: each group's count plus
    * Laplace(sensitivity/ε) noise — the release mechanism that pairs
    * with [[kAnonymity]]'s audit (publish noisy marginals instead of
    * suppressing small cells). Count queries have sensitivity 1.
    *
    * The Laplace draw is DETERMINISTIC: a uniform in (−½, ½) comes from
    * the group key's md5 (first `HexChars` hex digits, parsed by digit so
    * a plain-SQL oracle replays it — no platform hash), then the standard
    * inverse-CDF `−b·sgn(u)·ln(1−2|u|)`. Determinism trades the formal
    * DP guarantee for replayability HERE (a fixed seed per release is the
    * operational compromise; pass a fresh `salt` per release to re-draw).
    * One groupBy over the fact; noise is scalar arithmetic per GROUP row.
    * Returns (groupCols..., n_true, n_noisy) — production releases drop
    * `n_true`; the gate keeps it to pin the noise itself.
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
                    salt: String = "r0"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    val hexChars = 6
    val key = md5(concat_ws("\u0001", // separator: group values must not collide on concat
      groupCols.map(c => col(c).cast("string")) :+ lit(salt): _*))
    // hex → uniform by explicit digit parsing via ascii codes ('0'-'9' →
    // 48-57, 'a'-'f' → 97-102) — identical in any SQL engine, no
    // platform-specific hex-to-int cast
    def digit(i: Int): Column = {
      val a = ascii(substring(key, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("double")
    }
    val poly = (1 to hexChars)
      .map(i => digit(i) * math.pow(16.0, hexChars - i))
      .reduce(_ + _)
    val u = (poly + 0.5) / math.pow(16.0, hexChars) - 0.5 // never ±0.5
    val b = 1.0 / epsilon
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
      .withColumn("n_noisy",
        col("n_true") - lit(b) * signum(u) * log(lit(1.0) - abs(u) * 2.0))
  }

  /** Two-sample 1-D Wasserstein (earth-mover) distance — the INTEGRAL
    * sibling of [[ksTest]]'s sup gap: W₁ = ∫|F_A(v) − F_B(v)| dv over the
    * merged value domain, i.e. how much probability mass must move how
    * FAR, in value units. KS flags any shape change equally; W₁ ranks a
    * small shift of the whole distribution above a spike in one bucket —
    * the right drift metric when the column's magnitude means something
    * (token counts, prices, scores).
    *
    * Counts collapse per distinct value; ECDFs and the neighbouring
    * domain step come from DISTRIBUTED running sums + lead
    * ([[Ranks.running]] — continuous unique-valued columns shuffle
    * instead of single-task sorting), and each domain step contributes
    * |F_A − F_B|·Δv. Returns ONE row:
    * (n_a, n_b, w1, w1_normalized) — the normalized form divides by the
    * merged value range (scale-free, comparable across columns); a
    * single-point domain reports 0.
    */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
                   groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(g === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(g === groupB, 1L).otherwise(0L)).as("__cb"))
    // unpinned for the same reason as ksTest (exchange reuse)
    val tot = per.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"),
      (max("__v") - min("__v")).as("__range"))
    Ranks.running(per, Seq(col("__v")),
        sums = Seq("__ca" -> "__fa", "__cb" -> "__fb"),
        leadOrder = Some("__v" -> "__nv"))
      .withColumn("__dv", col("__nv") - col("__v"))
      .crossJoin(broadcast(tot))
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        sum(when(col("__dv").isNotNull,
          abs(col("__fa") / col("__na") - col("__fb") / col("__nb")) *
            col("__dv")).otherwise(0.0)).as("w1"),
        max("__range").as("__r"))
      .withColumn("w1_normalized",
        when(col("__r") > 0, col("w1") / col("__r")).otherwise(0.0))
      .select("n_a", "n_b", "w1", "w1_normalized")
  }

  /** Sample-ratio-mismatch check — the experiment-hygiene gate that runs
    * BEFORE any lift is read ([[EventAnalytics.abLift]]'s precondition):
    * does the realized arm split match the declared allocation? A biased
    * splitter invalidates every downstream metric silently. Per declared
    * arm: observed count, expected count n·p, the per-arm deviation
    * z = (obs − n·p)/√(n·p·(1−p)), plus the chi² goodness-of-fit total
    * and its df (arms − 1) repeated on every row (compare to the critical
    * value; |z| > 3 on any arm is the usual page). Rows whose variant is
    * NOT in the declared allocation are excluded from n and reported in
    * `n_unexpected` — a mystery arm is itself an SRM finding.
    *
    * ONE variant-keyed aggregate joined to the broadcast allocation
    * literal; all arithmetic is exact-count scalar work. Returns one row
    * per declared arm: (variant, n_obs, expected_share, n_expected,
    * dev_z, chi2, dof, n_unexpected).
    */
  def sampleRatioMismatch(df: DataFrame, variantCol: String,
                          expected: Seq[(String, Double)]): DataFrame = {
    require(expected.size >= 2, "need at least 2 declared arms")
    require(expected.forall(_._2 > 0), "shares must be positive")
    require(math.abs(expected.map(_._2).sum - 1.0) < 1e-9,
      s"shares must sum to 1: ${expected.map(_._2).sum}")
    val s = df.sparkSession
    import s.implicits._
    val exp = broadcast(expected.toDF("variant", "expected_share"))
    val counts = df.groupBy(col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).as("n_obs"))
    val joined = exp.join(counts, Seq("variant"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
    val unexpected = counts.join(exp.select("variant"), Seq("variant"),
        "left_anti")
      .agg(coalesce(sum("n_obs"), lit(0L)).as("n_unexpected"))
    val tot = joined.agg(sum("n_obs").as("__n"))
    joined.crossJoin(broadcast(tot))
      .withColumn("n_expected", col("__n") * col("expected_share"))
      .withColumn("dev_z",
        (col("n_obs") - col("n_expected")) /
          sqrt(col("n_expected") * (lit(1.0) - col("expected_share"))))
      .withColumn("__chiterm",
        (col("n_obs") - col("n_expected")) *
          (col("n_obs") - col("n_expected")) / col("n_expected"))
      .withColumn("chi2", sum("__chiterm").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("dof", lit(expected.size - 1))
      .crossJoin(broadcast(unexpected))
      .select("variant", "n_obs", "expected_share", "n_expected",
        "dev_z", "chi2", "dof", "n_unexpected")
  }

  /** Quantile treatment effects — the distributional A/B readout that a
    * mean lift ([[EventAnalytics.abLift]] / [[welchT]]) hides: at each
    * decile, how far apart are the two arms' value distributions? A
    * treatment that helps the p90 while hurting the p10 nets to zero in
    * the mean; the QTE curve shows it. Quantiles use the rank family's
    * lower-value-at-rank convention (rank ⌈p·n⌉ over the bounded,
    * pre-quantized value domain — exact and engine-replayable, no
    * interpolation dialects). Returns one row per decile:
    * (pct, q_a, q_b, qte = q_b − q_a).
    *
    * Shape: one (group, value)-keyed aggregate, running sums over the
    * group-partitioned value domain, then ONE conditional-min aggregate
    * per arm — the [[Timeseries.percentileBands]] budget with a 2-arm
    * pivot on top.
    */
  def quantileTreatmentEffects(df: DataFrame, valueCol: String,
                               groupCol: String, groupA: String,
                               groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(g.as("__g"), col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val tot = per.groupBy("__g").agg(sum("__c").as("__n"))
    val w = Window.partitionBy("__g").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per.withColumn("__cum", sum("__c").over(w))
      .join(broadcast(tot), Seq("__g"))
    val qCols = (1 to 9).map { d =>
      min(when(col("__cum") >= ceil(col("__n") * lit(d) / 10.0),
        col("__v"))).as(s"__q$d")
    }
    val qs = cum.groupBy("__g").agg(qCols.head, qCols.tail: _*)
    val unpivoted = qs.select(col("__g"), explode(array((1 to 9).map { d =>
      struct(lit(d * 10).as("pct"), col(s"__q$d").as("q"))
    }: _*)).as("__pq"))
      .select(col("__g"), col("__pq.pct").as("pct"), col("__pq.q").as("q"))
    unpivoted.groupBy("pct")
      .agg(max(when(col("__g") === groupA, col("q"))).as("q_a"),
        max(when(col("__g") === groupB, col("q"))).as("q_b"))
      .withColumn("qte", col("q_b") - col("q_a"))
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 test + Mantel-Haenszel pooled
    * odds ratio — the Simpson's-paradox guard: when arm assignment is
    * confounded with a stratum (source, country, device), the CRUDE
    * pooled odds ratio can point the wrong way; CMH tests association
    * WITHIN strata and pools the per-stratum effects. Reporting both
    * `or_crude` and `or_mh` makes the paradox visible (they disagree →
    * the confounder matters). Per stratum k with cells
    * a (A∧event), b (A∧¬event), c (B∧event), d (B∧¬event):
    * E_k = n1·m1/N, Var_k = n1·n0·m1·m0/(N²(N−1)),
    * CMH χ² = (Σa − ΣE)²/ΣVar (1 df, no continuity correction),
    * OR_MH = Σ(a·d/N)/Σ(b·c/N). Strata with N < 2 carry no variance and
    * are excluded (reported in n_strata_skipped).
    *
    * ONE stratum-keyed conditional-count aggregate, then scalar algebra —
    * the stratum table is the only state. Returns ONE row: (n_strata,
    * n_strata_skipped, n, sum_a, sum_e, cmh_chi2, or_crude, or_mh).
    */
  def cmhTest(df: DataFrame, stratumCol: String, groupCol: String,
              groupA: String, groupB: String,
              outcomeCol: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val y = col(outcomeCol).cast("int")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(col(stratumCol).as("__s"))
      .agg(sum(when(g === groupA && y === 1, 1L).otherwise(0L)).as("__a"),
        sum(when(g === groupA && y === 0, 1L).otherwise(0L)).as("__b"),
        sum(when(g === groupB && y === 1, 1L).otherwise(0L)).as("__c"),
        sum(when(g === groupB && y === 0, 1L).otherwise(0L)).as("__d"))
      .withColumn("__nn",
        col("__a") + col("__b") + col("__c") + col("__d"))
    val kept = per.where(col("__nn") >= 2)
    val nDouble = col("__nn").cast("double")
    val agg = kept.agg(
      count(lit(1)).as("n_strata"),
      sum("__nn").as("n"),
      sum("__a").as("sum_a"),
      sum(((col("__a") + col("__b")) * (col("__a") + col("__c"))).cast("double") / nDouble)
        .as("__sum_e"),
      sum((col("__a") + col("__b")).cast("double") *
        (col("__c") + col("__d")) * (col("__a") + col("__c")) *
        (col("__b") + col("__d")) /
        (nDouble * nDouble * (nDouble - 1.0))).as("__sum_var"),
      sum(col("__a").cast("double") * col("__d") / nDouble).as("__mh_num"),
      sum(col("__b").cast("double") * col("__c") / nDouble).as("__mh_den"),
      sum("__a").cast("double").as("__ta"), sum("__b").cast("double").as("__tb"),
      sum("__c").cast("double").as("__tc"), sum("__d").cast("double").as("__td"))
    val skipped = per.where(col("__nn") < 2)
      .agg(count(lit(1)).as("n_strata_skipped"))
    agg.crossJoin(broadcast(skipped))
      .withColumn("cmh_chi2", when(col("__sum_var") > 0,
        (col("sum_a") - col("__sum_e")) * (col("sum_a") - col("__sum_e")) /
          col("__sum_var")))
      .withColumn("or_crude",
        when(col("__tb") * col("__tc") > 0,
          col("__ta") * col("__td") / (col("__tb") * col("__tc"))))
      .withColumn("or_mh",
        when(col("__mh_den") > 0, col("__mh_num") / col("__mh_den")))
      .select(col("n_strata"), col("n_strata_skipped"), col("n"),
        col("sum_a"), col("__sum_e").as("sum_e"), col("cmh_chi2"),
        col("or_crude"), col("or_mh"))
  }

  /** Per-key overdispersion (burstiness) of an event stream: bin events
    * on a `binSeconds` grid, then the variance-to-mean ratio of per-bin
    * counts OVER THE KEY'S FULL BIN SPAN — empty bins count as zeros
    * (occupied-bins-only is the classic bias that hides burstiness).
    * A Poisson process scores vmr ≈ 1; vmr ≫ 1 is bursty (bots, incident
    * storms, batch replays), vmr ≪ 1 is rate-limited/regular. `d_stat` is
    * the dispersion statistic n_bins·var/mean (≈ χ² with n_bins−1 df
    * under Poisson). Returns per key: (key, n_bins, n_events, mean_count,
    * var_count, vmr, d_stat); single-bin keys report null vmr/d_stat.
    *
    * One (key, bin) aggregate then one key aggregate — the zero bins are
    * ALGEBRA (span vs occupied moments), never materialized rows.
    */
  def dispersionIndex(df: DataFrame, keyCol: String, tsCol: String,
                      binSeconds: Long): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    val per = df
      .groupBy(col(keyCol).as("key"),
        floor(unix_timestamp(col(tsCol)) / binSeconds).as("__b"))
      .agg(count(lit(1)).as("__c"))
    per.groupBy("key")
      .agg((max("__b") - min("__b") + 1).as("n_bins"),
        sum("__c").as("n_events"),
        sum(col("__c").cast("double") * col("__c")).as("__s2"))
      .withColumn("mean_count",
        col("n_events") / col("n_bins"))
      .withColumn("var_count",
        col("__s2") / col("n_bins") - col("mean_count") * col("mean_count"))
      .withColumn("vmr", when(col("n_bins") > 1 && col("mean_count") > 0,
        col("var_count") / col("mean_count")))
      .withColumn("d_stat", when(col("vmr").isNotNull,
        col("n_bins") * col("var_count") / col("mean_count")))
      .select("key", "n_bins", "n_events", "mean_count", "var_count",
        "vmr", "d_stat")
  }

  /** Two-sample Kolmogorov–Smirnov test: D = sup |F_A(v) − F_B(v)| over
    * the merged value domain, plus the asymptotic two-sided p-value from
    * the Kolmogorov distribution (2·Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²},
    * truncated at 50 terms — far below double precision already at λ>0.3)
    * with the usual finite-sample correction
    * λ = (√n_e + 0.12 + 0.11/√n_e)·D, n_e = n_a·n_b/(n_a+n_b).
    *
    * The distribution-shape sibling of [[mannWhitney]] (which only sees
    * location): did this vintage's quality-score DISTRIBUTION change, not
    * just its median. Counts collapse per distinct value and the ECDF
    * running sums are DISTRIBUTED ([[Ranks.running]] — continuous
    * unique-valued columns shuffle instead of single-task sorting); the
    * final p-value series is a single one-row HOF over a 50-element
    * literal sequence. Returns ONE row: (n_a, n_b, d_stat, p_value).
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(sum(when(g === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(g === groupB, 1L).otherwise(0L)).as("__cb"))
    // no localCheckpoint: the totals side and the ECDF side share the
    // aggregate exchange (ReusedExchange) — a pin here would hold a
    // value-domain-sized block for the session on continuous columns
    val tot = per.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    Ranks.running(per, Seq(col("__v")),
        sums = Seq("__ca" -> "__fa", "__cb" -> "__fb"))
      .crossJoin(broadcast(tot))
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        max(abs(col("__fa").cast("double") / col("__na") -
          col("__fb").cast("double") / col("__nb"))).as("d_stat"))
      .withColumn("__ne",
        col("n_a").cast("double") * col("n_b") / (col("n_a") + col("n_b")))
      .withColumn("__lam",
        (sqrt(col("__ne")) + lit(0.12) + lit(0.11) / sqrt(col("__ne"))) *
          col("d_stat"))
      .withColumn("p_value",
        least(lit(1.0), greatest(lit(0.0),
          lit(2.0) * aggregate(sequence(lit(1), lit(50)), lit(0.0),
            (acc, k) => acc +
              pow(lit(-1.0), k.cast("double") - 1) *
                exp(lit(-2.0) * k.cast("double") * k.cast("double") *
                  col("__lam") * col("__lam"))))))
      .select(col("n_a"), col("n_b"), col("d_stat"), col("p_value"))
  }

  /** Kendall rank correlation τ-b between two BOUNDED-domain columns,
    * computed from the joint contingency table, never from row pairs:
    * concordant/discordant counts are Σ n_xy·n_x'y' over cell pairs with
    * x'>x and y'>y (resp. y'<y), and the tie terms come from the
    * marginals — so the work is |domain(x)|·|domain(y)| squared (a few
    * hundred thousand cell pairs for 50×11 domains) regardless of row
    * count, where the textbook all-pairs formulation is O(N²).
    *
    * Pair products are summed in DOUBLE: at 100 TB, N² concordant pairs
    * (~10²⁴) overflows int64 long before it troubles a double's range,
    * and τ only ever consumes the ratio. Quantize continuous columns
    * first (same contract as [[spearman]], which this complements: ρ
    * weights by rank distance, τ counts inversions). Returns ONE row:
    * (n, tau_b).
    *
    * The bounded-domain contract is GUARDED, not just documented: an
    * unquantized continuous pair makes the cell grid row-scale and the
    * self-join O(N²), so the operator fails fast above `maxCells`
    * distinct (x, y) cells — same policy as the Dedup all-pairs anchors —
    * with a message directing to quantization ([[Analytics.equiWidthBin]]
    * / ntile) or an explicit maxCells raise. The check reads the already-
    * checkpointed joint frame, so it costs one bounded count, no rescan.
    */
  def kendallTau(df: DataFrame, xCol: String, yCol: String,
                 maxCells: Int = 100000): DataFrame = {
    require(maxCells > 0 && maxCells < Int.MaxValue,
      s"kendallTau: bad maxCells $maxCells")
    val joint = df
      .groupBy(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // feeds the self-join twice plus both marginals
    val cells = joint.limit(maxCells + 1).count()
    require(cells <= maxCells,
      s"kendallTau is a contingency-table formulation bounded at " +
        s"maxCells=$maxCells distinct (x, y) cells, but the input has more " +
        s"— the cell-pair pass would be O(cells²). Quantize the continuous " +
        s"column(s) first (equi-width bins / ntile), or raise maxCells " +
        s"explicitly if the grid is genuinely bounded.")
    val a = joint.select(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__n").cast("double").as("__na"))
    val b = joint.select(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__n").cast("double").as("__nb"))
    // one broadcast-nested-loop pass over cell pairs; the grid is tiny
    val pairs = a.join(broadcast(b),
        col("__xb") > col("__xa") && col("__yb") =!= col("__ya"))
      .agg(
        sum(when(col("__yb") > col("__ya"),
          col("__na") * col("__nb")).otherwise(0.0)).as("__c"),
        sum(when(col("__yb") < col("__ya"),
          col("__na") * col("__nb")).otherwise(0.0)).as("__d"))
    def tiePairs(c: String): DataFrame = joint.groupBy(col(c))
      .agg(sum("__n").as("__m"))
      .agg(sum(col("__m").cast("double") * (col("__m") - 1) / 2).as("__t"))
    val n = joint.agg(sum("__n").as("n"))
    n.crossJoin(broadcast(pairs))
      .crossJoin(broadcast(tiePairs("__x").withColumnRenamed("__t", "__tx")))
      .crossJoin(broadcast(tiePairs("__y").withColumnRenamed("__t", "__ty")))
      .withColumn("__n0", col("n").cast("double") * (col("n") - 1) / 2)
      .withColumn("tau_b",
        (col("__c") - col("__d")) /
          sqrt((col("__n0") - col("__tx")) * (col("__n0") - col("__ty"))))
      .select(col("n"), col("tau_b"))
  }

  /** Adjusted Rand Index between two labelings of the same rows — the
    * chance-corrected clustering-agreement score (how well do my LSH
    * dedup clusters reproduce the exact clusters? does language track
    * source?). Pair-counting via the CONTINGENCY table, never row pairs:
    * with cell counts n_ij and marginals a_i, b_j over n rows,
    *
    *   index    = Σ_ij C(n_ij, 2)
    *   expected = Σ_i C(a_i, 2) · Σ_j C(b_j, 2) / C(n, 2)
    *   maximum  = ½ [Σ_i C(a_i, 2) + Σ_j C(b_j, 2)]
    *   ARI      = (index − expected) / (maximum − expected)
    *
    * so the work is one (a, b) cell aggregate + two marginal rollups —
    * all partial-aggregable shuffles on label keys. Pair counts are
    * summed in DOUBLE ([[kendallTau]]'s rule: C(n, 2) at 100 TB row
    * counts overflows int64 long before a double loses the ratio).
    *
    * The label-domain contract is GUARDED like [[kendallTau]]: more than
    * `maxCells` distinct (a, b) cells fails fast — an ARI over two
    * row-unique id columns is a degenerate question (every cell is a
    * singleton) and the cell table would be row-scale. Returns ONE row:
    * (n, ari); ARI is 1 on identical partitions, ~0 at chance, < 0 for
    * worse-than-chance.
    */
  def adjustedRand(df: DataFrame, aCol: String, bCol: String,
                   maxCells: Int = 1000000): DataFrame = {
    require(maxCells > 0, s"adjustedRand: bad maxCells $maxCells")
    val cells = df.groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // feeds both marginals + the cell sum
    val nCells = cells.limit(maxCells + 1).count()
    require(nCells <= maxCells,
      s"adjustedRand is a contingency-table formulation bounded at " +
        s"maxCells=$maxCells distinct (a, b) label cells, but the input " +
        s"has more — with (near-)row-unique labels the agreement question " +
        s"is degenerate and the cell table row-scale. Coarsen the labels " +
        s"or raise maxCells explicitly.")
    def pairs(c: Column): Column = c.cast("double") * (c - 1) / 2.0
    val idx = cells.agg(sum(pairs(col("__n"))).as("__idx"),
      sum("__n").as("n"))
    val ma = cells.groupBy("__a").agg(sum("__n").as("__m"))
      .agg(sum(pairs(col("__m"))).as("__pa"))
    val mb = cells.groupBy("__b").agg(sum("__n").as("__m"))
      .agg(sum(pairs(col("__m"))).as("__pb"))
    idx.crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
      .withColumn("__exp",
        col("__pa") * col("__pb") / pairs(col("n")))
      .withColumn("ari",
        (col("__idx") - col("__exp")) /
          ((col("__pa") + col("__pb")) / 2.0 - col("__exp")))
      .select(col("n"), col("ari"))
  }

  /** Decile lift-and-gain table for a scored binary classifier: rank the
    * population by score descending, cut it into tenths, and report per
    * decile the cumulative capture of positives (gain) and the
    * concentration vs the base rate (lift) — the "how deep do I have to
    * dip into model-ranked documents to harvest 80 % of the good ones"
    * curve that sizes a curation budget.
    *
    * No ntile, no global row sort: scores collapse per distinct value, a
    * descending DISTRIBUTED running sum ([[Ranks.running]]) yields
    * cumulative rows/positives per threshold, and each threshold row then
    * emits — in closed form, no join against the threshold table — the
    * deciles it is the FIRST to reach: exactly the k with
    * 10·(cum − t) < k·N ≤ 10·cum. Matches exact descending-score deciles
    * up to ties (a tied block lands wholly in the decile its last row
    * reaches); a continuous unique-valued score column costs two
    * compact-key shuffles, never a broadcast or sort of the domain.
    * Returns 10 rows: (decile, cum_rows, cum_pos, gain, lift).
    */
  def liftGain(df: DataFrame, scoreCol: String, labelCol: String)
  : DataFrame = {
    val lbl = col(labelCol).cast("double") > 0
    val per = df.groupBy(col(scoreCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__t"),
        sum(when(lbl, 1L).otherwise(0L)).as("__pos"))
    // unpinned: the totals and the decile emit share the Ranks exchange
    val cum = Ranks.running(per, Seq(col("__v").desc),
        sums = Seq("__t" -> "__cum_rows", "__pos" -> "__cum_pos"))
    val tot = cum.agg(max("__cum_rows").as("__n"),
      max("__cum_pos").as("__p"))
    // long/long division is double in Spark; floor-of-double is exact to
    // 2^53 rows — the usual closed-form-rank argument
    cum.crossJoin(broadcast(tot))
      .withColumn("__kmin", greatest(lit(1L),
        (floor((col("__cum_rows") - col("__t")) * 10 / col("__n")) + 1)
          .cast("long")))
      .withColumn("__kmax", least(lit(10L),
        floor(col("__cum_rows") * 10 / col("__n")).cast("long")))
      .where(col("__kmax") >= col("__kmin"))
      .select(explode(sequence(col("__kmin").cast("int"),
          col("__kmax").cast("int"))).as("decile"),
        col("__cum_rows").as("cum_rows"), col("__cum_pos").as("cum_pos"),
        (col("__cum_pos").cast("double") / col("__p")).as("gain"),
        ((col("__cum_pos").cast("double") / col("__cum_rows")) /
          (col("__p").cast("double") / col("__n"))).as("lift"))
      .orderBy("decile")
  }

  /** Wilson score interval per slice — the error bar every per-segment
    * rate report should carry (pass rate per source, dup rate per lang,
    * conversion per variant): for each group, p̂ = s/n and the z-level
    * Wilson bounds
    *
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * — never escapes [0, 1] and stays honest at small n and extreme p̂,
    * where the naive ± z·√(p̂(1−p̂)/n) Wald interval collapses to a point
    * at p̂ ∈ {0, 1} (a 3-for-3 slice is NOT certainly perfect; Wilson says
    * [0.44, 1] at z = 1.96, Wald says [1, 1]).
    *
    * ONE partial-aggregable group aggregate; the bounds are closed-form
    * projections — replayable in any SQL engine. A null `successCol`
    * counts as failure (it is a predicate, not a measurement). Returns
    * (groups..., n, successes, p_hat, ci_lo, ci_hi).
    */
  def proportionCI(df: DataFrame, groupCols: Seq[String],
                   successCol: Column, z: Double = 1.96): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(z > 0, s"z must be positive: $z")
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    agg
      .withColumn("p_hat", p)
      .withColumn("ci_lo", (center - half) / denom)
      .withColumn("ci_hi", (center + half) / denom)
  }

  /** Log-rank (Mantel–Cox) test — [[kaplanMeier]]'s hypothesis-test
    * companion: are two groups' survival curves the same? At each distinct
    * event time the observed group-A events are compared with the
    * expectation under the null (events split proportionally to the
    * at-risk sets); the standardized sum is χ²(1). Input: one row per
    * subject with `durationCol` (bounded grain), `eventCol` 1 = event /
    * 0 = censored, and its group label. Returns ONE row: (n_a, n_b,
    * observed_a, observed_b, expected_a, expected_b, var_sum, chi2).
    *
    * Same distributed shape as [[kaplanMeier]]: subjects collapse to
    * per-(duration) counts (one column pair per group), the two risk sets
    * come from ONE [[Ranks.running]] pass over the duration domain, and
    * the test statistic is a scalar rollup of that per-duration frame —
    * no per-group window, no single-task sort. Durations with no events
    * contribute nothing (d = 0 terms vanish); the final time with
    * n = d = 1 contributes variance 0 via the explicit (n − 1) ≥ 1 guard.
    */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              groupCol: String, groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol).cast("string")
    val ev = col(eventCol).cast("long")
    val per = df.where(g.isin(groupA, groupB))
      .groupBy(col(durationCol).cast("double").as("t"))
      .agg(sum(when(g === groupA, ev).otherwise(0L)).as("__d1"),
        sum(when(g === groupA, lit(1L) - ev).otherwise(0L)).as("__c1"),
        sum(when(g === groupB, ev).otherwise(0L)).as("__d2"),
        sum(when(g === groupB, lit(1L) - ev).otherwise(0L)).as("__c2"))
      .withColumn("__tt1", col("__d1") + col("__c1"))
      .withColumn("__tt2", col("__d2") + col("__c2"))
    val tot = per.agg(sum("__tt1").as("__n1tot"), sum("__tt2").as("__n2tot"))
    val n1 = (col("__n1tot") - col("__gone1") + col("__tt1")).cast("double")
    val n2 = (col("__n2tot") - col("__gone2") + col("__tt2")).cast("double")
    val d = (col("__d1") + col("__d2")).cast("double")
    val n = n1 + n2
    Ranks.running(per, Seq(col("t")),
        sums = Seq("__tt1" -> "__gone1", "__tt2" -> "__gone2"))
      .crossJoin(broadcast(tot))
      .withColumn("__e1", d * n1 / n)
      .withColumn("__e2", d * n2 / n)
      .withColumn("__v",
        when(n > 1.0,
          d * (n1 / n) * (n2 / n) * (n - d) / (n - lit(1.0)))
          .otherwise(0.0))
      .where(col("__d1") + col("__d2") > 0)
      .agg(max("__n1tot").as("n_a"), max("__n2tot").as("n_b"),
        sum("__d1").as("observed_a"), sum("__d2").as("observed_b"),
        sum("__e1").as("expected_a"), sum("__e2").as("expected_b"),
        sum("__v").as("var_sum"))
      .withColumn("chi2",
        pow(col("observed_a") - col("expected_a"), 2) / col("var_sum"))
  }

  /** Nelson–Aalen cumulative hazard — [[kaplanMeier]]'s estimator dual:
    * instead of the survival product, the cumulative hazard sum
    * H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ² (Aalen 1978) — the
    * quantity survival models regress on, and better-behaved than
    * −ln(KM) in small risk sets. Same input contract as [[kaplanMeier]];
    * returns one row per event time: (t, n_at_risk, n_events,
    * n_censored, cumhaz, se_cumhaz).
    *
    * Same distributed shape too: per-duration counts, risk sets from one
    * [[Ranks.running]] pass, the hazard sum from a second — never a
    * per-key funnel or a global-sort window.
    */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val per = df.groupBy(col(durationCol).cast("double").as("t"))
      .agg(sum(col(eventCol).cast("long")).as("n_events"),
        sum(lit(1L) - col(eventCol).cast("long")).as("n_censored"))
      .withColumn("__tt", col("n_events") + col("n_censored"))
    val atRisk = Ranks
      .running(per, Seq(col("t")), sums = Seq("__tt" -> "__gone"))
      .crossJoin(broadcast(per.agg(sum("__tt").as("__total"))))
      .withColumn("n_at_risk", col("__total") - col("__gone") + col("__tt"))
      .withColumn("__h",
        col("n_events").cast("double") / col("n_at_risk").cast("double"))
      .withColumn("__hv",
        col("n_events").cast("double") /
          (col("n_at_risk").cast("double") * col("n_at_risk").cast("double")))
    Ranks.running(atRisk, Seq(col("t")),
        sums = Seq("__h" -> "cumhaz", "__hv" -> "__cv"))
      .withColumn("se_cumhaz", sqrt(col("__cv")))
      .where(col("n_events") > 0)
      .select(col("t"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("cumhaz"), col("se_cumhaz"))
  }

  /** Propensity-score matching with a caliper, stratified on an exact-match
    * covariate — the observational-causal estimate a platform runs when it
    * cannot randomize: each treated unit takes its NEAREST control by
    * propensity score within the same stratum (with replacement), matches
    * farther than `caliper` drop, and ATT is the mean matched outcome
    * difference. Returns ONE row: (n_treated, n_control, n_matched,
    * match_rate, mean_y_treated, mean_y_control, att, se_att).
    *
    * The match is [[Joins.nearestJoin]] on the score axis — union + one
    * shuffle on the stratum + a single sorted carry pass, NO treated ×
    * control pair join (the naive formulation is O(N²) in each stratum;
    * at 100 TB a popular stratum holds 10⁸ units). Scores are compared at
    * fixed-point micro-resolution — floor(score·10⁶) — so the integer
    * caliper is exact and every engine replays the same distances (the
    * numeric carry axis compares as long; an implicit cast would floor
    * SILENTLY and could flip a nearest pick against a full-precision
    * replay). Ties at equal |Δscore| resolve to the LOWER control score
    * and equal-score controls reduce to their struct minimum first —
    * fully deterministic and SQL-replayable. With-replacement semantics:
    * a control can match many treated units (standard for ATT; no
    * sequential greedy state).
    */
  def propensityMatch(df: DataFrame, treatedCol: Column, scoreCol: String,
                      outcomeCol: String, strataCol: String,
                      caliper: Double): DataFrame = {
    require(caliper > 0 && caliper <= 1,
      s"caliper must be in (0, 1]: $caliper")
    val su = floor(col(scoreCol).cast("double") * 1e6).as("__su")
    val treated = df.where(treatedCol)
      .select(col(strataCol), su, col(outcomeCol).cast("double").as("__yt"))
    val control = df.where(!treatedCol)
      .select(col(strataCol), su, col(outcomeCol).cast("double").as("__yc"))
    val totals = df.agg(
      sum(when(treatedCol, 1L).otherwise(0L)).as("n_treated"),
      sum(when(!treatedCol, 1L).otherwise(0L)).as("n_control"))
    Joins.nearestJoin(treated, control, strataCol, "__su", "__su",
        rightValCols = Seq("__yc"), prefix = "__m_",
        toleranceSec = Some(math.round(caliper * 1e6)))
      .agg(count(lit(1)).as("n_matched"),
        avg("__yt").as("mean_y_treated"),
        avg("__m___yc").as("mean_y_control"),
        avg(col("__yt") - col("__m___yc")).as("att"),
        (stddev_samp(col("__yt") - col("__m___yc")) /
          sqrt(count(lit(1)).cast("double"))).as("se_att"))
      .crossJoin(broadcast(totals))
      .withColumn("match_rate",
        col("n_matched").cast("double") / col("n_treated"))
      .select(col("n_treated"), col("n_control"), col("n_matched"),
        col("match_rate"), col("mean_y_treated"), col("mean_y_control"),
        col("att"), col("se_att"))
  }

  /** Benjamini–Hochberg FDR control (1995) over a table of per-test
    * p-values — the multiple-testing gate an experiment platform needs
    * the moment one readout carries many metrics ([[welchT]],
    * [[mcnemar]], [[permutationTest]], [[logRank]] all emit p-values;
    * testing 40 metrics at α=.05 expects 2 false pages without it).
    * Step-up rule via the adjusted p-value identity:
    * p_adj(i) = min(1, min_{j ≥ i} m·p_(j)/j) over the ascending p order
    * (the monotone suffix min), and reject where p_adj ≤ q — equivalent
    * to the classic "largest k with p_(k) ≤ k·q/m" cut, but each test
    * carries its own reusable number. Ties order by (p, test id) —
    * deterministic, and tied p-values share a p_adj by the suffix min.
    * Returns one row per test: (test, p, rank, m, p_adj, rejected).
    *
    * Two [[Ranks.running]] passes over the test-count table (rank, then
    * suffix min of m·p/rank — the second pass needs the first's rank) —
    * distributed, no single-task sort of the test domain; m is a one-row
    * broadcast.
    */
  def bhFdr(df: DataFrame, testCol: String, pCol: String,
            q: Double = 0.05): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1): $q")
    val base = df.select(col(testCol).as("test"),
      col(pCol).cast("double").as("p"))
    val m = base.agg(count(lit(1)).as("m"))
    val ranked = Ranks.running(base, Seq(col("p"), col("test")),
        rankCol = Some("rank"))
      .crossJoin(broadcast(m))
      .withColumn("__raw",
        col("m").cast("double") * col("p") / col("rank"))
    Ranks.running(ranked, Seq(col("p"), col("test")),
        suffixMins = Seq("__raw" -> "__sfx"))
      .withColumn("p_adj", least(col("__sfx"), lit(1.0)))
      .withColumn("rejected", col("p_adj") <= q)
      .select("test", "p", "rank", "m", "p_adj", "rejected")
  }
}
