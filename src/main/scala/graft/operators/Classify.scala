package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** Distributed classifier training for corpus curation — the fastText-style
  * quality/language filter stage of a training-data pipeline, built as pure
  * aggregate passes: the model (a handful of doubles) lives on the driver,
  * each gradient-descent step is ONE partial-aggregable aggregate over the
  * corpus. No MLlib, no collect of data rows.
  */
object Classify {

  /** Scan-side shallow text features (the fastText-ish signal set): bias,
    * token count / 100, chars-per-token / 10, unique-token ratio. All
    * integer-derived (counts and lengths) then divided — bit-identical
    * across engines, so trained models are cross-checkable. The token
    * split binds to a projected column before the HOF filter (no
    * per-element re-split), and `ntok` is floored at 1 so empty documents
    * yield finite features instead of NaN.
    */
  def textFeatures(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docs
      .withColumn("__toks",
        filter(split(col(textCol), " "), t => length(t) > 0))
      .withColumn("__ntok",
        greatest(size(col("__toks")), lit(1)).cast("double"))
      .withColumn("f0", lit(1.0))
      .withColumn("f1", col("__ntok") / 100.0)
      .withColumn("f2",
        length(col(textCol)).cast("double") / (col("__ntok") * 10.0))
      .withColumn("f3",
        size(array_distinct(col("__toks"))).cast("double") / col("__ntok"))
      .drop("__toks", "__ntok")

  private def margin(featureCols: Seq[String], w: Array[Double]): Column =
    featureCols.zip(w).map { case (c, wi) => col(c) * lit(wi) }
      .reduce(_ + _)

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Batch gradient descent for logistic regression: `iterations` full
    * passes, each ONE aggregate producing the |features|-dimensional
    * gradient `avg((σ(w·x) − y)·x_j)`; weights update on the driver
    * (bounded: one double per feature per round — the same driver-scalar
    * budget as the CC convergence probe). `labelCol` must be 0.0/1.0.
    *
    * The feature projection is pinned once (`localCheckpoint`) so each
    * round re-reads compact feature rows, not the upstream text pipeline.
    * Deterministic: fixed iteration count, zero init (σ(0) = ½ exactly),
    * no sampling — the same recipe replays in SQL (gate q142).
    */
  def trainLogistic(data: DataFrame, featureCols: Seq[String],
                    labelCol: String, iterations: Int = 5,
                    lr: Double = 1.0): Array[Double] = {
    require(featureCols.nonEmpty && iterations >= 0)
    val d = data
      .select((featureCols.map(col) :+ col(labelCol).cast("double")): _*)
      .localCheckpoint()
    var w = Array.fill(featureCols.size)(0.0)
    var i = 0
    while (i < iterations) {
      val err = sigmoid(margin(featureCols, w)) - col(labelCol)
      val grad: Row = d.agg(
        avg(err * col(featureCols.head)).as("g0"),
        featureCols.tail.zipWithIndex.map { case (c, j) =>
          avg(err * col(c)).as(s"g${j + 1}") }: _*).head()
      w = w.indices.map(j => w(j) - lr * grad.getDouble(j)).toArray
      i += 1
    }
    w
  }

  /** Score rows with a trained model: adds `p = σ(w·x)` — a pure
    * projection (weights are literals), scan-side at any scale.
    */
  def scoreLogistic(data: DataFrame, featureCols: Seq[String],
                    weights: Array[Double]): DataFrame = {
    require(weights.length == featureCols.size)
    data.withColumn("p", sigmoid(margin(featureCols, weights)))
  }

  /** Multinomial Naive Bayes training with Laplace smoothing — the
    * classical fastText-before-fastText corpus router (source / language /
    * topic from bags of tokens), trained in three aggregate passes:
    * per-(class, token) counts, per-class token totals, and the shared
    * vocabulary size. Token log-likelihoods are
    * `ln((cnt + α)/(total_c + α·V))`; the vocabulary is the union over all
    * classes, so every class scores every token (out-of-vocabulary handling
    * lives in [[scoreNaiveBayes]]).
    *
    * Returns (model, priors): `model` is (class, token, log_prob) — the
    * distributed model table, shuffled on token exactly as scoring joins
    * it; `priors` is the tiny (class, log_prior, log_oov) table carrying
    * each class's document-frequency prior and its OOV fallback
    * `ln(α/(total_c + α·V))`.
    */
  def trainNaiveBayes(docs: DataFrame, textCol: String, classCol: String,
                      alpha: Double = 1.0): (DataFrame, DataFrame) = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val toks = docs
      .select(col(classCol).cast("string").as("class"),
        explode(filter(split(col(textCol), " "), t => length(t) > 0))
          .as("token"))
    val counts = toks.groupBy("class", "token").agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy("class").agg(sum("__c").as("__tot"))
    val vocab = counts.agg(countDistinct("token").cast("double").as("__v"))
    val model = counts
      .join(broadcast(totals), Seq("class"))
      .crossJoin(broadcast(vocab))
      .select(col("class"), col("token"),
        log((col("__c") + alpha) / (col("__tot") + lit(alpha) * col("__v")))
          .as("log_prob"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
    val priors = docs.groupBy(col(classCol).cast("string").as("class"))
      .agg(count(lit(1)).as("__nd"))
      .crossJoin(broadcast(nDocs))
      .join(broadcast(totals), Seq("class"))
      .crossJoin(broadcast(vocab))
      .select(col("class"), log(col("__nd") / col("__n")).as("log_prior"),
        log(lit(alpha) / (col("__tot") + lit(alpha) * col("__v")))
          .as("log_oov"))
    (model, priors)
  }

  /** Score documents against a trained Naive Bayes model: each document's
    * log-posterior per class is its prior plus Σ token log-likelihoods
    * (token multiplicity counts, as multinomial NB requires), with
    * out-of-vocabulary tokens taking the class's smoothed OOV mass; the
    * prediction is the arg-max class, ties to the lexicographically first.
    *
    * Shape for scale: documents explode to (doc, token, count) once and
    * join the model ON TOKEN (the model is token-partitioned; classes per
    * token ride in one row group) — never a corpus × classes blow-up
    * before aggregation; the class fan-out happens on the matched rows
    * via the broadcast priors table. One shuffle on token, one on doc id.
    */
  def scoreNaiveBayes(docs: DataFrame, idCol: String, textCol: String,
                      model: DataFrame, priors: DataFrame): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(filter(split(col(textCol), " "),
        t => length(t) > 0)).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__m"))
    // per (doc, token, class): matched log_prob or the class OOV fallback
    val perClass = toks
      .crossJoin(broadcast(priors.select(col("class"), col("log_oov"))))
      .join(model, Seq("token", "class"), "left")
      .select(col(idCol), col("class"),
        (col("__m") * coalesce(col("log_prob"), col("log_oov"))).as("__lp"))
    perClass.groupBy(col(idCol), col("class"))
      .agg(sum("__lp").as("__sum"))
      .join(broadcast(priors.select(col("class"), col("log_prior"))),
        Seq("class"))
      .withColumn("log_posterior", col("__sum") + col("log_prior"))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("class"), col("log_posterior")),
        struct(negate(col("log_posterior")), col("class"))).as("__best"))
      .select(col(idCol), col("__best.class").as("predicted_class"),
        col("__best.log_posterior").as("log_posterior"))
  }

  /** Leave-one-out target encoding with additive smoothing: replace a
    * high-cardinality categorical with the mean of the target over the
    * OTHER rows of its category, shrunk toward the global mean by a
    * pseudo-count `m` — `te_i = (sum_c − y_i + m·ȳ) / (n_c − 1 + m)`.
    * The standard leakage-controlled encoder for training-data prep:
    * excluding the row's own target keeps the encoding honest on the
    * training fold, and the prior keeps singleton categories defined
    * and shrunk instead of degenerate.
    *
    * One category-keyed aggregate (partial sums), a broadcast scalar for
    * ȳ, and a join back on the category. The category table is left to
    * AQE's join-strategy choice (broadcast when it is small, shuffle on
    * the category key when the cardinality is genuinely high — the
    * operator's target use case). Adds `te`.
    */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
                      m: Double = 10.0): DataFrame = {
    require(m > 0, s"smoothing pseudo-count must be positive: $m")
    val y = col(targetCol).cast("double")
    val per = df.groupBy(col(catCol))
      .agg(sum(y).as("__sum"), count(lit(1)).as("__n"))
    val gm = df.agg(avg(y).as("__gm"))
    df.join(per, Seq(catCol))
      .crossJoin(broadcast(gm))
      .withColumn("te",
        (col("__sum") - y + lit(m) * col("__gm")) /
          (col("__n") - 1 + lit(m)))
      .drop("__sum", "__n", "__gm")
  }

  /** Weight-of-evidence encoding with information value — the credit-scoring
    * screen for "how much does this categorical column separate a binary
    * target", here the feature-triage tool for curation labels (does
    * `source` predict `is_high_quality` enough to be worth a model input,
    * or is it leakage?). Per category c:
    *
    *   woe(c) = ln( ((events_c + s) / total_events) /
    *                ((nonevents_c + s) / total_nonevents) )
    *   iv_term(c) = ((events_c + s)/total_events −
    *                 (nonevents_c + s)/total_nonevents) · woe(c)
    *
    * with the standard ±`smooth` (default 0.5) cell adjustment so a pure
    * category (all-event or all-nonevent) scores finite instead of ±∞.
    * Σ iv_term is the column's IV (rule of thumb: <0.02 useless, >0.5
    * suspicious/leaky). A single-class corpus (no events or no nonevents)
    * returns null woe/iv_term rather than inventing separation.
    *
    * ONE category-keyed aggregate plus a two-scalar broadcast — partial
    * aggs do all row-scale work, category cardinality is the only state.
    * Counts are exact longs; the only float ops are the final divides and
    * ln, so results replay bit-for-bit in SQL. Returns
    * (catCol, n, events, nonevents, woe, iv_term).
    */
  def woeIv(df: DataFrame, catCol: String, targetCol: String,
            smooth: Double = 0.5): DataFrame = {
    require(smooth >= 0, s"smoothing must be non-negative: $smooth")
    val y = col(targetCol).cast("double")
    val per = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"), sum(y).cast("long").as("events"))
      .withColumn("nonevents", col("n") - col("events"))
    val tot = per.agg(sum("events").as("__tev"), sum("nonevents").as("__tne"))
    val pe = (col("events") + lit(smooth)) / col("__tev")
    val pn = (col("nonevents") + lit(smooth)) / col("__tne")
    per.crossJoin(broadcast(tot))
      .withColumn("woe",
        when(col("__tev") > 0 && col("__tne") > 0, log(pe / pn)))
      .withColumn("iv_term",
        when(col("__tev") > 0 && col("__tne") > 0, (pe - pn) * col("woe")))
      .select(catCol, "n", "events", "nonevents", "woe", "iv_term")
  }

  /** ChiMerge supervised binning (Kerber, AAAI'92) — the scorecard step
    * between a raw numeric feature and [[woeIv]]: start from
    * `initialBins` equal-population quantile prebins
    * ([[Splits.quantileBuckets]]'s exact-percentile assignment), then
    * repeatedly merge the adjacent pair whose 2×2 chi² statistic against
    * the binary target is smallest (ties → lower bin) until `targetBins`
    * remain — adjacent bins that don't differ in event rate don't deserve
    * separate WOE points. Zero-expected cells contribute 0 (the standard
    * convention, so all-event/all-nonevent neighbours merge first).
    *
    * Scale shape: ONE per-value aggregate `(value, n, events)` does all
    * row-scale work (the value cast to double scan-side, as the
    * percentile and the bucket compare see it). Its row count picks the
    * route:
    *  - ≤ [[Splits.ExactDomainRows]] distinct values: the table is
    *    collected once and the exact thresholds (Spark's `percentile`,
    *    evaluated on the driver), the prebin histogram and the merge loop
    *    all run on the driver — two jobs in all;
    *  - larger domains: the table is pinned and both the distributed
    *    exact thresholds ([[Splits.exactThresholdsOf]]) and the histogram
    *    are taken from it, never from the input again.
    * The merge loop runs on the ≤`initialBins`-row histogram (codebook
    * budget) with exact-long cell counts, so chi² doubles — and therefore
    * the merge SEQUENCE — replay bit-for-bit in SQL. The exact percentile
    * is only the DEFAULT below `maxExactRows` rows (Σn of the per-value
    * table); bigger inputs auto-route the prebin thresholds to the GK
    * sketch over the input — see the routing note in the body. Returns
    * one row per final bin:
    * (bin, lo_prebin, hi_prebin, n, events, event_rate).
    */
  def chiMergeBins(df: DataFrame, valueCol: String, targetCol: String,
                   initialBins: Int = 16, targetBins: Int = 6,
                   approxAccuracy: Option[Int] = None,
                   maxExactRows: Long = 10000000L): DataFrame = {
    require(targetBins >= 2 && targetBins < initialBins && initialBins <= 64,
      s"need 2 <= targetBins < initialBins <= 64: $targetBins/$initialBins")
    require(maxExactRows > 0, s"maxExactRows must be positive: $maxExactRows")
    require(df.select(col(valueCol)).schema.head.dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"chiMergeBins needs a numeric value column: $valueCol")
    val fractions = (1 until initialBins).map(_.toDouble / initialBins)
    // (value as double, rows, summed target); the NULL value is one row
    val perValue = df
      .groupBy(col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__n"),
        sum(col(targetCol).cast("double")).as("__e"))
      .localCheckpoint(eager = false)
    try {
      // one job past the aggregate's shuffle: a single task reads at most
      // ExactDomainRows + 1 rows of the table
      val head = perValue.coalesce(1).limit(Splits.ExactDomainRows + 1)
        .collect()
      val local = head.length <= Splits.ExactDomainRows
      def vOf(r: Row): Option[Double] =
        if (r.isNullAt(0)) None else Some(r.getDouble(0))
      // (non-NULL distinct values, rows) of a table too big to collect
      lazy val sizes = perValue.agg(count(col("__v")), sum(col("__n"))).head()
      val rows = if (local) head.map(_.getLong(1)).sum else sizes.getLong(1)
      // Prebin-threshold routing: the exact percentile is deterministic and
      // oracle-matchable, but at corpus scale its inputs are lethal. With
      // approxAccuracy unset, inputs of maxExactRows rows or more (Σn of
      // the per-value table, so no extra scan) auto-route the thresholds
      // to the GK sketch over the input column (quantileBuckets'
      // documented trade; merge algebra downstream is unchanged). Callers
      // wanting exact on big input must say so (maxExactRows =
      // Long.MaxValue); callers at corpus scale can pin their own accuracy
      // via approxAccuracy.
      val acc = approxAccuracy.orElse(
        if (maxExactRows < Int.MaxValue.toLong && rows >= maxExactRows)
          Some(10000)
        else None)
      val thresholds: Option[Array[Double]] = acc match {
        case Some(a) =>
          // the sketch answers in the column's type (a decimal threshold is
          // rounded to the column's scale); widened afterwards, so the
          // compare stays order-exact
          Option(df.agg(percentile_approx(col(valueCol),
              array(fractions.map(lit): _*), lit(a)).cast("array<double>"))
            .head().getSeq[Double](0)).map(_.toArray)
        case None if local =>
          Splits.exactThresholdsLocal(
            head.flatMap(r => vOf(r).map(_ -> r.getLong(1))), fractions)
        case None =>
          Option(Splits.exactThresholdsOf(
              perValue.where(col("__v").isNotNull)
                .select(col("__v"), col("__n").as("__c")),
              sizes.getLong(0), fractions)
            .head().getSeq[Double](0)).map(_.toArray)
      }
      // prebin = the count of thresholds strictly below the value under
      // SQL double ordering; a NULL value lands in 0 and every row in -1
      // when there is no threshold (quantileBuckets' `size(filter(..))`)
      val hist: Seq[(Int, Long, Double)] =
        if (local) {
          def prebin(v: Option[Double]): Int = thresholds.fold(-1) { ths =>
            v.fold(0)(x => ths.count(t => SQLOrderingUtil.compareDoubles(x, t) > 0))
          }
          head.toSeq.groupBy(r => prebin(vOf(r))).toSeq.map { case (b, rs) =>
            (b, rs.map(_.getLong(1)).sum,
              rs.filterNot(_.isNullAt(2)).map(_.getDouble(2)).sum)
          }
        } else {
          val prebin = thresholds.fold(lit(-1))(ths =>
            size(filter(typedLit(ths.toSeq), t => col("__v") > t)))
          perValue.groupBy(prebin.as("__b"))
            .agg(sum(col("__n")), coalesce(sum(col("__e")), lit(0.0)))
            .collect().toSeq
            .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        }
      chiMergeHistogram(df.sparkSession,
        hist.map { case (b, n, e) => (b, b, n, e.toLong) }.sortBy(_._1).toVector,
        targetBins)
    } finally Pinning.unpin(perValue)
  }

  /** ChiMerge's merge loop over a sorted (lo, hi, n, events) prebin
    * histogram, down to `targetBins` bins.
    */
  private def chiMergeHistogram(spark: SparkSession,
                                prebins: Vector[(Int, Int, Long, Long)],
                                targetBins: Int): DataFrame = {
    var bins = prebins
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
      val chis = bins.indices.dropRight(1)
        .map(i => i -> chi2(bins(i), bins(i + 1)))
      val (m, _) = chis.minBy { case (i, c) => (c, i) }
      val (alo, _, an, ae) = bins(m); val (_, bhi, bn, be) = bins(m + 1)
      bins = (bins.take(m) :+ ((alo, bhi, an + bn, ae + be))) ++
        bins.drop(m + 2)
    }
    import spark.implicits._
    bins.zipWithIndex.map { case ((lo, hi, n, e), i) =>
      (i, lo, hi, n, e, e.toDouble / n)
    }.toDF("bin", "lo_prebin", "hi_prebin", "n", "events", "event_rate")
  }

  /** Confident-learning joint counts (Northcutt's confident joint) — the
    * label-noise census that [[Similarity.centroidMarginMislabels]] ranks
    * candidates for: given per-class scores and a noisy label, estimate
    * HOW MUCH of each (given → latent) confusion exists. Per class j the
    * self-confidence threshold t_j = mean score_j over rows LABELED j;
    * a row counts toward cell (given = its label, latent = ĵ) where
    * ĵ = argmax over classes with score_j ≥ t_j (ties → lower class
    * index); rows clearing no threshold are set aside (reported in
    * `n_unconfident` on every row so totals reconcile). Off-diagonal
    * mass is the estimated mislabel volume per direction.
    *
    * Scale shape: thresholds are ONE conditional aggregate broadcast back
    * scan-side; the argmax is a K-literal array expression (no UDF, no
    * per-class pass); counting is one (given, latent)-keyed aggregate on
    * a K²-bounded key space. Returns
    * (given_label, latent_label, n, n_given, frac_of_given,
    * n_unconfident).
    */
  def confidentJoint(df: DataFrame, labelCol: String,
                     scoreCols: Seq[String]): DataFrame = {
    require(scoreCols.size >= 2, "need at least 2 classes")
    val k = scoreCols.size
    val lbl = col(labelCol).cast("int")
    val thrCols = scoreCols.zipWithIndex.map { case (c, j) =>
      avg(when(lbl === j, col(c).cast("double"))).as(s"__t$j")
    }
    val thr = df.groupBy().agg(thrCols.head, thrCols.tail: _*)
    // candidates: (score_j, -j) structs for classes clearing t_j; the
    // struct max picks highest score, ties to the LOWER class index
    val cand = array(scoreCols.zipWithIndex.map { case (c, j) =>
      when(col(c).cast("double") >= col(s"__t$j"),
        struct(col(c).cast("double").as("s"), lit(-j).as("nj")))
    }: _*)
    val winner = array_max(filter(cand, x => x.isNotNull))
    val cells = df.crossJoin(broadcast(thr))
      .select(lbl.as("given_label"),
        (-winner.getField("nj")).as("latent_label"))
    val confident = cells.where(col("latent_label").isNotNull)
      .groupBy("given_label", "latent_label")
      .agg(count(lit(1)).as("n"))
    val unconfident = cells.agg(
      sum(when(col("latent_label").isNull, 1L).otherwise(0L))
        .as("n_unconfident"))
    val givenTot = confident.groupBy("given_label")
      .agg(sum("n").as("n_given"))
    confident.join(broadcast(givenTot), Seq("given_label"))
      .crossJoin(broadcast(unconfident))
      .select(col("given_label"), col("latent_label"), col("n"),
        col("n_given"), (col("n") / col("n_given")).as("frac_of_given"),
        coalesce(col("n_unconfident"), lit(0L)).as("n_unconfident"))
  }

  /** Lloyd's k-means with a FIXED iteration count and deterministic
    * seeding (the k rows with the smallest `idCol` become the initial
    * centroids) — the embedding-space partitioner behind IVF cells,
    * SemDeDup buckets and topic tiles, here exposed over explicit scalar
    * feature columns so runs replay exactly across engines.
    *
    * Each round is ONE aggregate pass: points score against the k
    * broadcast centroids scan-side (arg-min squared distance, ties to the
    * lower centroid id) and per-cluster means reduce via partial aggs;
    * only k centroid rows ever reach the driver. Empty clusters keep
    * their previous centroid. Returns (assignments, centroids):
    * assignments = (idCol, cluster, plus the feature columns), centroids =
    * (cluster, n_points, feature means) from the LAST assignment.
    */
  def kMeansFixed(df: DataFrame, idCol: String, featureCols: Seq[String],
                  k: Int, iterations: Int): (DataFrame, DataFrame) = {
    require(k >= 2 && iterations >= 1 && featureCols.nonEmpty)
    val feats = df
      .select((col(idCol) +: featureCols.map(c => col(c).cast("double"))): _*)
      .localCheckpoint()
    var centroids: Array[(Int, Array[Double])] = feats
      .orderBy(col(idCol)).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i, featureCols.indices.map(j => r.getDouble(j + 1)).toArray) }
    def assignCol: Column = {
      val dist = centroids.map { case (cid, c) =>
        val d2 = featureCols.zipWithIndex.map { case (f, j) =>
          (col(f) - lit(c(j))) * (col(f) - lit(c(j))) }.reduce(_ + _)
        struct(d2.as("d2"), lit(cid).as("cid"))
      }
      least(dist: _*).getField("cid")
    }
    var i = 0
    while (i < iterations) {
      val means = feats.withColumn("cluster", assignCol)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          featureCols.map(f => avg(col(f)).as(f)): _*)
        .collect()
      val byId = means.map(r => r.getInt(0) ->
        featureCols.indices.map(j => r.getDouble(j + 2)).toArray).toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, byId.getOrElse(cid, old)) }
      i += 1
    }
    val assigned = feats.withColumn("cluster", assignCol)
    val cents = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        featureCols.map(f => avg(col(f)).as(f)): _*)
    (assigned, cents)
  }

  /** Simplified (centroid-based) silhouette per cluster — the cluster-
    * quality readout for [[kMeansFixed]] (and the IVF/SemDeDup cells
    * built on it): s = (b − a)/max(a, b) with a = distance to the OWN
    * centroid and b = distance to the nearest OTHER centroid. The full
    * silhouette's pairwise-distance a/b is O(N²); the centroid form is
    * the standard scalable surrogate (exact for spherical clusters) and
    * needs only the k broadcast centroids. Mean s near 1 = tight and
    * separated; near 0 = touching; negative = points closer to another
    * centroid than their own (over-clustered). Zero-distance degenerate
    * points score 0. Returns per cluster:
    * (cluster, n_points, mean_silhouette, min_silhouette).
    *
    * Scan-side arithmetic against k centroid literals + one cluster-keyed
    * aggregate — no joins touch the point set.
    */
  def silhouetteSimplified(assigned: DataFrame, centroids: DataFrame,
                           featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty)
    val cents = centroids
      .select(col("cluster") +: featureCols.map(col): _*)
      .collect()
      .map(r => (r.getInt(0),
        featureCols.indices.map(j => r.getDouble(j + 1)).toArray))
    require(cents.length >= 2, "need at least 2 non-empty clusters")
    def distTo(c: Array[Double]): Column =
      sqrt(featureCols.zipWithIndex.map { case (f, j) =>
        (col(f) - lit(c(j))) * (col(f) - lit(c(j))) }.reduce(_ + _))
    val a = cents.map { case (cid, c) =>
      when(col("cluster") === cid, distTo(c)) }.reduce(coalesce(_, _))
    val b = least(cents.map { case (cid, c) =>
      when(col("cluster") =!= cid, distTo(c)) }: _*)
    assigned
      .withColumn("__s", when(greatest(a, b) > 0,
        (b - a) / greatest(a, b)).otherwise(0.0))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        avg("__s").as("mean_silhouette"),
        min("__s").as("min_silhouette"))
  }

  /** Ordinary-least-squares fit via the normal equations — closed-form
    * multiple regression (the quality-signal vs downstream-metric probe)
    * computed from ONE aggregate pass of second moments: means, the
    * feature covariance matrix and the feature-target covariances (all
    * population form). The p×p solve happens on the driver (p is the
    * feature count, a handful), Gaussian elimination with partial
    * pivoting. Returns ONE local row rendered as a DataFrame:
    * (n, intercept, beta_<feature>..., r2).
    */
  def olsFit(df: DataFrame, yCol: String,
             xCols: Seq[String]): (Long, Double, Array[Double], Double) = {
    require(xCols.nonEmpty)
    val y = col(yCol).cast("double")
    val aggs: Seq[Column] =
      Seq(avg(y).as("my"), var_pop(y).as("vy")) ++
        xCols.map(c => avg(col(c).cast("double")).as(s"m_$c")) ++
        xCols.map(c => covar_pop(col(c).cast("double"), y).as(s"cy_$c")) ++
        (for (a <- xCols; b <- xCols if a <= b)
          yield covar_pop(col(a).cast("double"), col(b).cast("double"))
            .as(s"c_${a}_$b"))
    val moments = df.agg(count(lit(1)).as("n"), aggs: _*).head()
    def g(name: String): Double = moments.getAs[Any](name) match {
      case d: Double => d; case l: Long => l.toDouble
    }
    val p = xCols.size
    val a = Array.tabulate(p, p) { (i, j) =>
      val (x1, x2) = if (xCols(i) <= xCols(j)) (xCols(i), xCols(j))
        else (xCols(j), xCols(i))
      g(s"c_${x1}_$x2")
    }
    val b = xCols.map(c => g(s"cy_$c")).toArray
    // Gaussian elimination with partial pivoting on the p×p system
    val m = Array.tabulate(p)(i => a(i) :+ b(i))
    for (c <- 0 until p) {
      val piv = (c until p).maxBy(r => math.abs(m(r)(c)))
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      require(math.abs(m(c)(c)) > 1e-12, "singular design matrix")
      for (r <- c + 1 until p; cc <- p to c by -1)
        m(r)(cc) -= m(r)(c) / m(c)(c) * m(c)(cc)
    }
    val beta = new Array[Double](p)
    for (c <- p - 1 to 0 by -1)
      beta(c) = (m(c)(p) - (c + 1 until p).map(j => m(c)(j) * beta(j)).sum) /
        m(c)(c)
    val intercept = g("my") -
      xCols.indices.map(j => beta(j) * g(s"m_${xCols(j)}")).sum
    val r2 = xCols.indices.map(j => beta(j) * b(j)).sum / g("vy")
    (moments.getAs[Long]("n"), intercept, beta, r2)
  }
}
