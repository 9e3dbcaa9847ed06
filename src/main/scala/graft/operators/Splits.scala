package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible dataset splitting for training pipelines. Unlike
  * `randomSplit` (seed- AND partitioning-dependent: a repartition reshuffles
  * rows across splits), a content-hash split is a pure function of the key —
  * stable across runs, cluster sizes, and re-reads, and new rows never move
  * existing rows between splits. That stability is what makes train/test
  * contamination auditable at 100 TB: membership is recomputable row-by-row.
  */
object Splits {

  /** Default bucketer: xxhash64 of the key into [0, 100). */
  def hashBucket(key: Column): Column = pmod(xxhash64(key), lit(100))

  /** Assign each row a split label from cumulative percentage boundaries,
    * e.g. `Seq("train" -> 80, "val" -> 90, "test" -> 100)` → 80/10/10.
    * `bucket` maps the key column into [0, 100); the default is
    * [[hashBucket]] (uniform even for clustered/sequential keys).
    *
    * Pure projection — no shuffle, no state; scales with scan bandwidth.
    */
  def hashSplit(df: DataFrame, keyCol: String,
                boundaries: Seq[(String, Int)],
                bucket: Column => Column = hashBucket): DataFrame = {
    require(boundaries.nonEmpty && boundaries.last._2 == 100,
      "boundaries must be cumulative percentages ending at 100")
    require(boundaries.map(_._2) == boundaries.map(_._2).sorted,
      "boundaries must be non-decreasing")
    val b = bucket(col(keyCol))
    val label = boundaries.init.foldRight(lit(boundaries.last._1)) {
      case ((name, hi), rest) => when(b < hi, name).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /** K-fold assignment for cross-validation: fold = stable hash of the key
    * mod k. Same stability contract as [[hashSplit]] — folds are
    * reproducible row-by-row, and all derived tables keyed the same way
    * fold identically.
    */
  def kFold(df: DataFrame, keyCol: String, k: Int,
            fold: Column => Column = c => xxhash64(c)): DataFrame = {
    require(k > 1)
    df.withColumn("fold", pmod(fold(col(keyCol)), lit(k)).cast("int"))
  }

  /** Content-hash sample: keep rows whose key hashes below `percent`. Same
    * stability rationale as [[hashSplit]] — unlike `df.sample`, membership
    * doesn't depend on partitioning or a per-run RNG stream, so a 1%
    * debug-slice of a 100 TB table is the SAME slice on every run, and
    * samples of related tables taken on a shared key line up (join-able).
    */
  def hashSample(df: DataFrame, keyCol: String, percent: Int,
                 bucket: Column => Column = hashBucket): DataFrame = {
    require(percent > 0 && percent <= 100)
    df.where(bucket(col(keyCol)) < percent)
  }

  /** Default deterministic uniform in (0, 1): xxhash64 of the key,
    * folded into 2⁴⁰ buckets with a half-bucket offset so 0 and 1 are
    * never produced (a zero would give every weight the same priority).
    */
  def hashUniform(key: Column): Column =
    (pmod(xxhash64(key), lit(1L << 40)).cast("double") + 0.5) /
      lit((1L << 40).toDouble)

  /** Weighted sampling WITHOUT replacement, k items with inclusion odds
    * ∝ `weightCol` (Efraimidis–Spirakis A-Res): each row draws priority
    * `u^(1/w)` from a deterministic uniform and the top-k priorities win.
    * The sample-∝-quality corpus-mixing primitive (weight = quality score,
    * token count, ...), with [[hashSplit]]'s auditability: membership is a
    * pure function of the data — stable across runs, partitioning and
    * appends (an appended row displaces at most the lowest survivor).
    *
    * Shape for scale: priority is a scan-side expression; selection is
    * `orderBy(...).limit(k)` → TakeOrderedAndProject (per-partition top-k,
    * K rows to the driver merge — never a global sort). Rows with
    * non-positive weight are excluded (they'd get priority 0 anyway in the
    * limit; excluding makes the contract explicit).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int,
                     uniform: Column => Column = hashUniform): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    df.where(col(weightCol) > 0)
      .withColumn("__priority",
        pow(uniform(col(keyCol)), lit(1.0) / col(weightCol)))
      .orderBy(col("__priority").desc, col(keyCol))
      .limit(k)
  }

  /** Per-GROUP weighted sampling without replacement: A-Res top-k WITHIN
    * each group — the per-language / per-source quality-weighted quota
    * (the grouped form of [[weightedSample]], where [[stratifiedSample]]
    * is the grouped form of a uniform draw). Ranking is distributed via
    * [[Ranks.groupedRunningSum]]: a per-group priority-sort window would
    * funnel each group through one task, and the group a quota exists to
    * tame is precisely the dominant one. Rows with non-positive weight
    * never sample; membership is a pure function of the data.
    */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
                             keyCol: String, weightCol: String, k: Int,
                             uniform: Column => Column = hashUniform)
      : DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val rn = Iterator.from(0).map(i => s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    val scored = df.where(col(weightCol) > 0)
      .withColumn("__priority",
        pow(uniform(col(keyCol)), lit(1.0) / col(weightCol)))
    Ranks.groupedRunningSum(scored, groupCols,
        Seq(col("__priority").desc, col(keyCol)), lit(1L), rn)
      .where(col(rn) <= k)
      .drop(rn)
  }

  /** Exact-quota stratified sample: from each stratum, keep the first
    * `ceil(fraction · stratum_size)` rows in a deterministic pseudo-random
    * order (default: md5 of the key, key as tiebreaker). This is the
    * corpus-MIXING primitive — per-source/per-language quotas must be hit
    * EXACTLY, which `sampleBy` (Bernoulli per row) cannot guarantee, and
    * the hash ordering makes the chosen rows a pure function of the data
    * (stable across runs and partitioning, auditable like [[hashSplit]]).
    *
    * Cost shape: one range shuffle on (strata, hash key) via
    * [[Ranks.groupedRunningSum]] — a stratum's rows spread across range
    * partitions instead of funnelling through one sort task, so a
    * dominant source (the 100 TB norm: one crawl is half the corpus)
    * costs its share of every executor, not one executor's everything.
    * Use [[hashSample]] when an approximate fraction suffices (no rank
    * at all).
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], fraction: Double,
                       keyCol: String): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    // temp names guaranteed absent from the input (a user column named
    // "__rn" would be silently clobbered and dropped otherwise)
    val rn = Iterator.from(0).map(i => s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    val cnt = Iterator.from(0).map(i => s"__cnt$i")
      .find(n => !df.columns.contains(n)).get
    Ranks.groupedRunningSum(df, strataCols,
        Seq(md5(col(keyCol).cast("string")), col(keyCol)), lit(1L),
        rn, totalCol = Some(cnt))
      .where(col(rn) <= ceil(lit(fraction) * col(cnt)))
      .drop(rn, cnt)
  }

  /** Balance a skewed corpus across groups by capping each group at `cap`
    * rows: groups at or under the cap pass through whole; larger groups
    * keep a deterministic pseudo-random `cap`-row subset (the same
    * hash-order recipe as [[stratifiedSample]], so membership is a pure
    * function of the data). This is the over-represented-source
    * REBALANCER: where [[stratifiedSample]] scales every stratum by one
    * fraction, this equalizes absolute sizes — the common shape for "no
    * single crawl dominates the mixture".
    *
    * Cost shape: one range shuffle on (group, hash key) via
    * [[Ranks.groupedRunningSum]] — the over-represented source this
    * operator exists to tame is exactly the group a per-group sort window
    * would funnel through one task.
    */
  def balancedDownsample(df: DataFrame, groupCols: Seq[String], cap: Long,
                         keyCol: String): DataFrame = {
    require(cap > 0, "cap must be positive")
    val rn = Iterator.from(0).map(i => s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    Ranks.groupedRunningSum(df, groupCols,
        Seq(md5(col(keyCol).cast("string")), col(keyCol)), lit(1L), rn)
      .where(col(rn) <= cap)
      .drop(rn)
  }

  /** Deterministic negative sampling for contrastive training: each anchor
    * pairs with `k` pseudo-random OTHER rows by pure arithmetic —
    * `neg = (id + 1 + mix(id, slot) mod (n-1)) mod n` can never return the
    * anchor itself, so there is no rejection loop. Requires ids dense in
    * [0, n) (the standard shape after a one-time id-densify pass);
    * generation is then scan-side with ZERO shuffle, and the only exchange
    * is whatever join the caller uses to materialize the negative's
    * payload. Membership is a pure function of the data: epochs are
    * reproducible, resumable, and identical across partitionings — none of
    * which `rand()`-based sampling gives.
    *
    * Returns (anchor_id, slot, neg_id) with slot in [1, k].
    */
  def negativePairs(df: DataFrame, idCol: String, k: Int, n: Long,
                    mix: (Column, Column) => Column =
                      (id, slot) => xxhash64(id, slot)): DataFrame = {
    require(k >= 1, "k must be positive")
    require(n >= 2, "need at least two rows to draw a negative")
    df.select(col(idCol).cast("long").as("anchor_id"))
      .select(col("anchor_id"),
        explode(sequence(lit(1L), lit(k.toLong))).as("slot"))
      .withColumn("neg_id",
        pmod(col("anchor_id") + lit(1L) +
          pmod(mix(col("anchor_id"), col("slot")), lit(n - 1)), lit(n)))
  }

  /** Sequence packing for LLM training: assign documents to consecutive
    * fixed-token-budget packs (context windows). Docs are ordered by
    * `orderCol` within each `partitionCols` shard; a doc lands in pack
    * `floor(tokens_before_it / budget)` — the deterministic streaming-
    * greedy rule (a doc may straddle its pack boundary; real loaders split
    * the straddler, which is a row-local decision downstream).
    *
    * `partitionCols` is the scale lever: packing is a running sum, so an
    * UNPARTITIONED call is a single-partition window (fine for one shard,
    * wrong for a corpus). At 100 TB you pack within shards — (split,
    * source, date, …) — which is also what keeps pack contents stable when
    * other shards change. Adds `pack_id`.
    */
  def packByBudget(df: DataFrame, orderCol: String, tokensCol: String,
                   budget: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0)
    import org.apache.spark.sql.expressions.Window
    val base = if (partitionCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("pack_id",
        floor((sum(col(tokensCol)).over(w) - col(tokensCol)) / lit(budget))
          .cast("long"))
  }

  /** Sentence-boundary chunking — RAG/retrieval prep: split text into
    * sentences (runs of `[.!?]` + whitespace; the terminator is consumed —
    * RE2-compatible, no lookbehind, so a SQL oracle can reproduce the
    * split exactly), then emit overlapping windows of `window` sentences
    * advancing by `stride`. Sentence-aligned chunks retrieve better than
    * token strides (q94), which cut mid-thought.
    *
    * Returns one row per chunk: `(idCol, chunk_idx, n_sentences_in_chunk,
    * chunk_text)`. Docs with no sentence content are omitted. Scan-side
    * generation (split + slice per row), shuffle-free until the caller
    * aggregates.
    */
  def sentenceChunks(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 3, stride: Int = 2): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window)
    val sents = filter(split(trim(col(textCol)), "[.!?]+\\s+"),
      s => length(s) > 0)
    // starts at 1, 1+stride, … ≤ n — trailing chunks may hold < window
    // sentences (standard sliding semantics, and SQL-mirrorable)
    val starts = sequence(lit(1), size(col("__sents")), lit(stride))
    df.select(col(idCol), sents.as("__sents"))
      .where(size(col("__sents")) >= 1)
      .select(col(idCol),
        posexplode(transform(starts, i => slice(col("__sents"), i, lit(window)))))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_sentences"),
        concat_ws(". ", col("col")).as("chunk_text"))
      .where(col("n_sentences") >= 1)
  }

  /** Materialize [[packByBudget]]'s assignment into actual training
    * sequences: one row per pack with the member docs' text concatenated
    * in `orderCol` order (`sep`-joined — the doc-boundary marker the
    * loader splits attention on), plus `n_docs` and `sum_tokens`.
    *
    * SCALE: the per-pack collect is BOUNDED BY THE BUDGET — a pack holds
    * at most `budget` tokens (plus one straddling doc), so group state is
    * a context-window of text, never a corpus skew risk. One doc-keyed
    * window (the assignment) + one pack-keyed aggregate.
    */
  def materializePacks(df: DataFrame, orderCol: String, tokensCol: String,
                       textCol: String, budget: Long,
                       partitionCols: Seq[String] = Nil,
                       sep: String = "\n\n"): DataFrame = {
    val packed = packByBudget(df, orderCol, tokensCol, budget, partitionCols)
    val keys = partitionCols :+ "pack_id"
    packed.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("sum_tokens"),
        concat_ws(sep,
          transform(
            array_sort(collect_list(struct(col(orderCol).as("__o"),
              col(textCol).as("__t")))),
            x => x("__t"))).as("seq_text"))
  }

  /** Materialized target-mixture sampling: KEEP the largest subset whose
    * `measureCol` mass hits the requested group shares exactly, without
    * upsampling — the executable form of `Analytics.mixtureWeights` (which
    * only reports the weights). The binding group is kept whole; every
    * other group downsamples to `target_g × total*` where
    * `total* = min_g (mass_g / target_g)`. Membership is md5-order (the
    * q100 idiom): a pure function of the data, so re-runs, repartitions,
    * and later cap raises keep prefix-stable subsets. Groups without a
    * positive target drop entirely.
    *
    * One aggregate for the group masses (group-count-sized), caps
    * broadcast back, one DISTRIBUTED per-group running mass
    * ([[Ranks.groupedRunningSum]] — the binding group is by construction
    * the corpus's biggest slice, the worst case for a per-group sort
    * window). A doc straddling its group's cap is excluded (mass never
    * exceeds target).
    */
  def mixtureSample(df: DataFrame, groupCol: String, measureCol: Column,
                    targets: Map[String, Double], idCol: String): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0))
    val tgt = targets.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, v).otherwise(acc)
    }
    val masses = df.groupBy(groupCol)
      .agg(sum(measureCol).cast("double").as("__n"))
      .withColumn("__t", tgt).where(col("__t") > 0)
    val scale = masses.agg(min(col("__n") / col("__t")).as("__total"))
    val caps = masses.crossJoin(broadcast(scale))
      .select(col(groupCol), (col("__t") * col("__total")).as("__cap"))
    Ranks.groupedRunningSum(
        df.join(broadcast(caps), Seq(groupCol)), Seq(groupCol),
        Seq(md5(col(idCol).cast("string")), col(idCol)), measureCol,
        "__run")
      .where(col("__run") <= col("__cap"))
      .drop("__run", "__cap")
  }

  /** Temperature-scaled mixture sampling — the multilingual/multi-source
    * rebalance of mT5 / XLM-R: target share of group g ∝ massᵍ^tau,
    * tau ∈ (0, 1] (tau = 1 keeps natural proportions, tau → 0 approaches
    * uniform — low-resource groups gain, head groups shrink), then a
    * deterministic exact-quota materialization: the total kept measure is
    * `budgetFraction` of the corpus measure, split across groups by the
    * tempered shares, and each group fills its cap in (md5(id), id) order
    * ([[mixtureSample]]'s rule — a straddling doc is excluded, so filled
    * mass never exceeds the cap). A group whose cap exceeds its natural
    * mass saturates at its mass (this engine samples, never repeats —
    * upsampling beyond 1 epoch is the training loop's job), so the
    * realized mixture can undershoot the tempered target; the caller
    * reads the realized shares off the output.
    *
    * Scale shape: ONE aggregate for group masses (group-count-sized),
    * share arithmetic on that tiny frame (scalar Σ mass^tau broadcast),
    * caps joined back WITHOUT a broadcast hint (group cardinality is
    * unguarded — AQE promotes it when small), and the per-group running
    * mass on the distributed [[Ranks.groupedRunningSum]] — no per-group
    * single-task window.
    */
  def temperatureSample(df: DataFrame, groupCol: String, measureCol: Column,
                        idCol: String, tau: Double,
                        budgetFraction: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    require(budgetFraction > 0 && budgetFraction <= 1,
      s"budgetFraction must be in (0,1]: $budgetFraction")
    val masses = df.groupBy(groupCol)
      .agg(sum(measureCol).cast("double").as("__n"))
      .where(col("__n") > 0)
      .withColumn("__w", pow(col("__n"), lit(tau)))
    val tot = masses.agg(sum("__w").as("__tw"), sum("__n").as("__tn"))
    val caps = masses.crossJoin(broadcast(tot))
      .select(col(groupCol),
        (col("__w") / col("__tw") * lit(budgetFraction) * col("__tn"))
          .as("__cap"))
    Ranks.groupedRunningSum(
        df.join(caps, Seq(groupCol)), Seq(groupCol),
        Seq(md5(col(idCol).cast("string")), col(idCol)), measureCol,
        "__run")
      .where(col("__run") <= col("__cap"))
      .drop("__run", "__cap")
  }

  /** Neyman allocation of a sampling budget across strata: the optimal
    * (variance-minimizing) split of `totalBudget` sample rows gives each
    * stratum `budget · N_h·S_h / Σ(N_h·S_h)` — big AND internally varied
    * strata earn more samples than big-but-uniform ones (where a handful
    * suffices). The planning step before a stratified quality-audit or
    * eval-set draw; pair the result with [[stratifiedSample]] per
    * stratum.
    *
    * One partial-aggregable (count, stddev) pass per stratum, a scalar
    * total broadcast back — nothing but stratum rows move. Single-row
    * strata (undefined S_h) allocate 0; callers wanting a floor can
    * clamp downstream.
    *
    * Returns (strataCols..., n_rows, stddev, allocation) — allocation
    * left fractional (deterministic; integerize downstream to taste).
    */
  def neymanAllocation(df: DataFrame, strataCols: Seq[String],
                       valueCol: String, totalBudget: Long): DataFrame = {
    require(strataCols.nonEmpty, "need at least one stratum column")
    require(totalBudget > 0, s"totalBudget must be positive: $totalBudget")
    val per = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        stddev_samp(col(valueCol).cast("double")).as("stddev"))
      .withColumn("__w", col("n_rows") * coalesce(col("stddev"), lit(0.0)))
    val tot = per.agg(sum("__w").as("__tw"))
    per.crossJoin(broadcast(tot))
      .withColumn("allocation",
        when(col("__tw") > 0, lit(totalBudget.toDouble) * col("__w") / col("__tw"))
          .otherwise(lit(0.0)))
      .drop("__w", "__tw")
  }

  /** Hamilton (largest-remainder) apportionment of an INTEGER budget
    * across groups ∝ mass — the exact integerizer [[neymanAllocation]]'s
    * fractional output defers ("how many training tokens does each source
    * actually get out of the 10¹² budget"). Each group's quota is
    * `budget · mass_g / Σ mass`; every group takes `floor(quota)`, and
    * the `budget − Σ floor` leftover units go one each to the largest
    * fractional remainders (ties → smaller group key, a total order both
    * engines can replay). Guarantees Σ allocation = budget EXACTLY and
    * |allocation − quota| < 1 — no drift for the training loop to absorb.
    *
    * Scale shape: one partial-aggregable mass rollup (group-count-sized),
    * one scalar total broadcast, and the remainder ranking on
    * [[Ranks.running]] — groups can number in the millions (per-domain ×
    * per-language cells) without a single-task global sort, and the
    * group frame is never collected. Zero/negative-mass groups allocate
    * 0 and do not compete for remainders.
    *
    * Returns (groupCols..., mass, quota, allocation).
    */
  def apportionBudget(df: DataFrame, groupCols: Seq[String],
                      measureCol: Column, budget: Long): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(budget >= 0, s"budget must be non-negative: $budget")
    val masses = df.groupBy(groupCols.map(col): _*)
      .agg(sum(measureCol).cast("double").as("mass"))
    val tot = masses.agg(
      sum(when(col("mass") > 0, col("mass")).otherwise(0.0)).as("__tm"))
    val quotas = masses.crossJoin(broadcast(tot))
      .withColumn("quota",
        when(col("mass") > 0 && col("__tm") > 0,
          lit(budget.toDouble) * col("mass") / col("__tm"))
          .otherwise(lit(0.0)))
      .withColumn("__fl", floor(col("quota")))
      .withColumn("__rem", col("quota") - col("__fl"))
    val pinned = quotas.localCheckpoint(eager = false) // feeds rank + scalar
    val short = pinned.agg(
      (lit(budget) - sum("__fl").cast("long")).as("__short"))
    // exact distributed rank on (remainder desc, group keys asc) — group
    // keys are unique per row post-groupBy, satisfying the Ranks contract
    Ranks.running(pinned,
        col("__rem").desc +: groupCols.map(col),
        rankCol = Some("__rk"))
      .crossJoin(broadcast(short))
      .withColumn("allocation",
        (col("__fl") +
          when(col("__rem") > 0 && col("__rk") <= col("__short"), 1L)
            .otherwise(0L)).cast("long"))
      .select(groupCols.map(col) ++
        Seq(col("mass"), col("quota"), col("allocation")): _*)
  }

  /** Leakage-free train/val/test split: near-duplicate CLUSTERS are the
    * split unit, not documents — a random doc-level split puts one copy
    * of a near-dup pair in train and its twin in test, and the eval set
    * silently measures memorization (the classic contaminated-benchmark
    * failure). Verified duplicate pairs (e.g.
    * [[Dedup.minhashCandidatePairs]] → [[Dedup.jaccardVerify]]) collapse
    * to connected components; each doc splits by its CLUSTER label
    * (singletons by their own id), so a cluster can never straddle
    * splits — by construction, not by audit. Returns every input row
    * plus (group_id, split).
    *
    * Shape for scale: CC runs on the verified PAIRS (candidate-sized);
    * the corpus is touched by one left join against the label set and the
    * scan-side bucket hash — [[Dedup.keepBestTransitiveVerified]]'s
    * budget with a split label instead of a survivor rank.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, dupPairs: DataFrame,
                    boundaries: Seq[(String, Int)],
                    bucket: Column => Column = hashBucket): DataFrame = {
    val labels = Dedup.connectedComponents(dupPairs)
      .select(col("id").as("__lid"), col("cluster").as("__lcl"))
    docs.join(labels, col(idCol) === col("__lid"), "left")
      .withColumn("group_id", coalesce(col("__lcl"), col(idCol)))
      .drop("__lid", "__lcl")
      .transform(d => hashSplit(d, "group_id", boundaries, bucket))
  }

  /** Distinct-value count up to which exact thresholds come from one
    * `percentile` over the whole per-value table; above it they are
    * computed distributively ([[exactThresholdsOf]]).
    */
  private[operators] val ExactDomainRows = 65536

  /** Exact `percentile(__v, fractions, __c)` thresholds over a pinned,
    * NULL-free per-value count table `(__v, __c)` of `nDistinct` rows,
    * with no single-task step: the running count
    * ([[Stats.groupedCumCounts]], range-partitioned) plus one aggregate
    * that picks the two bracketing order statistics per fraction and
    * interpolates with Percentile.getPercentile's arithmetic replayed
    * verbatim (position = (n−1)·p over the sorted multiset; value at
    * rank r = least value whose running count reaches r+1;
    * (higher−pos)·lo + (pos−lower)·hi). One row, column `__ths`.
    */
  private[operators] def exactThresholdsOf(counts: DataFrame, nDistinct: Long,
                                           fractions: Seq[Double]): DataFrame = {
    val cum = Stats.groupedCumCounts(
      counts.select(lit(1).as("__g"), col("__v"), col("__c")), "__g",
      pinnedCount = Some(nDistinct)) // the caller pinned and counted it
      .withColumn("__vd", col("__v").cast("double"))
    val thExprs = fractions.zipWithIndex.map { case (p, b) =>
      val pos = (col("__n") - 1).cast("double") * p
      val lower = floor(pos)
      val higher = ceil(pos)
      val lo = min(when(col("__cum") >= lower + 1, col("__vd")))
      val hi = min(when(col("__cum") >= higher + 1, col("__vd")))
      struct(first(lower, ignoreNulls = true).as("lower"),
        first(higher, ignoreNulls = true).as("higher"),
        first(pos, ignoreNulls = true).as("pos"),
        lo.as("lo"), hi.as("hi")).as(s"__t$b")
    }
    def interp(t: Column): Column =
      when(t.getField("higher") === t.getField("lower") ||
        t.getField("hi") === t.getField("lo"), t.getField("lo"))
        .otherwise(
          (t.getField("higher") - t.getField("pos")) * t.getField("lo") +
            (t.getField("pos") - t.getField("lower")) * t.getField("hi"))
    cum.agg(thExprs.head, thExprs.tail: _*)
      .select(array(fractions.indices.map(b => interp(col(s"__t$b"))): _*)
        .as("__ths"))
  }

  /** The same exact thresholds for a per-value count table already on the
    * driver: Spark's own `percentile` aggregate, evaluated locally over
    * the non-NULL `(value, count)` pairs. None when there is no pair.
    */
  private[operators] def exactThresholdsLocal(pairs: Iterable[(Double, Long)],
                                              fractions: Seq[Double]): Option[Array[Double]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val agg = new Percentile(BoundReference(0, DoubleType, nullable = false),
      Literal(new GenericArrayData(fractions.toArray),
        ArrayType(DoubleType, containsNull = false)),
      BoundReference(1, LongType, nullable = false))
    val buffer = agg.createAggregationBuffer()
    pairs.foreach { case (value, n) => agg.update(buffer, InternalRow(value, n)) }
    Option(agg.eval(buffer)).map(_.asInstanceOf[ArrayData].toDoubleArray())
  }

  /** Quantile-bucketed curriculum assignment: split the corpus into
    * `numBuckets` equal-population difficulty tiers by `valueCol` (length,
    * perplexity, quality score …) — the curriculum-learning ordering key,
    * and the scale-correct alternative to `ntile()` (whose global window
    * single-partition-sorts the corpus). Adds `bucket` ∈ [0, numBuckets):
    * the count of thresholds strictly below the row's value.
    *
    * Thresholds come from ONE global percentile aggregate (a scalar row
    * that broadcasts back — the A5 pattern); bucketing is then scan-side.
    * Default is the EXACT percentile (deterministic, oracle-matchable —
    * but it holds the column in memory per partial, so at corpus scale
    * pass `approxAccuracy` to switch to the GK sketch, same plan shape).
    */
  def quantileBuckets(df: DataFrame, valueCol: String, numBuckets: Int,
                      approxAccuracy: Option[Int] = None): DataFrame = {
    require(numBuckets >= 2)
    val fractions = (1 until numBuckets).map(_.toDouble / numBuckets)
    val ps = array(fractions.map(lit): _*)
    // Column API with explicit backtick quoting, not SQL-string
    // interpolation: a bare col()/SQL reference would parse a dot in the
    // name as a struct-field path and fail to resolve (or hit a nested
    // field); quoting makes any name — dots, spaces, hyphens — literal
    val v = df("`" + valueCol.replace("`", "``") + "`")
    val ths = approxAccuracy match {
      case Some(acc) => df.agg(percentile_approx(v, ps, lit(acc)).as("__ths"))
      case None =>
        // Exact thresholds without the value-domain funnel. Spark's
        // `percentile` aggregate merges EVERY distinct value of the
        // column into one final task (an object-hash value→count map) —
        // measured 2.6 s of a 4.8 s query on the 583k-distinct price
        // column at sf0.1, and a straight OOM at corpus scale on a
        // continuous column. Route by the MEASURED distinct-domain size
        // over a pinned per-value count table (partial aggs, compact
        // (value, count) shuffle):
        //  - small domains keep the single aggregate, now fed the
        //    compacted pairs through its frequency parameter — the same
        //    buffered map, built from ≤ 64k entries instead of raw rows;
        //  - large domains compute each threshold distributively
        //    ([[exactThresholdsOf]]).
        // Both routes produce bit-identical thresholds, so the routing
        // probe only affects the plan, never the result.
        val counts = df.where(v.isNotNull)
          .groupBy(v.as("__v")).agg(count(lit(1)).as("__c"))
          .localCheckpoint(eager = true)
        val nDistinct = counts.count()
        if (nDistinct <= ExactDomainRows)
          counts.agg(percentile(col("__v"), ps, col("__c")).as("__ths"))
        else exactThresholdsOf(counts, nDistinct, fractions)
    }
    df.crossJoin(broadcast(ths))
      .withColumn("bucket",
        size(filter(col("__ths"), t => v > t)))
      .drop("__ths")
  }

  /** Expanding-window time-series cross-validation folds: the event stream
    * is cut at k+1 TIME boundaries (quantiles of the DISTINCT timestamps —
    * every row of one timestamp stays on one side of every cut, so a fold
    * can never leak future rows that share its boundary instant); fold f
    * trains on everything up to cut f and tests on (cut f, cut f+1]. The
    * standard backtest protocol — a random k-fold on time-series data
    * leaks the future into training.
    *
    * Returns one row per fold: train row count, test row count, and the
    * train-end boundary timestamp.
    *
    * SCALE: the full stream is touched only by a per-timestamp count
    * aggregate (one shuffle on ts, partial map-side). Tile assignment is
    * EXACT ntile semantics over the distinct timestamps — but computed
    * with the distributed-rank pattern instead of a global-sort window:
    * range-partition the distinct-ts table on ts, count each partition
    * (tiny, one row per partition), broadcast the cumulative offsets
    * back, and rank = offset + within-partition row_number. The only
    * windows are per-range-partition (each holding ~n/P timestamps) and
    * over the P-row partition-count table, so an event log with
    * per-row-unique microsecond timestamps (distinct-ts ≈ N) still never
    * funnels through one task — the naive `ntile(k+1) OVER (ORDER BY ts)`
    * would single-partition-sort the whole corpus in that shape.
    */
  def expandingTimeFolds(df: DataFrame, tsCol: String, k: Int): DataFrame = {
    require(k >= 1, "need at least one fold")
    import org.apache.spark.sql.expressions.Window
    val perTs = df.groupBy(col(tsCol).as("__ts"))
      .agg(count(lit(1)).as("__n"))
    // Distributed exact rank of each distinct ts (ties impossible post
    // group-by). Range partitions are ordered by ts, so global rank =
    // (rows in earlier partitions) + (row_number within this partition).
    // pinned: the offsets and row sides must read ONE physical range
    // partitioning (the Ranks.running pin rationale — exchange reuse is
    // not reliable under a busy AQE session)
    val ranged = perTs.repartitionByRange(col("__ts"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val offsets = ranged.groupBy("__pid").agg(count(lit(1)).as("__pc"))
      .withColumn("__off", coalesce(sum("__pc").over(
        Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__total", sum("__pc").over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select("__pid", "__off", "__total")
    val ranked = ranged.join(broadcast(offsets), "__pid")
      .withColumn("__rank", col("__off") +
        row_number().over(Window.partitionBy("__pid").orderBy("__ts")))
    // ntile(g) closed form from (rank, total): the first `rem` tiles get
    // base+1 rows, the rest get base. Doubles are exact to 2^53 — far
    // beyond any real distinct-ts count.
    val g = k + 1
    val base = floor(col("__total") / g).cast("long")
    val rem = col("__total") - base * g
    val bigSpan = rem * (base + lit(1L))
    val tiled = ranked.withColumn("__tile",
      when(col("__rank") <= bigSpan,
        ceil(col("__rank").cast("double") / (base + lit(1L))))
        .otherwise(rem + ceil((col("__rank") - bigSpan).cast("double") / base))
        .cast("int"))
    val perTile = tiled.groupBy("__tile")
      .agg(sum("__n").as("__rows"), max("__ts").as("__end"))
    val ordered = Window.orderBy(col("__tile"))
    perTile
      .withColumn("train_rows",
        sum("__rows").over(ordered.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("test_rows", lead(col("__rows"), 1).over(ordered))
      .where(col("__tile") <= k)
      .select(col("__tile").cast("long").as("fold"),
        col("train_rows").cast("long").as("train_rows"),
        col("test_rows").cast("long").as("test_rows"),
        col("__end").as("train_end"))
  }

  /** Chunk long documents into ≤ `maxTokens`-token pieces with
    * `overlap`-token overlap — training-sequence construction for
    * fixed-context models (the complement of [[packByBudget]], which packs
    * SHORT docs together; this splits LONG ones). Tokens are the
    * whitespace tokenization the corpus stats use; chunk i covers token
    * range [i·(maxTokens−overlap), i·(maxTokens−overlap)+maxTokens).
    * Pure expressions — tokenize once, `sequence`+`explode` the chunk
    * index, `slice` the token array — so the work is scan-side and the
    * only wide op downstream is whatever consumes the chunks. Emits
    * (id, chunk_idx, n_tokens, chunk_hash); the hash (md5 of the
    * space-joined slice) lets dedup/contamination run per-chunk without
    * carrying chunk text through shuffles.
    */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  maxTokens: Int, overlap: Int): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    val toks = array_remove(split(col(textCol), "\\s+"), "")
    val nTok = size(toks)
    // ceil((nTok - overlap) / stride) chunks, min 1 so empty docs keep a row
    val nChunks = greatest(lit(1),
      ceil((nTok - lit(overlap)).cast("double") / stride).cast("int"))
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(maxTokens))
          .as("__chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("__chunk"), " ")).as("chunk_hash"))
  }

  /** Padding-waste profile for length-bucketed training batches: when
    * sequences are batched, every row in a batch pads to the batch max,
    * so tokens burned = Σ(batch_max − len). Length-bucketed batching
    * (bucket by `floor(len / bucketWidth)`, batch within the bucket)
    * bounds that waste by the BUCKET max — this profile reports, per
    * bucket, the worst-case padded waste against the bucket max, plus
    * each bucket's share of the corpus, which is exactly the table a
    * batching config review needs ("width 128 wastes 4%; width 512
    * wastes 19%; the tail bucket holds 0.1% of docs").
    *
    * One hash aggregate over the (bounded) bucket domain — no sort, no
    * window, no simulation; at 100 TB this is a scan. Returns one row
    * per non-empty bucket: (bucket, bucket_lo, n_seqs, sum_tokens,
    * max_tokens, padded_tokens, waste_ratio), waste_ratio =
    * padded / (sum + padded) — the fraction of batch compute burned.
    */
  def paddingWaste(df: DataFrame, tokensCol: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val len = col(tokensCol).cast("long")
    df
      .groupBy(floor(len / bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_seqs"), sum(len).as("sum_tokens"),
        max(len).as("max_tokens"))
      .withColumn("bucket_lo", col("bucket") * bucketWidth)
      .withColumn("padded_tokens",
        col("n_seqs") * col("max_tokens") - col("sum_tokens"))
      .withColumn("waste_ratio",
        col("padded_tokens").cast("double") /
          (col("sum_tokens") + col("padded_tokens")))
      .select("bucket", "bucket_lo", "n_seqs", "sum_tokens", "max_tokens",
        "padded_tokens", "waste_ratio")
  }
}
