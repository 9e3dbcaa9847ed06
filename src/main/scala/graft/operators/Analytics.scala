package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed query-template API — the Scala embodiment of the reference's five
  * `analyze_*` driver functions (SURVEY.md §2.10). Each builder composes a
  * declarative plan (join → group → agg → sort) and returns the DataFrame;
  * no display side effects. At scale these plans rely on Catalyst for
  * predicate pushdown/column pruning and on AQE for shuffle sizing; dims are
  * broadcast automatically below the threshold set in [[graft.Engine]].
  */
object Analytics {

  /** A1/O1 core template (`analyze_trip_data`, nb:1828-1848): group a fact
    * by one or more columns, apply aggregates, sort desc on the first
    * aggregate's alias. `tieBreakers` makes top-K deterministic
    * (SURVEY.md §7.4 risk 5) without changing reference semantics.
    */
  def aggregateBy(fact: DataFrame, groupCols: Seq[String], aggs: Seq[Column],
                  tieBreakers: Seq[Column] = Nil): DataFrame = {
    val out = fact.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val sortKey = col(out.columns(groupCols.length)).desc
    out.orderBy(sortKey +: tieBreakers: _*)
  }

  /** A2 (`analyze_duration_by_*`, nb:3316-3870): join the fact to a dim on
    * a key, then aggregate by a dim attribute. The dim is typically small —
    * Catalyst broadcasts it; no shuffle of the fact on the dim key.
    */
  def aggregateOverJoin(fact: DataFrame, dim: DataFrame, joinKey: String,
                        groupCols: Seq[String], aggs: Seq[Column],
                        tieBreakers: Seq[Column] = Nil): DataFrame =
    aggregateBy(fact.join(dim, Seq(joinKey)), groupCols, aggs, tieBreakers)

  /** `analyze_member_payment_data` shape (nb:4933-4956): filter the dim
    * BEFORE the join (manual pushdown the reference does by hand, F3) —
    * at 100 TB this is the difference between broadcasting the full dim and
    * broadcasting the selected slice.
    */
  def aggregateOverFilteredJoin(fact: DataFrame, dim: DataFrame, dimFilter: Column,
                                joinKey: String, groupCols: Seq[String],
                                aggs: Seq[Column],
                                tieBreakers: Seq[Column] = Nil): DataFrame =
    aggregateOverJoin(fact, dim.where(dimFilter), joinKey, groupCols, aggs, tieBreakers)

  /** O3 — top-K: sort desc + limit; Spark plans TakeOrderedAndProject, so
    * only K rows per partition ever reach the driver-side merge.
    */
  def topK(df: DataFrame, k: Int): DataFrame = df.limit(k)

  /** Temperature-scaled mixture allocation — the multilingual pre-training
    * recipe (mBERT/XLM-R style): sampling probability
    * `p_g = share_g^τ / Σ share_h^τ` flattens the natural distribution
    * toward uniform as τ → 0 (low-resource groups up-weighted), keeps it
    * proportional at τ = 1. Returns per group: natural share, temperature
    * share, and the token allocation out of `budgetTokens`.
    *
    * One group aggregate (group-count-sized result); the Σ share^τ
    * normalizer is a broadcast scalar (A5 pattern). Feed the allocation to
    * [[Splits.mixtureSample]] to materialize the subset.
    */
  def temperatureAllocation(df: DataFrame, groupCol: String, measure: Column,
                            temperature: Double,
                            budgetTokens: Long): DataFrame = {
    require(temperature > 0 && budgetTokens > 0)
    val masses = df.groupBy(groupCol).agg(sum(measure).cast("double").as("__n"))
    val tot = masses.agg(sum("__n").as("__tot"))
    val shared = masses.crossJoin(broadcast(tot))
      .withColumn("share", col("__n") / col("__tot"))
      .withColumn("__pt", pow(col("share"), temperature))
    val norm = shared.agg(sum("__pt").as("__z"))
    shared.crossJoin(broadcast(norm))
      .select(col(groupCol), col("__n").cast("long").as("n_tokens"),
        col("share"), (col("__pt") / col("__z")).as("temp_share"),
        floor(col("__pt") / col("__z") * budgetTokens).cast("long")
          .as("alloc_tokens"))
  }

  /** Tokenizer-fertility report per group (usually language): pre-tokens
    * per whitespace word and characters per pre-token, over
    * [[graft.functions.Text.preTokenize]]'s GPT-2-style split. Fertility
    * is THE multilingual-tokenizer health metric — a tokenizer tuned on
    * English fragments non-Latin scripts into many more pieces per word,
    * which silently taxes those languages' effective context length and
    * training budget (the signal feeding [[temperatureAllocation]]).
    *
    * One scan computes all per-doc counts in a projection (no explode —
    * only array sizes leave the row), then one group-count-sized
    * aggregate. Zero joins, one shuffle of 4-long rows.
    */
  def tokenizerFertility(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val t = graft.functions.Text
    df.select(col(groupCol),
        t.tokenCount(col(textCol)).cast("long").as("__w"),
        size(t.preTokenize(col(textCol))).cast("long").as("__t"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__w").as("n_words"), sum("__t").as("n_tokens"),
        round(sum("__t").cast("double") / sum("__w"), 4).as("fertility"),
        round(sum("__c").cast("double") / sum("__t"), 4)
          .as("chars_per_token"))
  }

  /** Trained-tokenizer compression audit per source: UTF-8 corpus bytes ÷
    * BPE tokens — the pre-training health check that catches a source the
    * tokenizer compresses badly (markup floods, unsegmented scripts,
    * binary-ish noise) BEFORE it silently eats the token budget; per-doc
    * p50/p95 bytes-per-token expose within-source outliers a corpus mean
    * hides. Complements [[tokenizerFertility]], which profiles the
    * tokenizer-INDEPENDENT pre-token split per language — this one scores
    * the actual trained merge table ([[graft.functions.Text.bpeMerges]] →
    * [[graft.functions.Text.bpeSegment]]) against each source.
    *
    * One scan: byte and subword counts leave each row as two longs (the
    * merge table rides scan-side in the segmentation expression — no
    * explode, no join), then one source-count-sized aggregate whose only
    * non-algebraic term is the exact per-doc-ratio percentile pair — swap
    * `percentile_approx` in at petabyte scale, the q51/q157 convention.
    * A document segmenting to zero tokens contributes null ratios (both
    * engines' percentiles skip nulls) and a tokenless source reports null
    * bytes_per_token rather than a division error.
    *
    * Returns one row per group: (group, n_docs, n_bytes, n_tokens,
    * bytes_per_token, p50_doc_bpt, p95_doc_bpt).
    */
  def bpeCompressionAudit(df: DataFrame, groupCol: String, textCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need a trained merge table")
    val per = df.select(col(groupCol),
        octet_length(col(textCol)).cast("long").as("__b"),
        size(graft.functions.Text.bpeSegment(col(textCol), merges))
          .cast("long").as("__t"))
      .withColumn("__r",
        when(col("__t") > 0, col("__b").cast("double") / col("__t")))
    per.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("__b").as("n_bytes"),
        sum("__t").as("n_tokens"),
        when(sum("__t") > 0,
          round(sum("__b").cast("double") / sum("__t"), 6))
          .as("bytes_per_token"),
        round(percentile(col("__r"), lit(0.5)), 6).as("p50_doc_bpt"),
        round(percentile(col("__r"), lit(0.95)), 6).as("p95_doc_bpt"))
  }

  /** Data-constrained repeat allocation (the "Scaling Data-Constrained
    * Language Models" regime): split `budgetTokens` of training across
    * sources proportionally to their UNIQUE token mass, but cap each
    * source at `epochCaps(source)` epochs (quality tiers repeat more;
    * raw web maybe once). The exact waterfill: a single repeat rate λ
    * applies to every uncapped source, capped sources contribute
    * `cap × unique`, and λ solves `Σ min(cap_g, λ) × u_g = budget` —
    * computed CLOSED-FORM by sorting groups by cap and scanning prefix
    * sums (the binding set of a waterfill is a prefix of the cap-sorted
    * order), no iteration. If the budget exceeds total capacity
    * (`Σ cap_g × u_g`), every source caps and `budget_met` is false.
    *
    * Returns per group: `n_tokens` (unique), `epoch_cap`, `epochs`
    * (= min(cap, λ), rounded 4dp), `alloc_tokens`, `budget_met`.
    *
    * Shape for scale: one fact-sized aggregate to group masses, then ALL
    * window work runs over the group-count-sized table (≤ #sources rows —
    * the "global sort" is of a handful of rows), and λ broadcasts back as
    * a one-row scalar. Token sums stay LONG until the final division, so
    * λ is deterministic — no float-summation-order drift.
    */
  def repeatAllocation(df: DataFrame, groupCol: String, measure: Column,
                       budgetTokens: Long, epochCaps: Map[String, Double],
                       defaultCap: Double = 1.0): DataFrame = {
    require(budgetTokens > 0 && defaultCap > 0 &&
      epochCaps.values.forall(_ > 0))
    import org.apache.spark.sql.expressions.Window
    val capExpr = epochCaps.foldLeft(lit(defaultCap)) {
      case (acc, (g, c)) => when(col(groupCol) === g, c).otherwise(acc)
    }
    // group-count-sized; pinned because it feeds both the scan and the
    // total (one fact aggregate, not two)
    val masses = df.groupBy(groupCol)
      .agg(sum(measure).cast("long").as("__u"))
      .withColumn("__cap", capExpr)
      .localCheckpoint()
    // cap-sorted prefix scan over ≤ #groups rows (group-tiebroken: total
    // order, so every cumulative sum is deterministic; the unpartitioned
    // window is safe — it sorts #sources rows, not the fact)
    val w = Window.orderBy(col("__cap"), col(groupCol))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val scanned = masses
      .withColumn("__rn", row_number().over(w))
      .withColumn("__capPrev",
        coalesce(sum(col("__cap") * col("__u")).over(wPrev), lit(0.0)))
      .withColumn("__uPrev", coalesce(sum("__u").over(wPrev), lit(0L)))
      .crossJoin(broadcast(masses.agg(sum("__u").as("__utot"))))
      // λ if every group from this row on is uncapped: spend what the
      // capped prefix left, spread over the remaining unique mass
      .withColumn("__lam",
        (lit(budgetTokens.toDouble) - col("__capPrev")) /
          (col("__utot") - col("__uPrev")).cast("double"))
    // the waterfill boundary: the FIRST cap-sorted row whose own cap does
    // not bind (λ ≤ cap); absent ⇒ budget exceeds capacity, all cap
    val lamStar = scanned.where(col("__lam") <= col("__cap"))
      .agg(min_by(col("__lam"), col("__rn")).as("__lamStar"))
    scanned.crossJoin(broadcast(lamStar))
      .select(col(groupCol), col("__u").as("n_tokens"),
        col("__cap").as("epoch_cap"),
        round(least(col("__cap"), coalesce(col("__lamStar"),
          col("__cap"))), 4).as("epochs"),
        round(least(col("__cap"), coalesce(col("__lamStar"), col("__cap"))) *
          col("__u"), 4).as("alloc_tokens"),
        col("__lamStar").isNotNull.as("budget_met"))
  }

  /** Corpus-mixture reweighting: each group's actual share of a measure
    * (token counts, bytes, rows) vs its target share, and the sampling
    * weight `target / actual` that hits the target mixture — what a
    * training-data pipeline computes before up/down-sampling sources. A
    * group absent from `targets` gets target 0 (weight 0 = drop).
    *
    * One partial+final aggregate over the fact; the per-group rows
    * (≪ fact) cross a broadcast one-row total; targets ship as a literal
    * map. Feed the weights to [[Splits.stratifiedSample]] (exact quotas)
    * or [[Splits.hashSample]] (approximate, shuffle-free).
    */
  def mixtureWeights(df: DataFrame, groupCol: String, measure: Column,
                     targets: Map[String, Double]): DataFrame = {
    require(targets.values.forall(_ >= 0), "target shares must be >= 0")
    val targetExpr = targets.foldLeft(lit(0.0)) { case (acc, (g, w)) =>
      when(col(groupCol) === g, w).otherwise(acc)
    }
    val actual = df.groupBy(groupCol).agg(sum(measure).as("measure"))
    val total = actual.agg(sum("measure").cast("double").as("__tot"))
    actual.crossJoin(broadcast(total))
      .select(col(groupCol), col("measure"),
        (col("measure").cast("double") / col("__tot")).as("actual_share"),
        targetExpr.as("target_share"),
        (targetExpr / (col("measure").cast("double") / col("__tot")))
          .as("weight"))
  }

  /** Top-k rows per group WITHOUT a window sort — a k-bounded
    * [[graft.functions.expressions.TopKAgg]] buffer per group, maintained
    * map-side, so the shuffle carries ≤ k entries per group per map task
    * instead of every group row (`row_number() OVER (PARTITION BY ...)`
    * ships and sorts the full group). Ordering (ord desc, tie asc) is
    * total, so the result is deterministic and window-equivalent.
    *
    * Returns one row per kept entry: groupCols..., `rank` (1-based),
    * `ord` (double), `tie` (long).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], ordCol: String,
                   tieCol: String, k: Int): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.expressions.TopKAgg
        .topK(col(ordCol), col(tieCol), k).as("__topk"))
      .select(groupCols.map(col) :+
        posexplode(col("__topk")).as(Seq("__pos", "__e")): _*)
      .select(groupCols.map(col) ++ Seq(
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.ord").as("ord"), col("__e.tie").as("tie")): _*)
  }

  /** Trimmed mean per group: the mean of values inside the
    * [lo, hi]-percentile band — the robust central-tendency aggregate
    * (a handful of giant or corrupt rows can't move it, unlike avg; the
    * metric dashboards actually want this for latency/length columns).
    * Returns (groupCols..., n, n_kept, lo_cut, hi_cut, trimmed_mean).
    *
    * Two group-keyed passes: ONE exact-percentile aggregate for the cut
    * points (partial-aggregable; swap `percentile_approx` at petabyte
    * group sizes) broadcast back, then a conditional mean over the band.
    * The band is INCLUSIVE of the cuts, matching the interpolated-
    * percentile convention DuckDB's quantile_cont shares.
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 ≤ lo < hi ≤ 1: $lo/$hi")
    val v = col(valueCol).cast("double")
    val cuts = df.groupBy(col(groupCol))
      .agg(percentile(v, lit(lo)).as("lo_cut"),
        percentile(v, lit(hi)).as("hi_cut"))
    df.join(broadcast(cuts), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(v.between(col("lo_cut"), col("hi_cut")), 1L)
          .otherwise(0L)).as("n_kept"),
        first(col("lo_cut")).as("lo_cut"),
        first(col("hi_cut")).as("hi_cut"),
        avg(when(v.between(col("lo_cut"), col("hi_cut")), v))
          .as("trimmed_mean"))
  }

  /** Per-group robust scaling — median/IQR standardization of a score
    * column WITHIN each group, the cross-source calibration step that
    * makes quality scores comparable before a global threshold or
    * mixture weighting is applied (a raw "length" or "perplexity" cut
    * means different things in different sources; a robust z of +3 means
    * the same thing everywhere). Median/IQR rather than mean/stddev so a
    * source's own outliers don't stretch its scale.
    *
    * robust_z = clip((x − median) / (q75 − q25), ±clip); groups with a
    * degenerate IQR of 0 scale to 0 (every value is "typical").
    *
    * Shape for scale: ONE exact-percentile aggregate per group (Spark's
    * `percentile` — a partial-aggregable sketchless digest; swap in
    * `percentile_approx` at petabyte group sizes), broadcast back onto
    * the rows — no window over the fact, no per-row shuffle beyond the
    * one the group join needs; with few groups the join is a broadcast
    * hash join and the fact never shuffles at all.
    */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String,
                  clip: Double = 3.0): DataFrame = {
    require(clip > 0, s"clip must be positive: $clip")
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(col(groupCol))
      .agg(percentile(v, lit(0.25)).as("__q25"),
        percentile(v, lit(0.5)).as("__med"),
        percentile(v, lit(0.75)).as("__q75"))
    df.join(broadcast(stats), groupCol)
      .withColumn("robust_z",
        when(col("__q75") === col("__q25"), lit(0.0))
          .otherwise(greatest(lit(-clip), least(lit(clip),
            (v - col("__med")) / (col("__q75") - col("__q25"))))))
      .drop("__q25", "__med", "__q75")
  }

  /** Cross-group quantile normalization: map every group's value
    * distribution onto the GLOBAL distribution, so a score of "p-th
    * percentile within source X" becomes the value the WHOLE corpus has
    * at percentile p — the cross-source score harmonizer (one source's
    * quality scorer runs hot, another cold; after this, "keep score ≥ t"
    * cuts every source at the same population depth).
    *
    * Value-domain formulation end to end: per-(group, value) counts with
    * a DISTRIBUTED running sum ([[Stats.groupedCumCounts]] — no per-group
    * full-domain window, so a continuous score column never funnels a
    * group through one task) give each value its midpoint ECDF
    * p = (cum − t/2)/n INSIDE its group; the global distinct-value table
    * gets its ECDF from [[Ranks.runningSum]] (the only unpartitioned
    * windows are over the ≤P-row partition-totals table). The inverse-CDF
    * lookup — smallest global value whose ECDF reaches p — is a SORTED
    * MERGE: probes (key = p) and refs (key = global ECDF) share one range
    * partitioning and the suffix-min of the ref value at-or-after each
    * probe is the answer (ECDF is strictly increasing over the distinct
    * values), replacing the former |group domain| × |global domain|
    * broadcast inequality join. Returns one row per (group, value):
    * (groupCol, valueCol, p, mapped).
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    // pinned: the group-ECDF and global-ECDF paths aggregate it through
    // DIFFERENT exchanges, so no ReusedExchange can share the fact scan
    val per = df.groupBy(col(groupCol).as("__g"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val grp = Stats.groupedCumCounts(per, "__g")
      .withColumn("p",
        (col("__cum") - col("__c") / 2.0) / col("__n"))
    val globCounts = per.groupBy(col("__v").as("__gv"))
      .agg(sum("__c").as("__gt"))
    val gtot = globCounts.agg(sum("__gt").as("__gn"))
    val refs = Ranks.runningSum(globCounts, Seq(col("__gv")), "__gt", "__gcum")
      .crossJoin(broadcast(gtot))
      .select(lit(null).cast(per.schema("__g").dataType).as("__g"),
        lit(null).cast("double").as("__v"),
        lit(null).cast("double").as("p"),
        (col("__gcum").cast("double") / col("__gn")).as("__key"),
        lit(1).as("__side"),
        col("__gv").as("__refv"))
    val probes = grp.select(col("__g"), col("__v"), col("p"),
      col("p").as("__key"), lit(0).as("__side"),
      lit(null).cast("double").as("__refv"))
    // refs sort AFTER probes at an equal key, so a ref whose ECDF equals p
    // is inside the probe's inclusive suffix — the >= convention exactly
    Ranks.running(probes.unionByName(refs),
        order = Seq(col("__key"), col("__side")),
        suffixMins = Seq("__refv" -> "mapped"))
      .where(col("__side") === 0)
      .select(col("__g").as(groupCol), col("__v").as(valueCol),
        col("p"), col("mapped"))
  }

  /** Mix-shift decomposition of a topline metric move between two periods
    * — the root-cause question every "why did the average drop" thread
    * asks: did SEGMENTS get worse (within effect), or did traffic SHIFT
    * toward worse segments (mix effect)? With per-segment weight w
    * (row share) and mean r,
    *
    *   M_b − M_a = Σ w_a·(r_b − r_a)   (within: same mix, new rates)
    *             + Σ (w_b − w_a)·r_b   (mix: new rates, shifted weights)
    *
    * — an exact identity, segment by segment (a segment absent from a
    * period enters with w = 0, r = 0, and the identity still holds;
    * asserted in spec). Returns one row per segment:
    * (segment, w_a, w_b, r_a, r_b, within_effect, mix_effect) — the two
    * effect columns sum to the topline delta.
    *
    * One (segment, period)-keyed aggregate + two scalar totals broadcast;
    * segment cardinality is the only state.
    */
  def mixShiftDecomposition(df: DataFrame, segmentCol: String,
                            periodCol: String, periodA: String,
                            periodB: String, valueCol: String): DataFrame = {
    val p = col(periodCol).cast("string")
    val v = col(valueCol).cast("double")
    val per = df.where(p.isin(periodA, periodB))
      .groupBy(col(segmentCol).as("segment"))
      .agg(sum(when(p === periodA, 1L).otherwise(0L)).as("__na"),
        sum(when(p === periodB, 1L).otherwise(0L)).as("__nb"),
        sum(when(p === periodA, v).otherwise(0.0)).as("__sa"),
        sum(when(p === periodB, v).otherwise(0.0)).as("__sb"))
    val tot = per.agg(sum("__na").as("__ta"), sum("__nb").as("__tb"))
    per.crossJoin(broadcast(tot))
      .withColumn("w_a", col("__na") / col("__ta"))
      .withColumn("w_b", col("__nb") / col("__tb"))
      .withColumn("r_a", when(col("__na") > 0, col("__sa") / col("__na"))
        .otherwise(0.0))
      .withColumn("r_b", when(col("__nb") > 0, col("__sb") / col("__nb"))
        .otherwise(0.0))
      .withColumn("within_effect", col("w_a") * (col("r_b") - col("r_a")))
      .withColumn("mix_effect", (col("w_b") - col("w_a")) * col("r_b"))
      .select("segment", "w_a", "w_b", "r_a", "r_b", "within_effect",
        "mix_effect")
  }

  /** Snapshot reconciliation — the row-level diff between two versions of
    * a table: per key, `added` (only in `after`), `removed` (only in
    * `before`), `changed` (present in both, any compare column differs —
    * null-safe, so NULL→value and value→NULL count as changes), or
    * `unchanged`. `changed_cols` lists the differing compare columns in
    * declaration order (comma-joined — replayable in plain SQL), empty
    * for the other statuses. The audit that runs after every backfill,
    * compaction, or migration: "what did this rewrite actually touch?"
    *
    * Scale shape: ONE full-outer shuffle join on the key columns
    * (null-safe match — a null key is a real key), all comparisons
    * scan-side projections; no window, no second pass. Aggregate the
    * output by `status` for the one-row summary.
    *
    * Keys must be unique per side (it's a diff, not a bag compare) —
    * duplicate keys fan out the join and double-count; pre-aggregate or
    * fingerprint first if the table has no natural key.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(compareCols.nonEmpty, "need at least one compare column")
    val aSide = before.select((keyCols ++ compareCols).map(col): _*)
      .select(keyCols.map(k => col(k).as(s"__ka_$k")) ++
        compareCols.map(c => col(c).as(s"__ca_$c")) :+
        lit(1).as("__pa"): _*)
    val bSide = after.select((keyCols ++ compareCols).map(col): _*)
      .select(keyCols.map(k => col(k).as(s"__kb_$k")) ++
        compareCols.map(c => col(c).as(s"__cb_$c")) :+
        lit(1).as("__pb"): _*)
    val cond = keyCols.map(k => col(s"__ka_$k") <=> col(s"__kb_$k"))
      .reduce(_ && _)
    val diffs = compareCols.map(c =>
      when(!(col(s"__ca_$c") <=> col(s"__cb_$c")), lit(c)))
    aSide.join(bSide, cond, "full_outer")
      .withColumn("__changed",
        array_compact(array(diffs: _*)))
      .withColumn("status",
        when(col("__pa").isNull, lit("added"))
          .when(col("__pb").isNull, lit("removed"))
          .when(size(col("__changed")) > 0, lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn("changed_cols",
        when(col("status") === "changed",
          array_join(col("__changed"), ",")).otherwise(lit("")))
      .select(keyCols.map(k =>
        coalesce(col(s"__ka_$k"), col(s"__kb_$k")).as(k)) :+
        col("status") :+ col("changed_cols"): _*)
  }
}
