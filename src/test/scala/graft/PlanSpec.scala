package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guard: PLANS.md's scale claims, pinned as tests.
  * Each assertion checks the PHYSICAL plan property that makes the operator
  * scale — a filter reaching the parquet scan, a dimension broadcasting, a
  * narrow pipeline staying shuffle-free — so an innocent-looking rewrite
  * that silently introduces a shuffle or loses pushdown fails here, not in
  * a 100 TB run. Plans are inspected at sf0.001 (shape, not timing).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: predicates are pushed into the parquet scan") {
    val p = planOf("q03_filter_predicates")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual") || p.contains("EqualTo"),
      "filter predicates must reach the scan, not evaluate post-read")
  }

  test("q11 star join: dimensions broadcast, fact never shuffles pre-agg") {
    val p = planOf("q11_star_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join at this scale means a dim lost its broadcast")
  }

  test("q12 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q12_topk_suppliers")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q92/q94 text pipelines stay shuffle-free (scan-side narrow ops)") {
    for (q <- Seq("q92_html_strip", "q94_token_chunks")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle")
      assert(p.contains("WholeStageCodegen") || p.contains("*"),
        s"$q fell out of whole-stage codegen")
    }
  }

  test("q63 tf-idf: rank pushdown (WindowGroupLimit) and broadcast vocab") {
    val p = planOf("q63_tfidf")
    assert(p.contains("WindowGroupLimit"),
      "top-1-per-doc must prune per-partition before the window sort")
    assert(p.contains("BroadcastHashJoin"), "vocabulary stats must broadcast")
  }

  test("q39 ANN brute force: query side broadcast, corpus not exchanged") {
    val p = planOf("q39_embedding_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the query set must broadcast — a corpus shuffle here is the scale bug")
  }

  test("q78 contamination: eval side broadcast semi join, train text unshuffled") {
    val p = planOf("q78_contamination")
    assert(p.contains("LeftSemi"), "containment must be a semi join")
    assert(p.contains("BroadcastHashJoin"), "the eval shingle set must broadcast")
  }

  test("q99 vocab top-N: map-side partial agg, TakeOrdered instead of global sort") {
    val p = planOf("q99_vocab_topn")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be a TakeOrdered, never a full sort of the vocabulary")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "token counts must combine map-side before the shuffle")
  }

  test("q98 semantic clustering: scan-side assignment, one aggregate, no join") {
    val p = planOf("q98_semantic_clusters")
    assert(!p.contains("Join"),
      "seed assignment is a literal expression — a join means the " +
        "centroids stopped being scan-side constants")
    assert(p.contains("HashAggregate"))
  }

  test("q103 BPE segmentation is scan-side: no exchange, codegen-hosted") {
    val p = planOf("q103_bpe_segment")
    assert(!p.contains("Exchange"),
      "segmentation must be a narrow projection — the merge table is a " +
        "plan literal, not a join/broadcast")
    assert(p.contains("WholeStageCodegen") || p.contains("*"),
      "BpeSegment must not eject the projection from codegen")
  }

  test("q30 exact dedup is one hash-aggregate shuffle, no join") {
    val p = planOf("q30_dedup_exact")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "exact dedup must be a groupBy, not an all-pairs formulation")
  }

  test("q161 heap top-k: partial ObjectHashAggregate, NO window sort") {
    val p = planOf("q161_topk_per_group")
    assert(p.contains("ObjectHashAggregate"),
      "TopKAgg must plan as an (object) hash aggregate")
    // both halves of the partial/final pair must be present — a
    // final-only agg would mean the k-bound stopped applying map-side
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "partial aggregation lost: the shuffle now carries full groups")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      "the whole point is avoiding the window formulation")
  }

  test("q152 robust scaling: per-group stats broadcast, fact not shuffled twice") {
    val p = planOf("q152_robust_scale")
    assert(p.contains("BroadcastHashJoin"),
      "the 20-row stats frame must broadcast onto the fact")
    assert(!p.contains("Window"), "no window over the fact")
  }

  test("q150 rolling anomalies: ONE keyed window, no extra exchange") {
    val p = planOf("q150_anomaly")
    // one shuffle for the keyed window (+ the orderBy for output); the
    // avg/stddev/count trio must share the single window pass
    assert("WindowExec|Window ".r.findAllIn(p).size <= 2,
      "the three frame aggregates must share one window")
  }

  test("q162 index search: only query terms' index rows are read") {
    val p = planOf("q162_index_search")
    // the isin filter must sit below the posting explode (generate),
    // so untouched terms' postings never decompress
    assert(p.contains("Generate"), "postings must explode in-flight")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q149 edit-distance join: candidate join, never a cartesian") {
    val p = planOf("q149_edit_distance")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "deletion-neighborhood blocking must plan as an equi-join")
  }

  test("q169 ranking metrics: one aggregation, no second ranking pass") {
    val p = planOf("q169_ranking_metrics")
    // the IDCG table must arrive as a literal, not a join against a
    // derived ranking — exactly one window (the harness-side ranking)
    // and hash aggregates, no SortMergeJoin anywhere
    assert(!p.contains("SortMergeJoin"),
      "metrics must not join a second per-query ranking")
    assert(p.contains("HashAggregate"))
  }

  test("q182 ewma: ONE keyed window, weighted fold scan-side") {
    val p = planOf("q182_ewma")
    assert(p.contains("Window"), "the trailing frame must be a window")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "EWMA must not plan the O(N·L) self-join formulation")
  }

  test("q180 benford: 9-row spine joins broadcast, one scan of the fact") {
    val p = planOf("q180_benford")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "digit spine and total must broadcast against the 9-row aggregate")
    assert(!p.contains("SortMergeJoin"),
      "nothing in this plan is big enough to sort-merge")
  }

  test("q179 target encoding: category stats join without shuffling twice") {
    val p = planOf("q179_target_encode")
    // at gate scale AQE broadcasts the category table; the fact must
    // not pay a sort for the join
    assert(!p.contains("SortMergeJoin"),
      "category-stats join must not sort the fact at this scale")
  }

  test("q262/q263/q265 transcript + preference ops are pure scan work") {
    // the whole value proposition: chat stats, flattening and pair
    // audits are HOF expressions over one parse — a shuffle appearing
    // here means someone exploded or joined what should stay row-local
    for (q <- Seq("q262_chat_stats", "q263_chat_flatten",
        "q265_pref_stats")) {
      val p = planOf(q)
      // the gate wrapper adds an orderBy (one final exchange for the
      // dump); no OTHER exchange may exist
      assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
        s"$q grew a mid-pipeline shuffle:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate")
        || q != "q263_chat_flatten", s"$q should not aggregate")
    }
  }

  test("q260 repeated spans: one compact-key aggregate, no text shuffle") {
    val p = planOf("q260_repeated_spans")
    assert(!p.contains("SortMergeJoin"),
      "span detection must bucket by window hash, never join text")
    // the window-hash aggregate's partials must combine map-side
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "window bucketing should be a hash aggregate")
  }

  test("q268 pii scan keeps the regex families inside the scan stage") {
    val p = planOf("q268_pii_scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the census is per-row; any join is a regression")
  }

  test("round-14 operators: no cartesian products, top-K stays TakeOrdered") {
    // propensity matching must ride the carry machinery, never a
    // treated × control pair join; Dawid–Skene's class expansion must be
    // a broadcast spine; Adamic–Adar's cut must not globally sort
    Seq("q289_propensity_match", "q297_dawid_skene", "q295_bradley_terry")
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("CartesianProduct"),
          s"$q plans a cartesian product")
      }
    val aa = planOf("q287_adamic_adar")
    assert(aa.contains("TakeOrderedAndProject"),
      "adamicAdar's top-K cut must be TakeOrderedAndProject")
    val bt = planOf("q306_best_threshold")
    assert(bt.contains("TakeOrderedAndProject"),
      "bestThreshold's argmin must be TakeOrderedAndProject")
  }

  test("round-15 operators: one-scan moments, no cartesians, no " +
    "single-partition data-scale windows") {
    // the one-row moment scans must not grow joins or extra exchanges
    for (q <- Seq("q312_ratio_metric", "q300_mcnemar")) {
      val p = planOf(q)
      assert(!p.contains("Join"), s"$q must be ONE aggregate scan, " +
        "no join — the conditional sums carry both arms")
    }
    // mdeCurve: the input is scanned ONCE; horizons come from a local
    // literal relation, never a per-horizon re-aggregation
    val mde = planOf("q313_mde_curve")
    assert(mde.contains("BroadcastNestedLoopJoin") ||
      mde.contains("BroadcastHashJoin"),
      "mdeCurve's horizons frame must broadcast onto the one-row moments")
    // aggregate count is 6 by construction (per-user pair + the
    // countDistinct two-phase expansion + the moment pair); the real
    // invariant is ONE scan of the input table, not one per horizon
    assert("Scan parquet".r.findAllIn(mde).size <= 1,
      "mdeCurve must scan the input once, not per horizon")
    // iterative/graph additions: never a cartesian product
    for (q <- Seq("q311_personalized_pagerank", "q314_modularity",
      "q315_assortativity", "q316_reciprocity",
      "q309_alwaysvalid_cuped", "q310_mcnemar_strat")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
    // (reciprocity's flip semi-join runs eagerly inside the operator —
    // the returned frame is one literal row, so there is no plan to pin)
    // alwaysValidCuped's cumulative pass rides Ranks.running (its
    // __rk_pid range-partitioned carry) — a raw global-ORDER window
    // would funnel every bin through one task
    assert(planOf("q309_alwaysvalid_cuped").contains("__rk_pid"),
      "alwaysValidCuped must ride Ranks.running's partitioned carry")
  }

  test("round-16 operators: keyed joins only, partitioned carries, " +
    "scan-side query-term filters") {
    // the eval family's per-n combines are (pair, gram)-keyed joins —
    // never a cartesian, and BLEU's lengths are scan-side expressions
    for (q <- Seq("q324_bleu", "q325_rouge", "q327_chrf",
      "q322_bm25f", "q326_bh_fdr", "q323_alwaysvalid_srm")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product")
    }
    // bhFdr's rank and suffix min both ride Ranks.running — a raw
    // ORDER BY p window would funnel the test domain through one task
    assert(planOf("q326_bh_fdr").contains("__rk_pid"),
      "bhFdr must ride Ranks.running's partitioned carry")
    // the sequential SRM guard shares the alwaysValid cumulative shape
    assert(planOf("q323_alwaysvalid_srm").contains("__rk_pid"),
      "alwaysValidSrm must ride Ranks.running's partitioned carry")
    // bm25f filters to query terms scan-side: the exploded-term rows
    // that survive are |query|·matches, so no corpus-sized shuffle —
    // visible as the isin filter below (or inside) the explode, never
    // above the per-(doc,term) aggregate
    val bf = planOf("q322_bm25f")
    assert(bf.contains("spark") && bf.contains("Generate"),
      "bm25f must explode with the query-term filter visible in-plan")
  }

  test("no data-scale window runs a shrinking frame (O(n²) per partition)") {
    // Spark evaluates (currentRow, unboundedFollowing) by recomputing the
    // aggregate from scratch at EVERY row; the forward as-of carry and
    // Ranks suffix minima were measured at 10-50× their linear cost
    // before the reversed-order rewrite (PLANS.md round 14). Full frames
    // (unboundedPreceding → unboundedFollowing) are fine — evaluated once
    // per partition — so only the shrinking form is banned.
    // positive control: the banned spelling as catalyst actually prints
    // it, so a format change can never silently blind this guard
    import org.apache.spark.sql.functions.{col, min => fmin}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ctl = Seq(1, 2, 3).toDF("v")
      .withColumn("m", fmin(col("v")).over(Window.orderBy("v")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(ctl.contains("currentrow$(), unboundedfollowing$()"),
      "control lost the banned spelling — update the guard's pattern")
    Seq("q270_nearest_join", "q91_asof_forward", "q281_asof_tolerance",
      "q215_quantile_norm", "q248_bh_adjust", "q289_propensity_match")
      .foreach { q =>
        val p = planOf(q).toLowerCase
        // catalyst prints frames as specifiedwindowframe(RowFrame,
        // currentrow$(), unboundedfollowing$()); SQL text as BETWEEN
        // CURRENT ROW AND UNBOUNDED FOLLOWING — ban both spellings
        assert(!p.contains("currentrow$(), unboundedfollowing$()") &&
          !p.contains("current row and unbounded following"),
          s"$q plans a shrinking window frame")
      }
  }

  test("linkage blocking pin keeps explicit parallelism " +
    "(AQE must not coalesce the checkpoint to one task)") {
    // The pinned (id, key) base repartitions with an EXPLICIT count
    // before its lazy checkpoint: the within-block self-joins — and the
    // scan-side JW verification fused into them — inherit the pin's
    // layout when the block side broadcasts, so a bare repartition(col)
    // (AQE-coalescible) on a single-partition source would run the whole
    // quadratic verify stage on ONE task (measured 2.7 s → 12.5 s at
    // sf0.1, round 17). Pin the partition count of the checkpointed RDD
    // on a worst-case single-partition input.
    import spark.implicits._
    val one = (1 to 50).map(i => (i.toLong, s"record key $i"))
      .toDF("id", "key").coalesce(1)
    val plan = graft.operators.Linkage.linkPairs(one, "id", "key", 0.9)
      .queryExecution.sparkPlan // pre-AQE: RDD scans visible
    val parts = plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec =>
        r.rdd.getNumPartitions
    }
    assert(parts.nonEmpty, "expected the pinned base's RDD scan in-plan")
    assert(parts.forall(_ > 1),
      s"blocking pin collapsed to ${parts.min} partition(s) — the " +
        "quadratic pair stage would serialize")
  }

  test("q156 column dependencies: one declarative plan, no eager pin") {
    // The entropy profile derives every term from two tiny
    // re-aggregations of the joint counts (chain rule H(A|B) =
    // H(A,B) − H(B)) — no localCheckpoint, so all pairs run as ONE
    // parallel job. A reintroduced pin shows up as an RDD scan.
    val p = planOf("q156_column_deps")
    assert(!p.contains("Scan ExistingRDD"),
      "column-dependency profile must not eager-pin (serializes pairs)")
    assert(!p.contains("SortMergeJoin"),
      "marginal joins are gone — entropies come from re-aggregation")
  }

  test("spread widens a one-file projection and leaves a limit unplanned") {
    import org.apache.spark.sql.functions.col
    val docs = sources.Tables.load(spark, dir, "documents")
    val narrow = docs.select(col("doc_id"), col("text"))
      .where(col("doc_id") > 0)
    assert(narrow.rdd.getNumPartitions * 2 <
      spark.sparkContext.defaultParallelism, "fixture must be under-split")
    val widened = operators.Pinning.spread(narrow, col("doc_id"))
    assert(widened.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // a limit plans an exchange: inspecting its partitions would run an
    // adaptive stage while the frame is built
    val limited = docs.limit(5)
    val (got, jobs) = JobCount.of(spark)(
      operators.Pinning.spread(limited, col("doc_id")))
    assert(jobs === 0, "spread ran a job on a limit plan")
    assert(got eq limited, "spread rewrote a limit plan")
  }
}
