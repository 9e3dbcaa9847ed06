package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle management for `localCheckpoint`-pinned frames inside
  * iterative loops (connected components, PageRank, label propagation,
  * BFS, k-core).
  *
  * Why this exists: `Dataset.localCheckpoint(eager = true)` truncates
  * lineage by materializing the plan into executor storage blocks
  * (MEMORY_AND_DISK). Those blocks stay pinned until the RDD is
  * unpersisted or the session dies — so a 20-round pointer-jumping loop
  * quietly accumulates 20 superseded label frames against executor
  * memory. On a long-running cluster (or a 269-query bench run in one
  * JVM) that pressure evicts OTHER queries' shuffle/cache blocks and
  * shows up as phantom 17× slowdowns late in the run (round-10 bench's
  * q77 anomaly). Releasing each round's superseded frame bounds the
  * loop's resident footprint to O(2 rounds) regardless of iteration
  * count — the difference between "works in a fresh JVM" and "works in
  * hour six of a shared cluster".
  *
  * Safety contract: only call [[unpin]] on a frame that will NEVER be
  * read again. A local checkpoint REPLACES lineage — once the blocks are
  * dropped the frame is unrecoverable (this is also why these loops
  * offer a reliable-`checkpoint` mode for lossy clusters; see
  * `Dedup.connectedComponents`).
  */
object Pinning {
  /** Partition-preserving pin for iterative loops: localCheckpoint the
    * frame hash-partitioned by `keys` into `parts` partitions (derive
    * `parts` from a measured row count via [[partsFor]]) so every later
    * same-`keys` join or aggregate at the same granularity reads the
    * pinned blocks WITHOUT an Exchange.
    *
    * Why the AQE toggle: `Dataset.localCheckpoint` records the executed
    * plan's outputPartitioning into the resulting LogicalRDD — but under
    * adaptive execution the adaptive root reports `UnknownPartitioning`,
    * so every pinned round frame forgets its layout and each round of a
    * loop re-exchanges everything it touches (and AQE turns each of
    * those exchanges into its own query-stage job: measured 94 jobs for
    * a 10-round PageRank at sf0.1, ~45 ms fixed cost each). Disabling
    * AQE for JUST the pin's own execution makes the recorded
    * partitioning a plain `HashPartitioning(keys, numShufflePartitions)`
    * that downstream `EnsureRequirements` can match. The loss is AQE's
    * coalescing/skew handling INSIDE one round's plan — round frames
    * here are narrow fixed-key (id, value) rows whose partition count
    * should scale with the cluster (the conf), exactly what explicit
    * partitioning provides, so nothing of value is given up at 100 TB
    * and the alignment removes whole shuffles per round at every scale.
    *
    * If the frame's plan already ENDS in the wanted partitioning (the
    * steady state once a loop is aligned: an exchange-free join keyed on
    * `keys` preserves its left child's layout), the repartition is
    * skipped — detected from the planned outputPartitioning, so the pin
    * costs one narrow map-side job and no shuffle at all.
    *
    * The conf flip is synchronized on the session and restored in a
    * finally block; suites fork one JVM and run sequentially, and Bench/
    * Verify run queries one at a time, so the window is benign.
    */
  def pinBy(df: DataFrame, parts: Int, keys: String*): DataFrame =
    pinByWith(df, parts, eager = true, keys: _*)

  /** [[pinBy]] with explicit eagerness: `eager = false` defers
    * materialization to the first consumer job (no serial pin job —
    * right for straight-line operators that pin once and fan out),
    * `eager = true` materializes now (right for loops, where the pin
    * must exist before the superseded round frame is unpinned).
    */
  def pinByWith(df: DataFrame, parts: Int, eager: Boolean,
                keys: String*): DataFrame = {
    require(parts >= 1, s"parts must be >= 1: $parts")
    val spark = df.sparkSession
    spark.synchronized {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // internal exchanges of the pinned plan (aggregates feeding the
      // frame) run at the same loop granularity — without this they'd
      // run at the session's full shuffle width, which for a small round
      // frame is pure task-launch overhead and for a large one is
      // exactly what `parts` was derived to be
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val cols = keys.map(df.col)
        val keyExprs = cols.map(
          org.apache.spark.sql.graftshim.ColumnShim.expression)
        val aligned = df.queryExecution.executedPlan.outputPartitioning match {
          case h: HashPartitioning =>
            h.numPartitions == parts && h.expressions.size == keys.size &&
              h.expressions.zip(keyExprs).forall {
                case (pe, ke) => pe.semanticEquals(ke)
              }
          case _ => false
        }
        val base = if (aligned) df else df.repartition(parts, cols: _*)
        base.localCheckpoint(eager)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.shuffle.partitions", prevSp)
      }
    }
  }

  /** Scale-adaptive partition count for iterative round frames: ~4M
    * narrow rows (roughly 100 MB of (id, value) pairs) per partition, at
    * least 1, never above the session's shuffle-partition ceiling — the
    * cluster's own scale knob. Derived from a measured row count (the
    * loops all hold one as a driver scalar already), not from the local
    * core count (guide §2.2: partitions sized by data, 100 MB–1 GB).
    */
  def partsFor(rows: Long, df: DataFrame): Int = {
    val ceilConf = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(ceilConf.toLong, rows / 4000000L + 1L)).toInt
  }

  /** Scale-adaptive scan widening for compute-heavy per-row stages (guide
    * §2.5 "input skew: one huge unsplittable file … repartition immediately
    * after the read"): when the frame's planned parallelism is far below
    * the session's default parallelism — a single-file/single-row-group
    * corpus, one gzip shard — round-robin repartition to the default
    * parallelism so the expensive downstream expressions (shingling,
    * signatures, per-char DPs) use every core. On a real multi-split scan
    * the condition is false and NO exchange is added — this is a floor on
    * parallelism derived from the runtime session, not a constant tuned
    * for any one deployment.
    *
    * Only provably scan-rooted frames are widened: an optimized plan of
    * projections, filters and unions over leaves (a union of two scans is
    * as exchange-free as one scan). `df.rdd` plans the frame to
    * inspect its partitioning, and on a plan containing an exchange (a
    * join, aggregate, window, sort, repartition, limit, …) that inspection
    * would EXECUTE AQE query stages — so every other plan is returned
    * untouched (its parallelism already comes from the shuffle width). The
    * exchange hashes on `keys` (normally the record id — unique, so it
    * spreads evenly): hash assignment is deterministic per row with NO
    * pre-exchange sort, unlike keyless round-robin which pays a
    * per-partition binary sort of the payloads
    * (`spark.sql.execution.sortBeforeRepartition`) to be retry-safe.
    */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    def scanRooted(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.LeafNode => true
      case _: logical.Project | _: logical.Filter | _: logical.Union =>
        p.children.forall(scanRooted)
      case _ => false
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanRooted(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions * 2 < target)
      df.repartition(target, keys: _*)
    else df
  }

  /** Release the storage blocks behind a checkpointed frame. Walks the
    * analyzed plan's leaves and unpersists every materialized-RDD leaf
    * (non-blocking — the loop shouldn't wait on block cleanup). No-op on
    * frames that aren't checkpoint-backed; never throws (best-effort
    * memory hygiene must not fail a correct computation).
    */
  def unpin(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }
}
