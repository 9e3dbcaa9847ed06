package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Aggregate navigation onto materialized summaries: when a query
  * aggregates a base table whose rollup has been materialized with
  * [[MaterializedViews.create]], rewrite the plan to re-aggregate the
  * (much smaller) summary instead of rescanning the base — SUM folds
  * SUM partials, COUNT folds the partial counts, MIN/MAX fold partials,
  * AVG decomposes into SUM(sum)/SUM(cnt). The classic warehouse
  * optimization (aggregate tables / query rewrite), here as a Catalyst
  * rule so EXISTING queries speed up without edits.
  *
  * Soundness envelope — the rewrite fires only when:
  *  - the aggregate's child is the registered base relation (matched by
  *    the file-source root paths), under at most attribute-only
  *    projections and filters that reference GROUP columns only (such
  *    filters prune whole MV rows exactly);
  *  - every grouping expression is a bare column in the MV's group set
  *    (subsets re-aggregate — rollup navigation);
  *  - every aggregate is SUM/MIN/MAX/COUNT/AVG over a materialized
  *    measure, or COUNT(*)/COUNT(1) — all non-DISTINCT. Anything else
  *    leaves the plan untouched.
  *
  * Global (group-less) COUNT folds through `coalesce(SUM(cnt), 0)` so an
  * empty or fully-filtered summary still reports 0, matching the base.
  * Opt-in via `spark.graft.mv.enabled=true`.
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.mv.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "false") != "true" ||
      MaterializedViews.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }
  }

  private case class BaseMatch(entry: MaterializedViews.Entry,
                               filters: Seq[Expression])

  /** Unwrap attribute-only Projects and Filters down to a registered
    * base relation, collecting the filter conditions.
    */
  private def matchBase(plan: LogicalPlan,
                        filters: Seq[Expression]): Option[BaseMatch] =
    plan match {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val paths = fs.location.rootPaths.map(_.toString).toSet
        MaterializedViews.lookup(paths).map(BaseMatch(_, filters))
      case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
        matchBase(child, filters)
      case Filter(cond, child) => matchBase(child, filters :+ cond)
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (groupExprs, aggExprs, child) =
      (agg.groupingExpressions, agg.aggregateExpressions, agg.child)
    matchBase(child, Nil).flatMap { case BaseMatch(entry, filters) =>
      val groupNames = groupExprs.map {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
      if (groupNames.exists(_.isEmpty)) return None
      val groups = groupNames.flatten
      if (!groups.forall(entry.groupCols.contains)) return None
      // filters may only touch group columns (then they prune MV rows
      // exactly — measure predicates would need containment reasoning)
      val filterOk = filters.forall(_.references.forall(a =>
        entry.groupCols.contains(a.name)))
      if (!filterOk) return None

      val mvPlan = entry.freshPlan()
      val mvAttr: Map[String, Attribute] =
        mvPlan.output.map(a => a.name -> a).toMap
      def measure(e: Expression): Option[String] = e match {
        case a: AttributeReference
          if entry.measures.contains(a.name) => Some(a.name)
        case _ => None
      }
      def foldAgg(ae: AggregateExpression): Option[Expression] = ae match {
        case AggregateExpression(fn, Complete, false, None, _) => fn match {
          case Sum(e, _) => measure(e).map(m => sumOf(mvAttr(s"sum_$m")))
          case Min(e) => measure(e).map(m =>
            AggregateExpression(Min(mvAttr(s"min_$m")), Complete, false))
          case Max(e) => measure(e).map(m =>
            AggregateExpression(Max(mvAttr(s"max_$m")), Complete, false))
          case Count(Seq(_: Literal)) =>
            Some(Coalesce(Seq(sumOf(mvAttr("cnt")), Literal(0L))))
          case Count(Seq(e)) => measure(e).map(m =>
            Coalesce(Seq(sumOf(mvAttr(s"cnt_$m")), Literal(0L))))
          case Average(e, _) => measure(e).map { m =>
            Divide(Cast(sumOf(mvAttr(s"sum_$m")), DoubleType),
              Cast(sumOf(mvAttr(s"cnt_$m")), DoubleType))
          }
          case _ => None
        }
        case _ => None
      }
      // Fold an output expression onto the MV: aggregates rewrite to
      // partial-rollups anywhere inside (round(sum(x), 2) etc.), group
      // references substitute their MV attribute. Explicit top-down
      // recursion, NOT Expression.transform — transform would descend
      // into the replacement and try to re-fold the Sum-of-partials the
      // COUNT/AVG folds contain.
      def fold(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression => foldAgg(ae)
        case a: AttributeReference if groups.contains(a.name) =>
          Some(mvAttr(a.name))
        case other =>
          val kids = other.children.map(fold)
          if (kids.exists(_.isEmpty)) None
          else Some(other.withNewChildren(kids.map(_.get)))
      }
      val mvOutputSet = AttributeSet(mvPlan.output)
      val mapped: Seq[Option[NamedExpression]] = aggExprs.map {
        case a: AttributeReference if groups.contains(a.name) =>
          Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
        case al: Alias =>
          fold(al.child)
            // leftover base references mean an unmappable shape
            .filter(_.references.subsetOf(mvOutputSet))
            .map(f => Alias(f, al.name)(exprId = al.exprId))
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) return None

      val filtered = filters.foldLeft(mvPlan) { (p, cond) =>
        Filter(cond.transform {
          case a: AttributeReference => mvAttr(a.name)
        }, p)
      }
      Some(Aggregate(groups.map(mvAttr), mapped.flatten, filtered))
    }
  }

  /** SUM over a partial column, keeping the partial's own type (Spark's
    * Sum widens long→long, double→double — same as the base fold).
    */
  private def sumOf(a: Attribute): Expression =
    AggregateExpression(Sum(a), Complete, isDistinct = false)
}

/** Registry + builder for the aggregate summaries [[MvRewriteRule]]
  * navigates onto. JVM-global, keyed by the base table's file-source
  * root paths (the identity the scan itself exposes at optimize time).
  */
object MaterializedViews {

  final case class Entry(mvPath: String, groupCols: Seq[String],
                         measures: Seq[String],
                         private val spark: SparkSession) {
    /** A FRESH logical plan for the MV (new exprIds per use, so two
      * rewrites in one query never collide on attribute identity).
      */
    private[plans] def freshPlan(): LogicalPlan =
      spark.read.parquet(mvPath).queryExecution.analyzed.transform {
        case lr: LogicalRelation => lr.newInstance()
      }
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[Set[String], Entry]()

  def isEmpty: Boolean = registry.isEmpty

  private[plans] def lookup(paths: Set[String]): Option[Entry] =
    Option(registry.get(paths))

  /** Materialize the (groupCols, measures) rollup of `base` at `mvPath`
    * and register it for rewrite. The summary carries, per measure m:
    * `sum_m`, `min_m`, `max_m`, `cnt_m` (non-null count) plus the row
    * count `cnt` — everything SUM/MIN/MAX/COUNT/AVG navigation needs.
    */
  def create(spark: SparkSession, base: DataFrame, mvPath: String,
             groupCols: Seq[String], measures: Seq[String]): Unit = {
    require(groupCols.nonEmpty && measures.nonEmpty)
    val aggs = Seq(count(lit(1)).as("cnt")) ++ measures.flatMap(m => Seq(
      sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"),
      max(col(m)).as(s"max_$m"), count(col(m)).as(s"cnt_$m")))
    base.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    registry.put(rootPathsOf(base), Entry(mvPath, groupCols, measures, spark))
  }

  /** Incrementally fold an INSERT delta of the base table into its
    * materialized rollup — the maintenance half of aggregate navigation:
    * the delta is rolled up alone (delta-sized work) and merged with the
    * stored summary by partial-aggregate algebra (SUM and counts add,
    * MIN/MAX fold), so a 100 TB base never rescans to keep its summary
    * fresh. `registeredBase` identifies the entry (same frame/path the
    * MV was created from). The summary is pinned (`localCheckpoint`)
    * before the overwrite — plain parquet lacks read-snapshot isolation
    * (the SURVEY §3.4 stage-3 hazard).
    */
  def refresh(spark: SparkSession, registeredBase: DataFrame,
              delta: DataFrame): Unit = {
    val entry = lookup(rootPathsOf(registeredBase)).getOrElse(
      throw new IllegalArgumentException(
        "no materialized view registered for this base"))
    val aggs = Seq(count(lit(1)).as("cnt")) ++ entry.measures.flatMap(m =>
      Seq(sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"),
        max(col(m)).as(s"max_$m"), count(col(m)).as(s"cnt_$m")))
    val deltaRollup = delta.groupBy(entry.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val foldAggs = Seq(sum(col("cnt")).as("cnt")) ++
      entry.measures.flatMap(m => Seq(
        sum(col(s"sum_$m")).as(s"sum_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"),
        sum(col(s"cnt_$m")).as(s"cnt_$m")))
    val merged = spark.read.parquet(entry.mvPath)
      .unionByName(deltaRollup)
      .groupBy(entry.groupCols.map(col): _*)
      .agg(foldAggs.head, foldAggs.tail: _*)
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(entry.mvPath)
  }

  /** Drop all registrations (tests / re-registration hygiene). */
  def clear(): Unit = registry.clear()

  private def rootPathsOf(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.toSet
}
