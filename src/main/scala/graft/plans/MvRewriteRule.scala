package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Catalyst optimizer rule: answer aggregates from a MATERIALIZED
  * VIEW. A query shaped
  * {{{ Aggregate(G, sums/count(*), scan(fact)) }}}
  * whose grouping columns are a subset of the MV's grouping key and
  * whose measures are sum-decomposable is rewritten to
  * {{{ Aggregate(G, sum(pre_agg), scan(mv)) }}}
  * — the fact table is never touched. This is the serving half of the
  * engine's incremental-view story: [[graft.ops.IncrView]] maintains
  * the pre-aggregate under delta batches, this rule routes eligible
  * queries to it. At 100 TB the rewrite turns a full fact scan into a
  * scan of a group-cardinality-sized table — the difference between a
  * dashboard query and a cluster job.
  *
  * Correct because sum and count(*) are decomposable over any
  * partition of the fact rows: the MV holds per-(full key) partial
  * sums and row counts, so re-aggregating them over a coarser key
  * equals aggregating the raw rows (count(*) becomes SUM(pre_count)).
  * Non-decomposable measures (avg must be derived, distinct counts
  * need sketches) and filtered/expression-grouped queries bail —
  * scope is the provably-subsumed shape only.
  *
  * Output attributes keep the ORIGINAL expression ids (aliases pinned
  * to the old ids), so parent operators resolve untouched. The
  * rewritten child scans the MV's path, which the fact-path guard no
  * longer matches — the rule cannot re-fire on its own output (the
  * [[JoinRewriteGuard]] convergence discipline). The rule carries ONE
  * view's definition, so it is not a session rule: [[serve]] applies
  * it to one query's analyzed plan.
  *
  * Freshness is the maintenance contract, not the rule's: serve only
  * MVs [[graft.ops.IncrView]] keeps current (the usual staleness
  * budget of warehouse MV routing).
  */
case class MvRewriteRule(
    factPaths: Set[String],
    mvPlan: LogicalPlan,
    mvGroupCols: Set[String],
    preSums: Map[String, String],
    preCount: String) extends Rule[LogicalPlan] {

  private def mvAttr(name: String): Attribute =
    mvPlan.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"MV lacks column $name"))

  private def isFactScan(plan: LogicalPlan): Boolean = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(p => factPaths.contains(p.toString))
      case _ => false
    }
    case Project(exprs, child) =>
      exprs.forall(_.isInstanceOf[AttributeReference]) && isFactScan(child)
    case _ => false
  }

  /** The rewritten aggregate expression for one output position, or
    * None if this output shape is not MV-servable. */
  private def rewriteExpr(e: NamedExpression): Option[NamedExpression] = e match {
    case a: AttributeReference if mvGroupCols.contains(a.name) =>
      Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
    case al @ Alias(AggregateExpression(Sum(c: AttributeReference, ansi), _, false, None, _), name)
        if preSums.contains(c.name) =>
      Some(Alias(
        AggregateExpression(Sum(mvAttr(preSums(c.name)), ansi), Complete, isDistinct = false),
        name)(exprId = al.exprId))
    case al @ Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), name) =>
      Some(Alias(
        AggregateExpression(Sum(mvAttr(preCount)), Complete, isDistinct = false),
        name)(exprId = al.exprId))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if isFactScan(child) &&
          groupExprs.forall {
            case a: AttributeReference => mvGroupCols.contains(a.name)
            case _ => false
          } =>
      val rewritten = aggExprs.map(rewriteExpr)
      if (rewritten.forall(_.isDefined)) {
        val newGroup = groupExprs.map {
          case a: AttributeReference => mvAttr(a.name)
        }
        Aggregate(newGroup, rewritten.map(_.get), mvPlan)
      } else agg
  }

  /** `query` answered from the MV where its aggregate is servable,
    * unchanged otherwise. */
  def serve(query: DataFrame): DataFrame =
    PlanBridge.ofRows(query.sparkSession, apply(query.queryExecution.analyzed))
}
