package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Catalyst optimizer rule: rewrite a raw point-in-interval inner join
  * (`p >= s AND p <= e`, no equi-key) into the binned equi-join of
  * [[graft.ops.RangeJoin]] — automatically, so users who write the
  * natural BETWEEN join get the scalable plan instead of
  * BroadcastNestedLoopJoin.
  *
  * This is the repo's demonstration of the planner-extension mechanism
  * (SURVEY §4): a `Rule[LogicalPlan]` that [[GraftExtensions]] injects
  * at session build (`spark.sql.extensions`) — no fork, no session
  * subclass. The DataFrame-level operator remains the primary API; the
  * rule exists because the *pattern* (inequality-only join) is what
  * users actually write, and the 100 TB failure mode (nested-loop scan
  * once the interval side outgrows a broadcast) hides until production
  * scale.
  *
  * The bin width W is read from `spark.graft.rangeJoin.binWidth` (bins
  * in the point column's own units, default 1 h in micros) each time
  * the rule runs, so one query can set its own width with
  * `Session.withConfs` around its materialization.
  *
  * Rewrite (point side P, interval side I, bin width W):
  * {{{
  *   Join_inner(P, I, p >= s && p <= e && extras)
  *   ==>
  *   Project(original output,
  *     Filter(p >= s && p <= e && extras,        // exact residual
  *       Join_inner(
  *         Project(P.*, p div W AS p_bin),
  *         Generate(explode(sequence(s div W, e div W)) AS i_bin, I),
  *         p_bin = i_bin)))
  * }}}
  * A point has exactly one bin, so no (point, interval) pair can meet
  * twice — no dedup node needed. Extra conjuncts (e.g. IsNotNull
  * inferred by constraint propagation) stay in the residual filter.
  * Fires only on inner joins whose condition contains an integral
  * lower/upper pair over the same point expression with each side's
  * references confined to one child, and no existing equality conjunct
  * between the children ([[JoinRewriteGuard]]) — the latter both skips
  * joins that already plan as hash joins and keeps the rule from
  * re-matching its own output (whose condition is `graft_p_bin =
  * graft_i_bin`) after `PushDownPredicates` pushes the BETWEEN residual
  * back into the join condition inside the fixed-point Operator
  * Optimization batch; everything else is left alone.
  */
case class BinnedRangeJoinRule(session: SparkSession)
    extends Rule[LogicalPlan] with JoinRewriteGuard {

  /** The configured width. Tolerant parse (the SaltJoinRule kill-switch
    * doctrine): a malformed or non-positive value degrades to the
    * default instead of throwing out of the optimizer, which would fail
    * every query in the session. */
  private def binWidth: Long =
    session.conf.getOption(BinnedRangeJoinRule.BinWidthKey)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .filter(_ > 0)
      .getOrElse(BinnedRangeJoinRule.DefaultBinWidth)

  private val integral = Set[org.apache.spark.sql.types.DataType](
    ByteType, ShortType, IntegerType, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      rangeBounds(cond, left, right) match {
        case Some((p, s, e, pointIsLeft)) =>
          val w = Literal(binWidth, LongType)
          def long(x: Expression): Expression =
            if (x.dataType == LongType) x else Cast(x, LongType)
          def bin(x: Expression): Expression = new IntegralDivide(long(x), w)
          val pBin = Alias(bin(p), "graft_p_bin")()
          val iBin = AttributeReference("graft_i_bin", LongType, nullable = false)()
          val (pointSide, intervalSide) = if (pointIsLeft) (left, right) else (right, left)
          val newPoint = Project(pointSide.output :+ pBin, pointSide)
          // Sequence is TimeZoneAwareExpression: without an explicit
          // timeZoneId it reports unresolved and fails plan validation
          // (the analyzer's ResolveTimeZone has already run by now)
          val seqExpr = new Sequence(bin(s), bin(e))
            .withTimeZone(conf.sessionLocalTimeZone)
          val newInterval = Generate(
            Explode(seqExpr),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(iBin), child = intervalSide)
          val (newLeft, newRight) =
            if (pointIsLeft) (newPoint, newInterval) else (newInterval, newPoint)
          val binJoin = Join(newLeft, newRight, Inner,
            Some(EqualTo(pBin.toAttribute, iBin)), hint)
          Project(j.output, Filter(cond, binJoin))
        case None => j
      }
  }

  /** Extract (point, start, end, pointIsLeft) when the condition's
    * conjuncts contain `p >= s` and `p <= e` (in either spelled
    * direction) with p integral, p's references confined to one join
    * child, and s/e's references confined to the other. */
  private def rangeBounds(
      cond: Expression,
      left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    if (hasEquiConjunct(cond, left, right)) return None
    val preds = splitConjunctivePredicates(cond)
    val lowers = preds.collect { // p >= s
      case GreaterThanOrEqual(p, s) => (p, s)
      case LessThanOrEqual(s, p) => (p, s)
    }
    val uppers = preds.collect { // p <= e
      case LessThanOrEqual(p, e) => (p, e)
      case GreaterThanOrEqual(e, p) => (p, e)
    }
    val candidates = for {
      (p1, s) <- lowers
      (p2, e) <- uppers
      if p1.semanticEquals(p2) && !s.semanticEquals(e)
      if integral.contains(p1.dataType) &&
        integral.contains(s.dataType) && integral.contains(e.dataType)
      pointIsLeft <-
        if (p1.references.nonEmpty && p1.references.subsetOf(left.outputSet) &&
          s.references.subsetOf(right.outputSet) && e.references.subsetOf(right.outputSet))
          Some(true)
        else if (p1.references.nonEmpty && p1.references.subsetOf(right.outputSet) &&
          s.references.subsetOf(left.outputSet) && e.references.subsetOf(left.outputSet))
          Some(false)
        else None
      // the interval must actually come from the other relation —
      // constant bounds are a plain filter, not a range join
      if s.references.nonEmpty || e.references.nonEmpty
    } yield (p1, s, e, pointIsLeft)
    candidates.headOption
  }
}

object BinnedRangeJoinRule {
  val BinWidthKey = "spark.graft.rangeJoin.binWidth"
  val DefaultBinWidth: Long = 3600L * 1000 * 1000
}
