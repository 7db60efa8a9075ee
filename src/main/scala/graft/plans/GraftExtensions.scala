package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** graft's planner extensions, installed once at session build with
  * `spark.sql.extensions=graft.plans.GraftExtensions` — the path a
  * deployment ships a library's rules on, and the one `Session.build`
  * takes, so the session that is certified, timed and tested is the
  * deployed one. The optimizer rules run inside Spark's fixed-point
  * Operator Optimization batch; each one bails unless its pattern
  * matches ([[JoinRewriteGuard]] keeps the join rewrites from
  * re-matching their own output).
  *
  * One conf tunes them per query, read each time the rule runs:
  * `spark.graft.rangeJoin.binWidth` ([[BinnedRangeJoinRule]]). Spark's
  * `spark.sql.optimizer.excludedRules` turns any of the rules off.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => BinnedRangeJoinRule(session))
    // the edit-distance theta-join rewrite needs no tuning knob: the
    // threshold k is read from the query's own literal
    ext.injectOptimizerRule(_ => FuzzyJoinRule())
    // manifest-statistic salting for shuffle joins on declared-hot
    // keys (fan-out derived at plan time)
    ext.injectOptimizerRule(_ => SaltJoinRule())
    // the whole-operator rung: plans AsOfJoinPlan as the merge-sweep
    // AsOfJoinExec
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // SQL surface for the fused native cosine: SELECT
    // cosine_similarity(a, b) plans the same codegen'd expression the
    // Column API uses
    ext.injectFunction(graft.functions.VectorExpressions.cosineFunction)
    // SQL surface for the native shingle generator: SELECT
    // shingles(text, 5) plans the same GenerateExec the Column API does
    ext.injectFunction(graft.functions.ShingleGenerator.shinglesFunction)
    ext.injectFunction(graft.functions.HllDistinct.sqlFunction)
    ext.injectFunction(graft.functions.KmvDistinct.sqlFunction)
    ext.injectFunction(graft.functions.TopFreq.sqlFunction)
    ext.injectFunction(graft.functions.HistQuantiles.sqlFunction)
  }
}
