package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session-build-time injection point for graft's planner extensions —
  * the `SparkSessionExtensions` path for deployments that configure
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or call
  * `.withExtensions(new GraftExtensions)` on the builder) instead of
  * mutating `experimental.extraOptimizations` at runtime
  * ([[GraftExtensions.withRules]]) the way the
  * `events_range_join_auto` oracle query does. Both paths install the
  * same rule; the runtime path exists because the driver owns the
  * session in this harness, the config path because that is how a real
  * cluster ships a library's rules.
  *
  * The bin width comes from `spark.graft.rangeJoin.binWidth` (bins in
  * the point column's own units, default 1 h in micros), read once when
  * the session builds its optimizer — per-query tuning goes through the
  * runtime `extraOptimizations` path instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule { session =>
      // tolerant parse (the SaltJoinRule kill-switch doctrine): a
      // malformed or non-positive width degrades to the default
      // instead of throwing inside the optimizer build, which would
      // fail every query in the session
      BinnedRangeJoinRule(
        session.conf.getOption(GraftExtensions.BinWidthKey)
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
          .filter(_ > 0)
          .getOrElse(3600L * 1000 * 1000))
    }
    // the edit-distance theta-join rewrite needs no tuning knob: the
    // threshold k is read from the query's own literal
    ext.injectOptimizerRule(_ => FuzzyJoinRule())
    // manifest-statistic salting for shuffle joins on declared-hot
    // keys (fan-out derived at plan time; disable with
    // spark.graft.saltJoin.enabled=false)
    ext.injectOptimizerRule(session => SaltJoinRule(session))
    // the whole-operator rung: plans AsOfJoinPlan as the merge-sweep
    // AsOfJoinExec (runtime counterpart: AsOfJoinNative.install)
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

object GraftExtensions {
  val BinWidthKey = "spark.graft.rangeJoin.binWidth"

  /** The runtime path: append `rules` to the session's
    * `experimental.extraOptimizations` for the duration of `body` and
    * restore the previous list however `body` exits. The rules only
    * see plans optimized inside `body`, so callers materialize there
    * (e.g. `localCheckpoint`). */
  def withRules[T](s: SparkSession, rules: Rule[LogicalPlan]*)(body: => T): T = {
    val saved = s.experimental.extraOptimizations
    s.experimental.extraOptimizations = saved ++ rules
    try body finally s.experimental.extraOptimizations = saved
  }
}
