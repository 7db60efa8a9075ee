package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every harness (`Bench`, `BenchOne`,
  * `Verify`, `ScaleBench`, `PlanAudit`) and the test suite's
  * `SparkSpec` build through [[build]], so the sessions that get timed
  * and tested carry exactly the confs `Verify` certifies, graft's
  * planner extensions included. */
object Session {

  /** Worker threads for the harnesses: the deployment's
    * `SPARK_GRAFT_CPUS`, 4 when unset. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The certified confs of a session with `cores` threads. */
  def confs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    // ObjectHashAggregateExec falls back to SORT-BASED aggregation at
    // 128 distinct keys per partition (the default is sized for huge
    // per-key state like collect_list) — BoundedTopK's per-group
    // state is O(k), so the map is the cheap part; without this the
    // partial top-k silently degrades into the full-partition sort
    // it exists to avoid (measured 260x at the x10 kNN edge build)
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (1 << 22).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // ContextCleaner only reclaims shuffle files/broadcasts when the
    // driver GCs; with a large heap that never happens inside one
    // session of 50+ queries (default periodicGC is 30 min), so state
    // from earlier queries piles up and slows later ones
    // (see docs/BENCH_NOTES.md)
    "spark.cleaner.periodicGC.interval" -> "60s",
    "spark.ui.enabled" -> "false",
    // `events.ts` ships as parquet TIMESTAMP(NANOS) in some testdata
    // generations, which Spark's reader rejects unless it reads the
    // nanos as raw longs; `sources.Tables.events` converts them
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // graft's planner rules, strategy and SQL functions, installed the
    // way a deployment installs them: the rules run inside the
    // fixed-point Operator Optimization batch of every query
    "spark.sql.extensions" -> classOf[graft.plans.GraftExtensions].getName)

  /** The RocksDB state-store provider conf the keyed-state streams run
    * under, as one [[withConfs]] entry. */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with each `key -> value` set on `s`, then restores each
    * key's prior value, or unsets a key that was unset, however `body`
    * exits. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** `local[cores]` with [[confs]] and log level WARN. A second call in
    * the same JVM returns the running session. */
  def build(cores: Int): SparkSession = {
    val spark = confs(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
