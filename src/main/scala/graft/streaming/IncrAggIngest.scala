package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.IncrView

/** Streaming incremental aggregate view: [[graft.ops.IncrView]] under
  * the [[SegmentStateIngest]] state backend. Each micro-batch reduces
  * to its own tiny delta view and merges it with the prior state —
  * per-batch cost ∝ delta keys + state size, the full fact stream
  * never re-aggregated. The replay and read contracts are the
  * backend's (a replayed batch is a no-op; `StreamingSpec`
  * certifies it here).
  *
  * End-to-end contract (stream_incr_agg): after draining N batches,
  * [[finalState]] equals the one-shot [[IncrView.build]] over
  * everything the stream saw — certified against the same full
  * GROUP BY DuckDB oracle as the batch path.
  */
object IncrAggIngest {

  /** Drain `inDir` with AvailableNow semantics, maintaining the view
    * keyed by `keys` over `valueCol`. Returns micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String,
      keys: Seq[String],
      valueCol: String): Int =
    SegmentStateIngest.run(spark, schema, inDir, stateDir, checkpoint) {
      case (None, batch) => IncrView.build(batch, keys, col(valueCol))
      case (Some(prior), batch) => IncrView.merge(prior, batch, keys, col(valueCol))
    }

  /** The queryable view: the live state table. */
  def finalState(spark: SparkSession, stateDir: String): DataFrame =
    SegmentStateIngest.finalState(spark, stateDir)
}
