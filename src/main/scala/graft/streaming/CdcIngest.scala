package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming CDC consumer: a replication log (I/U/D ops with a
  * monotone sequence number) maintained as a queryable graft-segment
  * state table under [[SegmentStateIngest]] — the streaming form of
  * [[graft.ops.Cdc]].
  *
  * The state keeps ONE newest-seq row per key INCLUDING delete
  * tombstones: dropping a deleted key from state (what the batch
  * `Cdc.apply` does) would let an earlier-seq insert arriving in a
  * LATER micro-batch resurrect it — the file queue does not promise
  * log order across batches, the sequence number does. With
  * tombstones retained, merging any batch partition of the log in any
  * order converges to newest-seq-wins over the whole log, so
  * [[finalTable]] (state minus tombstones) equals the one-shot
  * `Cdc.apply` — certified by stream_cdc_apply against the same
  * oracle as the batch path, and the out-of-order resurrection case
  * is spec-pinned.
  *
  * State size is bounded by live keys + tombstoned keys; a production
  * consumer ages tombstones out once the log's lateness horizon passes
  * (the watermark idea applied to replication), which is a retention
  * policy, not a correctness requirement here.
  */
object CdcIngest {

  /** Drain a CDC log from `inDir`. `schema` must carry `keys`, a
    * numeric `seqCol`, and `opCol` ∈ {I, U, D}. Returns micro-batch
    * count. Duplicate delivery of an op (same key, seq, payload —
    * e.g. a file queued twice) is harmless: the newest-seq window
    * picks between identical rows. Two DIFFERENT payloads at one
    * (key, seq) is a malformed log — the sequence number is the
    * order contract. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String,
      keys: Seq[String],
      seqCol: String,
      opCol: String): Int =
    SegmentStateIngest.run(spark, schema, inDir, stateDir, checkpoint)(
      newestSeqWins(keys, seqCol))

  /** The scale path: state hash-bucketed by key into one state table
    * per bucket ([[SegmentStateIngest.runBucketed]]), so a micro-batch
    * rewrites only the buckets its keys touch instead of the whole
    * table — per-batch write volume ∝ touched buckets, not table size.
    * The merge is the same newest-seq-wins fold (a key lives in exactly
    * one bucket, so per-bucket merging is per-key merging); the plain
    * [[run]] remains for view-sized state where one table is simpler to
    * operate. */
  def runBucketed(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String,
      keys: Seq[String],
      seqCol: String,
      opCol: String,
      nBuckets: Int): Int =
    SegmentStateIngest.runBucketed(spark, schema, inDir, stateDir, checkpoint, keys, nBuckets)(
      newestSeqWins(keys, seqCol))

  private def newestSeqWins(keys: Seq[String], seqCol: String)(
      prior: Option[DataFrame], batch: DataFrame): DataFrame = {
    val all = prior.map(_.unionByName(batch)).getOrElse(batch)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The applied table: newest ops minus delete tombstones. */
  def finalTable(spark: SparkSession, stateDir: String, opCol: String): DataFrame =
    SegmentStateIngest.finalState(spark, stateDir)
      .filter(col(opCol) =!= "D")
      .drop(opCol)

  /** [[finalTable]] over a [[runBucketed]] state layout. */
  def finalTableBucketed(spark: SparkSession, stateDir: String, opCol: String): DataFrame =
    SegmentStateIngest.finalStateBucketed(spark, stateDir)
      .filter(col(opCol) =!= "D")
      .drop(opCol)
}
