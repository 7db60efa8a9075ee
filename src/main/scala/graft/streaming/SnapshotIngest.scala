package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generic snapshot-state streaming driver: each micro-batch folds into
  * a COMPLETE state snapshot (`state_N` = the state after batch N) via
  * a caller-supplied merge. The mechanics shared by every snapshot
  * consumer ([[IncrAggIngest]], [[CdcIngest]]):
  *
  *  - a batch reads the newest snapshot STRICTLY before its own
  *    batchId, so a retried batch ignores its failed attempt's output
  *    (exactly-once merges, same contract as DedupIngest's seen dirs);
  *  - superseded snapshots are pruned KEEPING the predecessor (the
  *    newest snapshot below the batch) — the checkpoint commits after
  *    foreachBatch returns, and a crash before the commit replays
  *    exactly this batch, which must still find it;
  *  - [[finalState]] reads the newest snapshot: after a normal drain
  *    that is the last committed batch's view; after a crash-before-
  *    commit it is content-identical to what the replay rewrites.
  */
object SnapshotIngest {

  /** Drain `inDir` with AvailableNow semantics, folding each batch into
    * the snapshot chain with `merge(priorState, batch)`. Returns the
    * micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Int =
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint)(
      foldBatch(stateDir)(merge))

  /** The per-batch snapshot fold as a plain `foreachBatch` function —
    * the building block [[run]] drives, reusable by any writeStream
    * (e.g. [[Sinks.upsertSink]]) and by each bucket of
    * [[BucketedSnapshotIngest]]: read the newest snapshot strictly
    * before this batchId, merge, write `state_batchId`, then delete
    * every older snapshot except that predecessor. The predecessor is
    * the newest snapshot below batchId, which need not be
    * `state_{batchId-1}`: in a chain with gaps (a bucket advances only
    * when a batch touches it) it is older, and a replay of this batch
    * must still find it. */
  def foldBatch(stateDir: String)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val ss = batch.sparkSession
      val conf = ss.sparkContext.hadoopConfiguration
      StateDirs.ensure(conf, stateDir)
      val snaps = StateDirs.list(conf, stateDir, "state_", batchId).sortBy(_._1)
      merge(snaps.lastOption.map { case (_, p) => ss.read.parquet(p) }, batch)
        .write.mode("overwrite").parquet(s"$stateDir/state_$batchId")
      snaps.dropRight(1).foreach { case (_, p) => StateDirs.delete(conf, p) }
    }

  /** The newest snapshot — the queryable state. */
  def finalState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(
      newestSnapshot(spark.sparkContext.hadoopConfiguration, stateDir, Long.MaxValue)
        .getOrElse(throw new IllegalStateException(s"no state snapshots in $stateDir")))

  /** Newest `state_k` with k strictly below `beforeBatch` — discovered
    * through the path's own FileSystem ([[StateDirs]]), so the
    * exactly-once contract holds on non-local stores too. */
  private[streaming] def newestSnapshot(
      conf: org.apache.hadoop.conf.Configuration,
      stateDir: String,
      beforeBatch: Long): Option[String] =
    StateDirs.list(conf, stateDir, "state_", beforeBatch)
      .sortBy(_._1).lastOption.map(_._2)
}
