package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming snapshot state ON the graft-segment table format — the
  * unification the format was built for: [[SnapshotIngest]] and its
  * siblings hand-implement versioned state dirs, newest-strictly-before
  * reads and batchId-keyed idempotent writes; the segment table
  * provides every one of those as a native primitive, so the driver
  * collapses to a foreachBatch MERGE with a transaction id.
  *
  *  - versioned state dirs        → the manifest log (one version per
  *                                  epoch; time travel replaces the
  *                                  retained-snapshot chain)
  *  - newest-strictly-before read → read the LIVE table (the txn
  *                                  ledger guarantees batch N−1's
  *                                  commit is the newest at batch N)
  *  - batchId-keyed idempotence   → `txnAppId`/`txnVersion` write
  *                                  options: a REPLAYED batch — task
  *                                  retry after commit, restart from an
  *                                  older checkpoint — commits as a
  *                                  no-op instead of double-merging
  *                                  (the failed-attempt poisoning the
  *                                  SnapshotIngest spec plants cannot
  *                                  exist here: an uncommitted write
  *                                  leaves only unreferenced files)
  *
  * Per-batch write volume is the merged VIEW (key-scale, not
  * fact-scale) — the stream_incr_agg discipline; for table-scale state
  * the bucketed variant ([[BucketedSnapshotIngest]]) remains the
  * right shape until per-bucket manifests land.
  */
object SegmentStateIngest {

  /** Drain `inDir` with AvailableNow, folding each micro-batch into
    * the state TABLE at `stateTable` via `merge(prior, batch)`. The
    * fold commits under (`appId`, batchId), so replays are no-ops.
    * Returns micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateTable: String,
      checkpoint: String,
      appId: String)(merge: (Option[DataFrame], DataFrame) => DataFrame): Int =
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, id) =>
      val s = batch.sparkSession
      val fs = graft.sources.segment.SegmentLog.fs(
        stateTable, s.sessionState.newHadoopConf())
      val prior = graft.sources.segment.SegmentLog.read(fs, stateTable)
        .filter(_.segments.nonEmpty)
        .map(_ => s.read.format("graft-segment").load(stateTable))
      val merged = merge(prior, batch)
      // one transactional overwrite per epoch: replayed ids no-op
      val pinned = merged.localCheckpoint(true) // pin BEFORE the truncating write
      pinned.write.format("graft-segment")
        .option("txnAppId", appId).option("txnVersion", id.toString)
        .mode("overwrite").save(stateTable)
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(pinned)
    }

  /** The queryable view: simply the live table. */
  def finalState(spark: SparkSession, stateTable: String): DataFrame =
    spark.read.format("graft-segment").load(stateTable)
}
