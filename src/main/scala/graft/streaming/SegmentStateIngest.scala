package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.segment.SegmentLog

/** The one streaming-state backend: each micro-batch folds into a
  * graft-segment state TABLE via a caller-supplied
  * `merge(priorState, batch)`. Every fold-state driver runs on it
  * ([[IncrAggIngest]], [[CdcIngest]], [[Sinks.upsertSink]] and the
  * stream sketch certificates). The table format supplies the three
  * primitives exactly-once state needs:
  *
  *  - versioned state     → the manifest log (one version per batch;
  *                          an overwrite commits a new manifest and
  *                          deletes no file a prior version references,
  *                          so the fold reads the state it replaces
  *                          without pinning it first)
  *  - the prior state     → the LIVE table: batch N−1's commit is the
  *                          newest when batch N runs
  *  - batch idempotence   → the overwrite commits under
  *                          (`txnAppId`, `txnVersion`) = (the streaming
  *                          query's id, batchId). The query id is
  *                          persisted in the checkpoint, so a batch
  *                          replayed after a crash before the
  *                          checkpoint's commit finds its id in the
  *                          table's txn ledger and is a no-op. A write
  *                          that dies before its commit leaves only
  *                          files no manifest references.
  *
  * Per-batch write volume is the merged state. For table-sized state,
  * [[runBucketed]] hash-buckets it by key into one table per bucket,
  * and a batch rewrites only the buckets its keys touch.
  */
object SegmentStateIngest {

  private val Fmt = "graft-segment"

  /** Drain `inDir` with AvailableNow, folding each micro-batch into
    * the state table at `stateTable` ([[foldBatch]]). Returns the
    * micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateTable: String,
      checkpoint: String)(merge: (Option[DataFrame], DataFrame) => DataFrame): Int =
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint)(foldBatch(stateTable)(merge))

  /** The per-batch fold as a `foreachBatch` function: read the live
    * table (None while it has no segments), merge, and overwrite it
    * under the streaming query's id and `batchId`; a batch the table's
    * txn ledger already holds writes nothing. Runs only inside a
    * streaming query, whose id it commits under. */
  def foldBatch(stateTable: String)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val ss = batch.sparkSession
      val queryId = Option(ss.sparkContext.getLocalProperty("sql.streaming.queryId"))
        .getOrElse(throw new IllegalStateException(
          s"foldBatch into $stateTable runs only inside a streaming query: batch " +
            s"$batchId has no sql.streaming.queryId to commit under"))
      val live = SegmentLog.read(SegmentLog.fs(stateTable, ss.sessionState.newHadoopConf()),
        stateTable)
      // a replayed batch this table already committed: the commit would
      // be a no-op, so skip the merge and the segment files it would leave
      if (!live.exists(_.txns.get(queryId).exists(_ >= batchId))) {
        val prior = live.filter(_.segments.nonEmpty).map(_ => finalState(ss, stateTable))
        merge(prior, batch).write.format(Fmt)
          .option("txnAppId", queryId).option("txnVersion", batchId.toString)
          .mode("overwrite").save(stateTable)
      }
    }

  /** The scale form: state hash-bucketed by key
    * (`pmod(hash(keys), nBuckets)`), one state table `bucket_<b>` per
    * bucket under `stateDir`, and a batch folds ([[foldBatch]]) only
    * the buckets its keys touch, each with `merge(priorBucketState,
    * bucketBatch)`. Per-batch write volume is touched buckets × bucket
    * size, not table size; an untouched bucket's table is never
    * written. `merge` sees one bucket's rows at a time, which is
    * transparent to any per-key merge (a key lives in exactly one
    * bucket). A replayed batch touches the same buckets (the bucket
    * function is deterministic in the batch's keys), and each bucket
    * whose txn ledger already holds the batch is a no-op.
    * Returns the micro-batch count. */
  def runBucketed(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String,
      keys: Seq[String],
      nBuckets: Int)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Int = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      // materialize the bucketed batch once — each touched bucket's
      // merge filters it instead of re-reading the source
      val bucketed = batch
        .withColumn("__bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
        .localCheckpoint()
      // bounded driver data: at most nBuckets ids, never row-scaled
      val touched = bucketed.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      // the buckets' tables are disjoint, so their folds are
      // independent jobs: overlap them (guide §2.6) instead of paying
      // one scheduler round-trip each per batch. Any failure fails the
      // batch; the pool's threads inherit the query id the folds
      // commit under.
      Overlap.awaitAll(touched.toSeq.map { b => () =>
        foldBatch(s"$stateDir/bucket_$b")(merge)(
          bucketed.filter(col("__bucket") === b).drop("__bucket"), batchId)
      })
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(bucketed)
    }
  }

  /** The queryable state: the live table. */
  def finalState(spark: SparkSession, stateTable: String): DataFrame =
    spark.read.format(Fmt).load(stateTable)

  /** The queryable state of a [[runBucketed]] layout: the union of
    * every bucket's live table. */
  def finalStateBucketed(spark: SparkSession, stateDir: String): DataFrame = {
    val buckets = StateDirs.list(spark.sparkContext.hadoopConfiguration,
      stateDir, "bucket_", Long.MaxValue)
    require(buckets.nonEmpty, s"no state buckets in $stateDir")
    buckets.sortBy(_._1).map { case (_, t) => finalState(spark, t) }.reduce(_ unionByName _)
  }
}
