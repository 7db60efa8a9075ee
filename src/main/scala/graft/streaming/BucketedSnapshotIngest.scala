package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Key-bucketed snapshot-state streaming driver: the incremental form
  * of [[SnapshotIngest]] for state that is TABLE-sized rather than
  * view-sized.
  *
  * [[SnapshotIngest]] rewrites the complete state every micro-batch —
  * right when the state is a small aggregate view, a scale-killer when
  * the state is table state (a CDC-maintained table at 100 TB would be
  * a full-table rewrite per batch). Here the state is hash-bucketed by
  * key (`pmod(hash(keys), nBuckets)`), each bucket holding its own
  * `state_N` snapshot chain, and a batch rewrites ONLY the buckets its
  * keys touch — untouched buckets pass through by reference (their
  * newest snapshot simply stays the newest). Per-batch write volume is
  * thus proportional to touchedBuckets × bucketSize, not table size;
  * `nBuckets` is the knob that trades write amplification (fewer,
  * bigger buckets) against small-file count (more, smaller ones).
  *
  * Each touched bucket folds through [[SnapshotIngest.foldBatch]] on
  * its own `bucket_N` dir, so the exactly-once contract is
  * [[SnapshotIngest]]'s, applied per bucket: a retried batch touches
  * the same buckets (the bucket function is deterministic in the
  * batch's keys) and each reads the newest snapshot strictly before
  * its batchId, ignoring its failed attempt's output.
  *
  * The driver-side loop is over touched BUCKET IDS — at most
  * `nBuckets` elements (a configuration constant), never data-sized;
  * each iteration is a distributed merge job over one bucket.
  */
object BucketedSnapshotIngest {

  /** Drain `inDir` with AvailableNow semantics, folding each batch into
    * the per-bucket snapshot chains with `merge(priorBucketState,
    * bucketBatch)` — `merge` sees only one bucket's rows at a time,
    * which is transparent to any per-key merge (a key lives in exactly
    * one bucket). Returns the micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      stateDir: String,
      checkpoint: String,
      keys: Seq[String],
      nBuckets: Int)(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Int = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    StateDirs.ensure(spark.sparkContext.hadoopConfiguration, stateDir)
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      // materialize the bucketed batch once — each touched bucket's
      // merge filters it instead of re-reading the source
      val bucketed = batch
        .withColumn("__bucket", pmod(hash(keys.map(col): _*), lit(nBuckets)))
        .localCheckpoint()
      // bounded driver data: at most nBuckets ids, never row-scaled
      val touched = bucketed.select(col("__bucket")).distinct()
        .collect().map(_.getInt(0)).sorted
      // overlap the per-bucket merge jobs (guide §2.6): buckets are
      // disjoint by construction (a key lives in exactly one bucket;
      // each writes/prunes only its own dir), so the merges are
      // independent Spark jobs — run serially they cost one
      // scheduler round-trip EACH per batch, which at tiny bucket
      // sizes IS the batch cost. A small pool keeps 4 in flight so
      // the next bucket's tasks back-fill the previous one's tail;
      // any failure propagates and fails the batch (retry contract
      // unchanged — state reads are strictly-before-batchId).
      Overlap.awaitAll(touched.toSeq.map { b => () =>
        SnapshotIngest.foldBatch(s"$stateDir/bucket_$b")(merge)(
          bucketed.filter(col("__bucket") === b).drop("__bucket"), batchId)
      })
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(bucketed)
    }
  }

  /** The queryable state: the union of every bucket's newest snapshot. */
  def finalState(spark: SparkSession, stateDir: String): DataFrame = {
    val newest = bucketHeads(spark, stateDir)
    require(newest.nonEmpty, s"no state snapshots in $stateDir")
    spark.read.parquet(newest: _*)
  }

  /** Each bucket's newest snapshot path (the live state manifest). */
  def bucketHeads(spark: SparkSession, stateDir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    StateDirs.list(conf, stateDir, "bucket_", Long.MaxValue)
      .flatMap { case (_, bucketDir) =>
        SnapshotIngest.newestSnapshot(conf, bucketDir, Long.MaxValue)
      }
  }
}
