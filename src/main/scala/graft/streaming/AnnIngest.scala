package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming ANN index maintenance: arriving vector batches are
  * assigned and encoded against the FROZEN routing/codebook tables
  * ([[graft.ops.AnnIndex.appendVectors]]'s contract) — but through
  * per-batch OVERWRITE dirs instead of a blind append, because a
  * retried micro-batch re-running `mode("append")` would duplicate
  * its posting and code rows. [[merge]] folds the accumulated
  * increment dirs into the main index tables once the drain is done.
  *
  * Retry/crash shape: `run` is fully idempotent (overwrite dirs keyed
  * by batchId; assignment/encoding are deterministic functions of the
  * batch and the frozen tables). `merge` materializes the increments,
  * appends ONCE, then deletes the increment dirs — a crash between
  * the append and the delete would double-merge on a rerun, the same
  * window every non-transactional append has; a production deployment
  * closes it with a transactional table format, as the
  * [[DedupIngest.compactState]] note says for state folds. Run it
  * between drains, never concurrently with one.
  */
object AnnIngest {

  /** Drain `inDir` (vec_id + embedding parquet) with AvailableNow
    * semantics, staging per-batch increments under `indexDir`.
    * Returns the micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      indexDir: String,
      checkpoint: String,
      nSub: Int,
      dsub: Int): Int =
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      val ss = batch.sparkSession
      val cents = ss.read.parquet(s"$indexDir/centroids")
      val books = ss.read.parquet(s"$indexDir/codebooks")
      // the assignment and code writes are independent (both read
      // the stored model + the batch, disjoint dirs) — overlap them,
      // guide §2.6
      Overlap.awaitAll(Seq(
        () => graft.ops.Ivf.assign(batch, cents)
          .select(col("vec_id"), col("centroid_id"))
          .write.mode("overwrite")
          .parquet(s"$indexDir/assignments_inc/batch_$batchId"),
        () => graft.ops.Pq.assignCodes(graft.ops.Pq.subVectors(batch, nSub, dsub), books)
          .select(col("vec_id"), col("m"), col("code"))
          .write.mode("overwrite")
          .parquet(s"$indexDir/codes_inc/batch_$batchId")))
    }

  /** Fold the staged increments into the main index tables (append
    * once, then drop the staging dirs). No-op when nothing staged. */
  def merge(spark: SparkSession, indexDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("assignments", "codes").foreach { t =>
      val incRoot = s"$indexDir/${t}_inc"
      val incDirs = StateDirs.list(conf, incRoot, "batch_", Long.MaxValue).map(_._2)
      if (incDirs.nonEmpty) {
        val rows = spark.read.parquet(incDirs: _*).localCheckpoint()
        rows.write.mode("append").parquet(s"$indexDir/$t")
        StateDirs.delete(conf, incRoot)
        org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(rows)
      }
    }
  }
}
