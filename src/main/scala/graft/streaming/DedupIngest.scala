package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming incremental-dedup ingest: the continuously-fed corpus
  * pipeline. Each micro-batch collapses its own duplicates (first
  * keeper by doc_id), anti-joins the survivors against the accumulated
  * SEEN-DIGEST state table, appends only genuinely new content to the
  * output corpus, and extends the state with the admitted digests —
  * so a document's content is admitted exactly once across the whole
  * stream, no matter which batch carries its copies.
  *
  * The batch analog is [[graft.ops.Dedup.incrementalNew]]; this runs
  * the same anti-join shape under Structured Streaming's delivery.
  *
  * State is a digest-ONLY parquet table (32-byte md5 per admitted
  * doc): at 100 TB of corpus the state is ~3 orders of magnitude
  * smaller than the data, the anti-join shuffles digests rather than
  * text, and AQE broadcasts the batch side when small. Both the
  * output and state writes are per-batch overwrite directories keyed
  * by batchId (`batch_N`/`seen_N` — no `=`, so no partition-column
  * inference), making a retried micro-batch rewrite its own outputs
  * instead of double-appending. [[compactState]] folds the per-batch
  * seen-digest dirs into one between runs; its overwrite is the one
  * non-atomic window, which a transactional table format would close.
  */
object DedupIngest {

  val stateSchema: StructType =
    StructType(Seq(StructField("content_hash", StringType, nullable = false)))

  /** Drain `inDir` (one-level glob of parquet dirs/files) with
    * AvailableNow semantics. Returns the number of micro-batches. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      stateDir: String,
      checkpoint: String): Int = {
    StateDirs.ensure(spark.sparkContext.hadoopConfiguration, stateDir)
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      fresh(batch, stateDir, batchId)
        .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      // derive the state extension from the just-written output so
      // state and corpus can never diverge (and the anti-join isn't
      // recomputed)
      batch.sparkSession.read.parquet(s"$outDir/batch_$batchId")
        .select(col("content_hash"))
        .write.mode("overwrite").parquet(s"$stateDir/seen_$batchId")
    }
  }

  /** Exact admission of `docs` (`doc_id`, `text`) at `batchId`: the
    * in-batch keeper ([[firstPerDigest]]) anti-joined against the
    * digests seen in batches strictly BEFORE this one. On a retried
    * micro-batch, `seen_$batchId` from the failed attempt would
    * otherwise anti-join the batch against its own output and
    * silently admit nothing; dirs keyed >= batchId belong to this
    * attempt (or a failed future one after checkpoint rollback) and
    * are about to be overwritten anyway. */
  def fresh(docs: DataFrame, stateDir: String, batchId: Long): DataFrame = {
    val inBatch = firstPerDigest(docs)
    StateDirs.readBefore(docs.sparkSession, stateDir, "seen_", stateSchema, batchId)
      .fold(inBatch)(seen => inBatch.join(seen, Seq("content_hash"), "left_anti"))
  }

  /** The first row by `doc_id` of each md5 content digest, with the
    * digest added as `content_hash`. */
  def firstPerDigest(docs: DataFrame): DataFrame = {
    val keeper = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    docs.withColumn("content_hash", md5(col("text")))
      .withColumn("__rn", row_number().over(keeper))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Compact the accumulated per-batch seen-digest dirs into one.
    * After N micro-batches the state is N small dirs; every later
    * batch's anti-join unions all of them, and at file-source batch
    * counts in the thousands the listing/footer overhead dominates the
    * (tiny) digest data. Folding them into the lowest-keyed one
    * (`seen_0`, or a bootstrap seed's `seen_-1`) keeps the
    * read path O(1) dirs while preserving the set of digests exactly.
    *
    * MUST run between [[run]] invocations, never concurrently with one.
    * Crash safety: digests are a SET — the anti-join is insensitive to
    * duplicates across dirs — so the only dangerous window is the
    * target's overwrite itself (mitigated by materializing the union
    * before touching any dir; a transactional table format would close
    * it entirely, as the class doc notes). A crash after the overwrite
    * but mid-delete leaves stale dirs whose digests are already in
    * the target: harmless, and the next compaction removes them.
    *
    * Returns the number of dirs folded away. */
  def compactState(spark: SparkSession, stateDir: String): Int =
    StateDirs.compactPrefix(spark, stateDir, "seen_", stateSchema)
}
