package graft.streaming

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset, SparkSession}

import graft.streaming.InventoryProcessor.{LineRequest, LineVerdict, ProductStock}

/** A2 v2 phase 2 as a self-contained driver: the full
  * reserve → order-verdict → compensate saga under one callable API,
  * the same file-queue-hop style as [[RetryLoop]].
  *
  * The reference rolls back a failed order inside one database
  * transaction (reference src/order_processor/app.py:60-108). At scale
  * the equivalent is a saga: grant per line against sharded keyed state,
  * group verdicts by order, and re-enqueue compensating +quantity
  * credits for any order with a denied line. Here the credit hop is a
  * file re-enqueue into the SAME request queue the reserve stream
  * reads — each pass is one AvailableNow run over everything enqueued
  * so far (AvailableNow latches its file snapshot at query start, so
  * credits written mid-pass are picked up by the next pass, not the
  * current one).
  *
  * Pass anatomy (foreachBatch, all idempotent under micro-batch retry
  * via batchId-keyed overwrite dirs, same pattern as [[RetryLoop]]):
  *  - line verdicts append to `verdictsDir/batch_<id>`;
  *  - compensating credits for newly-FAILED orders (negate every
  *    granted line) re-enqueue as `inDir/credits_<id>`.
  *
  * Termination is structural, not heuristic: credits carry negative
  * quantities, the processor always grants them, and
  * [[InventoryProcessor.orderVerdicts]] excludes them from order
  * verdicts — so a credits-only pass can never produce new FAILED
  * orders, and the pass after it enqueues nothing. A fully-seeded queue
  * drains in 2 passes; `maxPasses` is a safety bound only.
  *
  * Keyed state (RocksDB) persists across passes through the shared
  * checkpoint; the initial stock seed applies only on the first batch
  * of a fresh checkpoint (restarts restore state instead of re-seeding
  * — conservation would break otherwise, and the spec checks it).
  *
  * Determinism note: one pass = one micro-batch (the file source with
  * no maxFilesPerTrigger reads its whole snapshot as a single batch),
  * so within a pass each product serves credits first, then requests
  * in lexicographic order_id order ([[InventoryProcessor.Processor]]).
  * Callers who want greedy-by-numeric-order semantics must zero-pad
  * order ids.
  */
object SagaLoop {

  /** Safety bound on passes: a fully-seeded queue drains in 2. */
  private val maxPasses = 4

  /** Drive AvailableNow passes until the saga quiesces (a pass that
    * enqueues no credits ends the loop). `inDir` holds one parquet dir
    * per enqueue: seed dirs from the caller, `credits_<batchId>` dirs
    * from the loop. Returns the number of passes run. */
  def run(
      spark: SparkSession,
      inDir: String,
      verdictsDir: String,
      checkpoint: String,
      seed: Dataset[ProductStock]): Int = {
    import spark.implicits._
    val reqSchema = org.apache.spark.sql.Encoders.product[LineRequest].schema
    var pass = 0
    var drained = false
    while (!drained && pass < maxPasses) {
      val credited = new java.util.concurrent.atomic.AtomicBoolean(false)
      val requests: KeyValueGroupedDataset[String, LineRequest] =
        spark.readStream.schema(reqSchema).parquet(s"$inDir/*")
          .as[LineRequest].groupByKey(_.product_id)
      Drain.eachBatch(
        InventoryProcessor.reserve(requests, seed.groupByKey(_.product_id)),
        checkpoint) { (batch: Dataset[LineVerdict], batchId: Long) =>
          // the verdict batch feeds two sinks; materialize once so the
          // stateful lineage is not re-executed for the credits branch
          val verdicts = batch.localCheckpoint()
          // verdict and credit writes are independent once verdicts is
          // materialized (disjoint dirs) — overlap them, guide §2.6;
          // the credits arm keeps its emptiness probe so a quiesced
          // pass still enqueues nothing
          val credits = InventoryProcessor.compensations(verdicts)
          Overlap.awaitAll(Seq(
            () => verdicts.toDF().write.mode("overwrite")
              .parquet(s"$verdictsDir/batch_$batchId"),
            () => if (!credits.isEmpty) {
              credited.set(true)
              credits.toDF().write.mode("overwrite")
                .parquet(s"$inDir/credits_$batchId")
            }))
          ()
        }
      drained = !credited.get
      pass += 1
    }
    pass
  }
}
