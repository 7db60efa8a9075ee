package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

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
  * reads, and the saga is ONE query ([[Drain.untilQuiet]]): each pass
  * is a micro-batch over the files enqueued since the last, so it is
  * planned once and its RocksDB state stays loaded between passes.
  *
  * Pass anatomy (foreachBatch, all idempotent under micro-batch retry
  * via batchId-keyed overwrite dirs, same pattern as [[RetryLoop]]):
  *  - line verdicts go straight from the stateful lineage to
  *    `verdictsDir/batch_<id>`, counting denied request lines on the way;
  *  - only if some were denied, compensating credits for newly-FAILED
  *    orders (negate every granted line) are computed from that dir and
  *    re-enqueue as `inDir/credits_<id>` (no dir when there are none).
  *
  * Termination is structural, not heuristic: credits carry negative
  * quantities, the processor always grants them, and
  * [[InventoryProcessor.orderVerdicts]] excludes them from order
  * verdicts — so a credits-only pass can never produce new FAILED
  * orders, and the pass after it enqueues nothing. A fully-seeded queue
  * drains in 2 passes; a run still not quiet after `maxPasses` fails.
  *
  * Keyed state (RocksDB) persists across runs through the checkpoint;
  * the initial stock seed applies only on the first batch of a fresh
  * checkpoint (restarts restore state instead of re-seeding —
  * conservation would break otherwise, and the spec checks it).
  *
  * Determinism note: one pass = one micro-batch (the file source with
  * no maxFilesPerTrigger reads every new file as a single batch),
  * so within a pass each product serves credits first, then requests
  * in lexicographic order_id order ([[InventoryProcessor.Processor]]).
  * Callers who want greedy-by-numeric-order semantics must zero-pad
  * order ids.
  */
object SagaLoop {

  /** Safety bound on passes: a fully-seeded queue drains in 2. */
  private val maxPasses = 4

  /** Drive the saga as one query until it quiesces. `inDir` holds one
    * parquet dir per enqueue: seed dirs from the caller,
    * `credits_<batchId>` dirs from the loop. Returns the passes run. */
  def run(
      spark: SparkSession,
      inDir: String,
      verdictsDir: String,
      checkpoint: String,
      seed: Dataset[ProductStock]): Int = {
    import spark.implicits._
    val requests = spark.readStream.schema(Encoders.product[LineRequest].schema)
      .parquet(s"$inDir/*").as[LineRequest].groupByKey(_.product_id)
    Drain.untilQuiet(
      InventoryProcessor.reserve(requests, seed.groupByKey(_.product_id)),
      checkpoint, maxPasses) { (batch: Dataset[LineVerdict], batchId: Long) =>
        val out = s"$verdictsDir/batch_$batchId"
        val denied = Drain.writeCounting(batch.toDF(), out,
          col("quantity") >= 0 && !col("granted"))
        // no denied line, no failed order: a credits-only pass ends here
        if (denied > 0) {
          val verdicts = spark.read.schema(batch.schema).parquet(out).as[LineVerdict]
          Drain.enqueue(InventoryProcessor.compensations(verdicts).toDF(),
            s"$inDir/credits_$batchId")
        }
      }
  }
}
