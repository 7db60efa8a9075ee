package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** ST2/S4 end-to-end: at-least-once redelivery with per-record attempt
  * counts and dead-letter divert — the reference's SQS redrive policy
  * (maxReceiveCount=3, reference iac/main.tf:21-24; consumer failure
  * path src/order_processor/app.py:45-48,121-124) re-expressed over
  * file-queue hops.
  *
  * Records enter the queue as (key, …payload, attempts=0). Each
  * micro-batch:
  *  - rows whose processing succeeds append to the delivered sink with
  *    their final attempt count;
  *  - rows that fail with attempts+1 < maxAttempts re-enter the input
  *    queue as a fresh file (the visibility-timeout redelivery);
  *  - rows reaching maxAttempts divert to the DLQ sink — the stream is
  *    never blocked by a poison record.
  *
  * Both sinks and the retry re-enqueue write per-batch overwrite
  * directories keyed by batchId, so a retried micro-batch rewrites the
  * same outputs instead of double-appending (idempotent under Structured
  * Streaming's retry, same pattern as [[CheckoutStream.InventoryTable]]).
  *
  * Scale: every pass is one declarative filter/split over the batch —
  * narrow, no shuffle; the queue hop is the only I/O. Poison records
  * cost maxAttempts passes and then leave the system, exactly the SQS
  * redrive contract.
  */
object RetryLoop {

  /** Drive the queue as one query until it drains (a trigger that finds
    * no new file ends it). `inDir` holds one parquet dir per enqueue
    * (seed dirs from the caller, `retry_<batchId>` dirs from the loop —
    * NO `=` in the name, so no partition-column inference); the source
    * reads a one-level glob under inDir. `isPoison` marks records whose
    * processing fails every delivery. Returns the number of passes. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      deliveredDir: String,
      dlqDir: String,
      checkpoint: String,
      isPoison: Column,
      maxAttempts: Int = 3): Int =
    // hard bound: a poison record is gone after maxAttempts passes, so
    // maxAttempts+1 passes always drain
    Drain.untilQuiet(spark.readStream.schema(schema).parquet(s"$inDir/*"),
      checkpoint, maxAttempts + 1) { (batch, batchId) =>
        val attempted = batch.withColumn("attempts", col("attempts") + 1)
        val failed = attempted.filter(isPoison)
        // delivered/DLQ/retry partition the batch into disjoint dirs
        // — overlap the three independent actions (guide §2.6)
        Overlap.awaitAll(Seq(
          () => attempted.filter(!isPoison)
            .write.mode("overwrite").parquet(s"$deliveredDir/batch_$batchId"),
          () => failed.filter(col("attempts") >= maxAttempts)
            .write.mode("overwrite").parquet(s"$dlqDir/batch_$batchId"),
          () => Drain.enqueue(failed.filter(col("attempts") < maxAttempts),
            s"$inDir/retry_$batchId")))
      }
}
