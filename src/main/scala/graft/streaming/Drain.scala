package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Runs a streaming query over everything its sources hold now, then
  * returns: the synchronous shape every file-fed certificate and
  * state-machine driver uses. The drain policy (AvailableNow trigger,
  * checkpoint, start, await) lives here once; drivers supply only the
  * source and the per-batch body. */
object Drain {

  /** Appends `stream` to parquet at `path` under an AvailableNow
    * trigger, checkpointed at `checkpoint`, and waits for it to end. */
  def toParquet(stream: Dataset[_], path: String, checkpoint: String): Unit =
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", path)
      .start()
      .awaitTermination()

  /** Runs `f(batch, batchId)` on every micro-batch of `stream` under an
    * AvailableNow trigger, checkpointed at `checkpoint`, and waits for
    * the query to end. Returns the number of micro-batches run. */
  def eachBatch[T](stream: Dataset[T], checkpoint: String)(
      f: (Dataset[T], Long) => Unit): Int = {
    // written only by the query's thread; awaitTermination returns
    // through the query's termination latch, which publishes the count
    var batches = 0
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        f(batch, batchId)
        batches += 1
      }
      .start()
      .awaitTermination()
    batches
  }

  /** The per-file replay source: parquet under `inDir` (one-level
    * glob), one file per micro-batch, so batch N is the N-th file in
    * arrival order. */
  def files(spark: SparkSession, schema: StructType, inDir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inDir/*")
}
