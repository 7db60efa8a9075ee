package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count_if, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Runs a streaming query over everything its sources hold, then
  * returns: the synchronous shape every file-fed certificate and
  * state-machine driver uses. The drain policy (trigger, checkpoint,
  * start, await) lives here once; drivers supply only the source and
  * the per-batch body. Loops that re-enqueue into their own source use
  * [[untilQuiet]], whose next micro-batch reads what a batch enqueued. */
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
      f: (Dataset[T], Long) => Unit): Int =
    counted(stream, checkpoint, Trigger.AvailableNow(), Int.MaxValue, f)(_.awaitTermination())

  /** Runs `f(batch, batchId)` on every micro-batch of `stream` in one
    * query under a ProcessingTime(0) trigger, checkpointed at
    * `checkpoint`, until a trigger finds no new data (every earlier
    * batch has committed by then), then stops it. Returns the number of
    * micro-batches run; more than `maxBatches` fails the query. */
  def untilQuiet[T](stream: Dataset[T], checkpoint: String, maxBatches: Int)(
      f: (Dataset[T], Long) => Unit): Int =
    counted(stream, checkpoint, Trigger.ProcessingTime(0), maxBatches, f) { q =>
      try q.processAllAvailable() finally q.stop()
    }

  private def counted[T](stream: Dataset[T], checkpoint: String, trigger: Trigger,
      maxBatches: Int, f: (Dataset[T], Long) => Unit)(await: StreamingQuery => Unit): Int = {
    // written only by the query's thread; awaitTermination and stop()
    // both return after that thread has ended, which publishes the count
    var batches = 0
    await(stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        if (batches == maxBatches)
          throw new IllegalStateException(s"more than $maxBatches micro-batches")
        f(batch, batchId)
        batches += 1
      }
      .start())
    batches
  }

  /** Overwrites parquet at `path` with `df`; returns how many written
    * rows satisfy `cond`, observed on the write rather than by a job. */
  def writeCounting(df: DataFrame, path: String, cond: Column = lit(true)): Long = {
    val seen = Observation()
    df.observe(seen, count_if(cond).as("n")).write.mode("overwrite").parquet(path)
    seen.get("n").asInstanceOf[Long]
  }

  /** Enqueues `df` as the parquet dir `path` of a file source; an empty
    * `df` leaves no dir, so the source runs no batch for it. */
  def enqueue(df: DataFrame, path: String): Unit =
    if (writeCounting(df, path) == 0) {
      val p = new Path(path)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** The per-file replay source: parquet under `inDir` (one-level
    * glob), one file per micro-batch, so batch N is the N-th file in
    * arrival order. */
  def files(spark: SparkSession, schema: StructType, inDir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inDir/*")
}
