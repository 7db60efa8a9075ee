package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.Trigger

/** Runs a streaming query over everything its sources hold now, then
  * returns: the synchronous shape every file-fed certificate and
  * state-machine driver uses. */
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
}
