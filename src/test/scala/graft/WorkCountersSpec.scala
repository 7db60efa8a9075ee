package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[WorkCounters.observe]]: exact counters for a fixed plan, equal
  * counters for equal work, no listener left behind, and the
  * per-micro-batch progress frame. */
class WorkCountersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** A fixed two-stage plan: 4 range slices, then one hash aggregate
    * over the suite's 4 shuffle partitions, planned without AQE. */
  private def groupedCount(): WorkCounters =
    Session.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      WorkCounters.observe(spark) {
        spark.range(0, 1000, 1, 4).select(($"id" % 10).as("k")).groupBy("k").count().collect()
      }._2
    }

  test("a grouped count runs exactly one job of two stages and eight tasks") {
    val t = groupedCount().totals
    assert((t.jobs, t.stages, t.tasks) === ((1L, 2L, 8L)))
    assert(t.inputRecords === 1000L) // the range's rows, read once
    assert(t.shuffleWriteBytes > 0 && t.shuffleReadBytes === t.shuffleWriteBytes)
    assert(t.batches === 0L)
  }

  test("two observations of the same action return equal counters") {
    assert(groupedCount().totals === groupedCount().totals)
  }

  test("the executed plan of every SQL execution is recorded") {
    val w = groupedCount()
    assert(w.plans.size === 1)
    assert(w.plans.head.collect { case e: ShuffleExchangeExec => e }.size === 1)
  }

  test("Bench's counters entry is one JSON object of the totals, with no calib key") {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.countersJson(groupedCount()))
    assert((node.get("jobs").asLong, node.get("stages").asLong, node.get("tasks").asLong)
      === ((1L, 2L, 8L)))
    // tools/decode_bench.py reads every top-level *_sec key as calib
    assert(!node.fieldNames.asScala.exists(_.endsWith("_sec")))
    assert(node.get("duration_ms") === null) // no micro-batches ran
  }

  test("a body that throws leaves no listener behind and rethrows") {
    val before = spark.streams.listListeners().toSeq
    val e = intercept[IllegalStateException] {
      WorkCounters.observe(spark) { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(spark.streams.listListeners().toSeq === before)
  }

  test("per-batch input rows across retry passes; state rows and watermark") {
    import graft.streaming.RetryLoop
    val base = tmp("graft-metrics-spec")
    val queue = Seq(("ok-1", false, 0), ("poison-1", true, 0))
      .toDF("key", "bad", "attempts")
    queue.coalesce(1).write.parquet(s"$base/in/seed")
    val (passes, m) = WorkCounters.observe(spark) {
      RetryLoop.run(spark, queue.schema, s"$base/in",
        s"$base/delivered", s"$base/dlq", s"$base/ckpt", $"bad", maxAttempts = 3)
    }
    assert(passes === 3)
    val f = m.frame(spark).filter($"input_rows" > 0)
    // pass 1 sees the 2-row seed; the poison re-enqueues burn 2 more
    // batches before the DLQ divert. NOTE numInputRows is rows READ in
    // the trigger: foreachBatch bodies that run several actions rescan
    // the source per action, so the counts are upper bounds there —
    // the per-batch EXACT counts are certified by the single-action
    // stream_metrics_counts oracle query instead
    assert(f.count() === 3)
    assert(f.select($"batch_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(0L, 1L, 2L))
    // a stateful watermarked aggregation surfaces state size + watermark
    val ev = Seq(
      (1L, "2024-01-01 00:10:00"), (2L, "2024-01-01 00:20:00"),
      (3L, "2024-01-01 02:30:00")).toDF("id", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    ev.coalesce(1).write.parquet(s"$base/ev_in/g0")
    val (_, m2) = WorkCounters.observe(spark) {
      val q = spark.readStream.schema(ev.schema).parquet(s"$base/ev_in/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour")).count()
        .writeStream.outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ev_ckpt")
        .format("noop").start()
      q.awaitTermination()
    }
    val f2 = m2.frame(spark)
    assert(f2.agg(max($"state_rows")).head().getLong(0) === 2) // two live windows
    assert(f2.filter($"watermark" =!= "").count() >= 1)
  }
}
