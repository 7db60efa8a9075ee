package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What work a block did, as Spark's listener bus reported it: each
  * started job's micro-batch id, the completed stages, the micro-batches
  * of the streaming queries it started, and each SQL execution's
  * executed plan. Job and stage counts are the per-job coordination
  * cost small batches pay and, unlike wall time, deterministic. The
  * reference pipeline's counterpart is per-message logs and queue depth
  * (reference src/notification_sender/app.py:21-22, iac/main.tf:15-25). */
final class WorkCounters private (
    val jobs: Seq[Option[Long]],
    val stages: Seq[WorkCounters.Stage],
    val batches: Seq[WorkCounters.Batch],
    val queryStarts: Int,
    val plans: Seq[SparkPlan]) {

  /** What two observations of the same action agree on. */
  def totals: WorkCounters.Totals = WorkCounters.Totals(
    jobs.size, stages.size, stages.map(_.tasks.toLong).sum,
    stages.map(_.shuffleReadBytes).sum, stages.map(_.shuffleWriteBytes).sum,
    stages.map(_.inputRecords).sum, stages.map(_.spillBytes).sum, batches.size)

  /** Each `durationMs` phase summed over the micro-batches. */
  def durationMs: Map[String, Long] =
    batches.flatMap(_.durationMs).groupMapReduce(_._1)(_._2)(_ + _)

  /** The micro-batches as (query_name, run_id, batch_id, input_rows,
    * state_rows, state_rows_updated, rows_dropped_late, watermark). */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    batches.map(b => (b.name, b.runId, b.batchId, b.inputRows,
      b.stateRows, b.stateRowsUpdated, b.rowsDroppedLate, b.watermark))
      .toDF("query_name", "run_id", "batch_id", "input_rows",
        "state_rows", "state_rows_updated", "rows_dropped_late", "watermark")
  }
}

object WorkCounters {

  /** A completed stage, its job's micro-batch id and its state-store use. */
  final case class Stage(batchId: Option[Long], tasks: Int, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, inputRecords: Long, spillBytes: Long, stateStore: Boolean)

  final case class Batch(runId: String, name: String, batchId: Long, inputRows: Long,
      stateRows: Long, stateRowsUpdated: Long, rowsDroppedLate: Long, watermark: String,
      durationMs: Map[String, Long])

  final case class Totals(jobs: Long, stages: Long, tasks: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, inputRecords: Long, spillBytes: Long, batches: Long)

  /** Runs `body` with a job/stage, a streaming-query and a
    * query-execution listener on `spark`, waits until the listener bus
    * has delivered every event `body` posted (streaming progress rides
    * the same bus), and returns (result, counters). The wait throws
    * `TimeoutException` rather than return partial counters; the
    * listeners go however `body` exits. Jobs and stages are the whole
    * context's, so concurrent blocks count each other's. */
  def observe[A](spark: SparkSession)(body: => A): (A, WorkCounters) = {
    val jobs = new ConcurrentLinkedQueue[Option[Long]]
    val stages = new ConcurrentLinkedQueue[Stage]
    val batches = new ConcurrentLinkedQueue[Batch]
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val batchOfStage = TrieMap.empty[Int, Long]
    val work = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val batch = Option(e.properties)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
        batch.foreach(b => e.stageIds.foreach(batchOfStage.put(_, b)))
        jobs.add(batch)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val (s, m) = (e.stageInfo, e.stageInfo.taskMetrics)
        stages.add(Stage(batchOfStage.get(s.stageId), s.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          s.rddInfos.exists(_.name.contains("StateStore"))))
      }
    }
    // a query's started event reaches this listener on the starting
    // thread, before any of its progress
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val (p, state) = (e.progress, e.progress.stateOperators)
        if (started.contains(p.runId))
          batches.add(Batch(p.runId.toString, Option(p.name).getOrElse(""), p.batchId,
            p.numInputRows, state.map(_.numRowsTotal).sum, state.map(_.numRowsUpdated).sum,
            state.map(_.numRowsDroppedByWatermark).sum,
            Option(p.eventTime.get("watermark")).getOrElse(""),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val executions = new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = plans.add(qe.executedPlan)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    }
    spark.sparkContext.addSparkListener(work)
    spark.streams.addListener(streams)
    spark.listenerManager.register(executions)
    try {
      val a = body
      PlanBridge.awaitListeners(spark)
      (a, new WorkCounters(jobs.asScala.toList, stages.asScala.toList,
        batches.asScala.toList, started.size, plans.asScala.toList))
    } finally {
      spark.listenerManager.unregister(executions)
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(work)
    }
  }
}
