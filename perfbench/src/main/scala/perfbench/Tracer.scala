package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Outside-in tracer for the traced run. It watches one round through
  * Spark's public listener APIs (SparkListener for jobs, stages and tasks;
  * StreamingQueryListener for micro-batch progress), keeps every event in
  * memory, and afterwards derives the per-layer metrics and a span tree
  * (run > round > phase / stream > micro-batch > durationMs phase > job >
  * stage) with self times. Nothing inside the program is instrumented. */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer._

  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val queries = new ConcurrentLinkedQueue[(String, String, Long, Boolean)] // (id, runId, ms, started?)
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val tasks = new ConcurrentLinkedQueue[(Int, Long, Long)] // (stage, end ms, run ms)
  @volatile private var lastEvent = 0L

  private def seen(): Unit = lastEvent = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobRec(e.jobId, e.time, prop(QueryIdKey), prop(BatchIdKey).map(_.toLong), e.stageIds))
      seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.add(e.jobId -> e.time); seen() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageRec(i.stageId, i.name, i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.rddInfos.exists(_.name.contains("StateStore")),
        if (m == null) Map.empty else Map(
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input_records" -> m.inputMetrics.recordsRead.toDouble,
          "output_bytes" -> m.outputMetrics.bytesWritten.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble)))
      seen()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(e.taskInfo.duration)
      tasks.add((e.stageId, e.taskInfo.finishTime, run))
      seen()
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queries.add((e.id.toString, e.runId.toString, System.currentTimeMillis(), true)); seen()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = { progress.add(e.progress); seen() }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      queries.add((e.id.toString, e.runId.toString, System.currentTimeMillis(), false)); seen()
    }
  }

  private var round: Option[RoundResult] = None

  /** Run one whole round traced: attach the listeners, run it, wait until
    * the listener bus has delivered every event of it, then remove them. */
  def traced(body: => RoundResult): RoundResult = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    try {
      val r = body
      round = Some(r)
      val deadline = System.currentTimeMillis() + 10000L
      while (System.currentTimeMillis() < deadline &&
        (jobEnds.size < jobs.size || System.currentTimeMillis() - lastEvent < 300L)) Thread.sleep(50L)
      r
    } finally {
      spark.streams.removeListener(queryListener)
      spark.sparkContext.removeSparkListener(sparkListener)
    }
  }

  /** Per-layer metrics of the traced round; writes the span file. `extra`
    * holds what the run measured around the rounds (setup, ingest parse,
    * single-core baseline, tracing overhead). */
  def metrics(rounds: Seq[RoundResult], extra: Seq[(String, Double, String)], jvmStart: Long,
      sessionEnd: Long, spanFile: Path): Seq[(String, Double, String)] = {
    val r = round.getOrElse(sys.error("no traced round"))
    val t0 = r.t0
    val progs = progress.asScala.toVector.filter(p => ts(p) >= t0 - 1).sortBy(ts)
    val ran = progs.filter(_.durationMs.containsKey("addBatch"))
    val data = ran.filter(_.numInputRows > 0)
    val noData = ran.filter(_.numInputRows == 0)
    def d(p: StreamingQueryProgress, k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def p50(ps: Seq[StreamingQueryProgress], k: String) = Main.median(ps.map(d(_, k)))
    def stateSum(p: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    def custom(p: StreamingQueryProgress, keep: String => Boolean): Double =
      p.stateOperators.iterator.flatMap(_.customMetrics.asScala).collect { case (k, v) if keep(k) => v.toDouble }.sum

    val jobRecs = jobs.asScala.toVector
    val jobEndMap = jobEnds.asScala.toMap
    val batchKey = data.map(p => (p.id.toString, p.batchId)).toSet
    val batchJobs = jobRecs.filter(j => j.batch.exists(b => j.query.exists(q => batchKey((q, b)))))
    val stageRecs = stages.asScala.toVector
    val stageOf = stageRecs.map(s => s.id -> s).toMap
    val perBatch = data.map { p =>
      val js = batchJobs.filter(j => j.query.contains(p.id.toString) && j.batch.contains(p.batchId))
      val ss = js.flatMap(_.stageIds).distinct.flatMap(stageOf.get)
      (js.size.toDouble, ss.size.toDouble, ss.map(_.numTasks.toDouble).sum)
    }
    val windowEnd = r.windowEnd
    val inWindow = stageRecs.filter(s => s.end >= t0 && s.end <= windowEnd + 1)
    def stageSum(k: String) = inWindow.map(_.metrics.getOrElse(k, 0.0)).sum
    val taskRecs = tasks.asScala.toVector
    val busyMs = taskRecs.filter(t => t._2 >= t0 && t._2 <= windowEnd + 1).map(_._3.toDouble).sum
    val statefulStages = batchJobs.flatMap(_.stageIds).distinct.flatMap(stageOf.get).filter(_.stateful)
    val skew = statefulStages.map(s => taskRecs.filter(_._1 == s.id).map(_._3.toDouble))
      .filter(_.nonEmpty).sortBy(-_.sum).headOption
      .map(ts => ts.max / math.max(Main.median(ts), 1.0)).getOrElse(0.0)

    // file due (t0) -> start of the batch that read it. The file source logs
    // each batch's new files under its own log offset, which the batch
    // reports as its source offsets (batch ids also count batches that
    // found no new file, so they are not the same numbers).
    val qid = FileLog.queryId(r.checkpoint)
    val srcData = data.filter(_.id.toString == qid)
    val ranges = srcData.map { p =>
      val src = p.sources.headOption
      (ts(p), src.flatMap(s => FileLog.logOffset(s.startOffset)).getOrElse(-1L),
        src.flatMap(s => FileLog.logOffset(s.endOffset)).getOrElse(-1L))
    }
    val startAt = ranges.flatMap { case (st, lo, hi) => (lo + 1 to hi).map(_ -> st) }.toMap
    val offsets = FileLog.read(r.checkpoint)
    val lags = offsets.toSeq.flatMap { case (name, off) =>
      if (r.queueFiles(name)) startAt.get(off).map(st => (st - t0).toDouble) else None
    }
    val backlog = ranges.map { case (_, lo, _) =>
      r.queueFiles.count(name => offsets.getOrElse(name, Long.MaxValue) > lo).toDouble
    }
    val sagaPasses = queryRuns(progs).filter { case (id, _, _) =>
      progs.exists(p => p.id.toString == id && p.stateOperators.exists(_.operatorName.toLowerCase.contains("transformwithstate")))
    }

    writeSpans(r, rounds, progs, jobRecs, jobEndMap, stageRecs, jvmStart, sessionEnd, spanFile)

    Seq(
      ("sources.lag_ms_p50", Main.percentile(lags, 0.5), "ms"),
      ("sources.lag_ms_p90", Main.percentile(lags, 0.9), "ms"),
      ("sources.latest_offset_ms_p50", p50(srcData, "latestOffset"), "ms"),
      ("sources.get_batch_ms_p50", p50(srcData, "getBatch"), "ms"),
      ("sources.backlog_files_max", (0.0 +: backlog).max, "count"),
      ("sources.rows_per_batch_p50", Main.median(srcData.map(_.numInputRows.toDouble)), "count"),
      ("ingest.rows_in", srcData.map(_.numInputRows.toDouble).sum, "count"),
      ("streaming.batches", data.size.toDouble, "count"),
      ("streaming.no_data_batches", noData.size.toDouble, "count"),
      ("streaming.trigger_ms_p50", p50(data, "triggerExecution"), "ms"),
      ("streaming.trigger_ms_p90", Main.percentile(data.map(d(_, "triggerExecution")), 0.9), "ms"),
      ("streaming.query_planning_ms_p50", p50(data, "queryPlanning"), "ms"),
      ("streaming.wal_commit_ms_p50", p50(data, "walCommit"), "ms"),
      ("streaming.commit_offsets_ms_p50", p50(data, "commitOffsets"), "ms"),
      ("streaming.jobs_per_batch", mean(perBatch.map(_._1)), "count"),
      ("streaming.stages_per_batch", mean(perBatch.map(_._2)), "count"),
      ("streaming.tasks_per_batch", mean(perBatch.map(_._3)), "count"),
      ("streaming.add_batch_ms_p50", p50(data, "addBatch"), "ms"),
      ("streaming.shuffle_write_bytes", stageSum("shuffle_write_bytes"), "bytes"),
      ("streaming.shuffle_read_bytes", stageSum("shuffle_read_bytes"), "bytes"),
      ("streaming.spill_bytes", stageSum("spill_bytes"), "bytes"),
      ("streaming.input_records", stageSum("input_records"), "count"),
      ("streaming.output_bytes", stageSum("output_bytes"), "bytes"),
      ("streaming.gc_ms", stageSum("gc_ms"), "ms"),
      ("streaming.task_busy_ms", busyMs, "ms"),
      ("streaming.slot_busy_ratio", busyMs / (math.max(windowEnd - t0, 1.0) * Main.Cores), "ratio"),
      ("streaming.state_commit_ms_p50", Main.median(data.map(stateSum(_)(_.commitTimeMs.toDouble))), "ms"),
      ("streaming.state_rows_total", data.lastOption.map(stateSum(_)(_.numRowsTotal.toDouble)).getOrElse(0.0), "count"),
      ("streaming.state_memory_bytes", (0.0 +: ran.map(stateSum(_)(_.memoryUsedBytes.toDouble))).max, "bytes"),
      ("streaming.rows_dropped_by_watermark", ran.map(stateSum(_)(_.numRowsDroppedByWatermark.toDouble)).sum, "count"),
      ("streaming.dup_rows_removed", ran.map(custom(_, _ == "numDroppedDuplicateRows")).sum, "count"),
      ("streaming.saga_pass_ms", Main.median(sagaPasses.map { case (_, s, e) => (e - s).toDouble }), "ms"),
      ("streaming.state_rocksdb_commit_ms", ran.map(custom(_, k => k.startsWith("rocksdbCommit"))).sum, "ms"),
      ("streaming.task_skew", skew, "ratio"),
      ("notify.ms", r.phases.ms("notify"), "ms"),
      ("notify.messages", r.messages.toDouble, "count"),
    ) ++ extra ++ Seq(
      ("gen.late_ms_p99", Main.percentile(rounds.flatMap(_.genLateMs), 0.99), "ms"),
      ("gen.late_ms_max", rounds.flatMap(_.genLateMs).maxOption.getOrElse(0.0), "ms"))
  }

  /** (query id, start ms, end ms) of every query run seen while traced;
    * a run whose start or end event was not seen is bounded by its
    * reported batches. */
  private def queryRuns(progs: Seq[StreamingQueryProgress]): Seq[(String, Long, Long)] = {
    val evs = queries.asScala.toVector
    progs.groupBy(p => (p.id.toString, p.runId.toString)).toSeq.map { case ((id, run), ps) =>
      val start = evs.find(e => e._4 && e._2 == run).map(_._3).getOrElse(ps.map(ts).min)
      val end = evs.find(e => !e._4 && e._2 == run).map(_._3)
        .getOrElse(ps.map(p => ts(p) + p.durationMs.getOrDefault("triggerExecution", 0L)).max)
      (id, start, end)
    }.sortBy(_._2)
  }

  private def writeSpans(r: RoundResult, rounds: Seq[RoundResult], progs: Seq[StreamingQueryProgress],
      jobRecs: Seq[JobRec], jobEnd: Map[Int, Long], stageRecs: Seq[StageRec],
      jvmStart: Long, sessionEnd: Long, file: Path): Unit = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, s: Double, e: Double, attrs: (String, Any)*): Int = {
      spans += Span(spans.size, parent, name, s, math.max(s, e), attrs.map { case (k, v) => k -> v.toString }.toMap)
      spans.size - 1
    }
    val root = add(-1, "run", jvmStart, System.currentTimeMillis(), "run_id" -> runId)
    add(root, "setup.session", jvmStart, sessionEnd)
    var tracedPhases = Map.empty[String, Int]
    rounds.foreach { rr =>
      val recs = rr.phases.recs
      val rs = add(root, "round", recs.map(_._2).min, recs.map(_._3).max, "round" -> rr.name, "traced" -> (rr eq r))
      val ids = recs.map { case (n, s, e) =>
        n -> add(rs, if (Seq("generate", "stage", "seed").contains(n)) s"setup.$n" else n, s, e)
      }.toMap
      if (rr eq r) tracedPhases = ids + ("round" -> rs)
    }
    val roundSpan = tracedPhases("round")
    val addBatchOf = scala.collection.mutable.HashMap.empty[(String, Long), Int]
    queryRuns(progs).foreach { case (qid, qs, qe) =>
      val stream = add(roundSpan, "stream", qs, qe, "query_id" -> qid)
      progs.filter(p => p.id.toString == qid && ts(p) >= qs && ts(p) <= qe).foreach { p =>
        val start = ts(p).toDouble
        val trig = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        val b = add(stream, "batch", start, start + trig, "batch_id" -> p.batchId, "rows" -> p.numInputRows)
        var at = start
        val keys = PhaseOrder.filter(p.durationMs.containsKey) ++
          p.durationMs.keySet.asScala.toSeq.sorted.filterNot(k => k == "triggerExecution" || PhaseOrder.contains(k))
        keys.foreach { k =>
          val len = p.durationMs.get(k).toDouble
          val id = add(b, s"batch.$k", at, at + len)
          if (k == "addBatch") addBatchOf((qid, p.batchId)) = id
          at += len
        }
      }
    }
    val phaseSpans = r.phases.recs.map { case (n, s, e) => (tracedPhases(n), s, e) }
    val stageOf = stageRecs.map(s => s.id -> s).toMap
    jobRecs.filter(j => j.start >= r.phases.recs.head._2).foreach { j =>
      val parent = (for (q <- j.query; bt <- j.batch; id <- addBatchOf.get((q, bt))) yield id)
        .orElse(phaseSpans.find { case (_, s, e) => j.start >= s && j.start <= e }.map(_._1))
        .getOrElse(roundSpan)
      val js = add(parent, "job", j.start, jobEnd.getOrElse(j.jobId, j.start).toDouble, "job_id" -> j.jobId)
      j.stageIds.flatMap(stageOf.get).foreach { s =>
        add(js, "stage", s.start, s.end, "stage_id" -> s.id, "tasks" -> s.numTasks, "name" -> s.name)
      }
    }
    val children = spans.groupBy(_.parent)
    val json = spans.map { s =>
      val self = (s.end - s.start) - covered(s, children.getOrElse(s.id, Seq.empty).toSeq)
      val attrs = s.attrs.map { case (k, v) => s""""$k": "${v.replace("\"", "'")}"""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "start_ms": ${s.start}, "end_ms": ${s.end}, "self_ms": $self, "attrs": {$attrs}}"""
    }
    Files.createDirectories(file.getParent)
    Files.write(file, json.mkString(s"""{"run_id": "$runId", "spans": [\n""", ",\n", "\n]}\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  // local properties Spark sets on every job a micro-batch runs
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  // the order MicroBatchExecution runs the phases it reports in durationMs
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  final case class JobRec(jobId: Int, start: Long, query: Option[String], batch: Option[Long], stageIds: Seq[Int])
  final case class StageRec(id: Int, name: String, numTasks: Int, start: Long, end: Long, stateful: Boolean,
      metrics: Map[String, Double])
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double, attrs: Map[String, String])

  def ts(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the part of `s` that its children cover. */
  def covered(s: Span, kids: collection.Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end))).filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map(c => c._2 - c._1).getOrElse(0.0)
  }

  /** The file source's own log in a query checkpoint: the log offset each
    * file was recorded under, and the query id the checkpoint belongs to. */
  object FileLog {
    def logOffset(json: String): Option[Long] =
      Option(json).flatMap("\"logOffset\":(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toLong)

    def read(ckpt: Path): Map[String, Long] = {
      val dir = ckpt.resolve("sources").resolve("0")
      if (!Files.isDirectory(dir)) Map.empty
      else {
        val path = "\"path\":\"([^\"]+)\"".r
        val batch = "\"batchId\":(\\d+)".r
        Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
          Files.readAllLines(f).asScala.flatMap { l =>
            for (p <- path.findFirstMatchIn(l); b <- batch.findFirstMatchIn(l))
              yield p.group(1).split('/').last -> b.group(1).toLong
          }
        }.toMap
      }
    }

    def queryId(ckpt: Path): String = {
      val m = ckpt.resolve("metadata")
      if (!Files.exists(m)) ""
      else "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(new String(Files.readAllBytes(m), StandardCharsets.UTF_8))
        .map(_.group(1)).getOrElse("")
    }
  }
}
