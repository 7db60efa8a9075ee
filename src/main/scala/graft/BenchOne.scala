package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Single-query bench harness: `runMain graft.BenchOne <name> [sfDir]` —
  * isolates one registered query in a fresh JVM for plan/perf work and
  * prints its work counters and, for stream_* queries, each
  * micro-batch's durationMs split (`STREAMPROBE batch=` lines). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.build(Session.cores)
    // every micro-batch's durationMs split, the layer the streaming
    // family's per-batch fixed costs live in (only stream_* queries
    // start streaming queries, so only they print these lines)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        println(s"STREAMPROBE batch=${p.batchId} rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")} plan=${d.get("queryPlanning")} " +
          s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
          s"wal=${d.get("walCommit")} commit=${d.get("commitOffsets")} " +
          s"addBatch=${d.get("addBatch")}")
      }
    })
    val fn = SparkEntry.queries(name)
    // optional integer arg (any position ≥ 2): extra warm repetitions —
    // box-noise protocol: median of several in-JVM warm samples beats
    // any pair of single samples on a drifting machine
    val reps = args.drop(2).flatMap(a => scala.util.Try(a.toInt).toOption)
      .headOption.getOrElse(1)
    // deterministic work counters (jobs/stages/tasks, shuffle bytes,
    // input records): on a co-tenant-noisy box these, not wall times,
    // are the trustworthy before/after evidence for a recompute or
    // shuffle elimination
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val inRec = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks.toLong)
          shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          inRec.addAndGet(s.stageInfo.taskMetrics.inputMetrics.recordsRead)
        }
      })
    def snap() = (jobs.get, stages.get, tasks.get, shufW.get, inRec.get)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    val t1 = System.nanoTime()
    // warm runs in the warmed JVM separate JIT/codegen cost from plan cost;
    // the same per-run hygiene as Bench so samples are independent
    val warms = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val before = snap()
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - w0) / 1e9
      // listener events drain asynchronously; give the bus a moment so
      // the per-run deltas attribute to the right run
      Thread.sleep(300)
      val after = snap()
      (dt, after._1 - before._1, after._2 - before._2, after._3 - before._3,
        after._4 - before._4, after._5 - before._5)
    }
    val warmStr = warms.map(w => f"${w._1}%.2f").mkString(",")
    println(f"BENCHONE $name rows=$n cold=${(t1 - t0) / 1e9}%.2fs warm=${warmStr}s")
    warms.zipWithIndex.foreach { case ((dt, j, st, tk, sw, ir), i) =>
      println(f"BENCHONE_WORK $name rep=${i + 1} sec=$dt%.2f jobs=$j stages=$st tasks=$tk shuffleMB=${sw / 1e6}%.1f inputRecords=$ir")
    }
    if (args.length > 2 && args(2) == "explain")
      fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
