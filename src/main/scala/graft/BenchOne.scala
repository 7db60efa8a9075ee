package graft

/** Single-query bench harness: `runMain graft.BenchOne <name> [sfDir]` —
  * isolates one registered query in a fresh JVM for plan/perf work and
  * prints its work counters and, for stream_* queries, each
  * micro-batch's durationMs split (`STREAMPROBE batch=` lines). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.build(Session.cores)
    val fn = SparkEntry.queries(name)
    // optional integer arg (any position ≥ 2): extra warm repetitions —
    // box-noise protocol: median of several in-JVM warm samples beats
    // any pair of single samples on a drifting machine
    val reps = args.drop(2).flatMap(a => scala.util.Try(a.toInt).toOption)
      .headOption.getOrElse(1)
    // one observation per run: (rows, seconds, counters). Work counters,
    // not wall times, are the trustworthy before/after evidence for a
    // recompute or shuffle elimination on a noisy box; the durationMs
    // split is where the streaming family's per-batch fixed costs live
    // (only stream_* queries start streaming queries and print it)
    def run(): (Long, Double, WorkCounters.Totals) = {
      val ((n, dt), wc) = WorkCounters.observe(spark) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      wc.batches.foreach { b =>
        def d(k: String) = b.durationMs.get(k).fold("null")(_.toString)
        println(s"STREAMPROBE batch=${b.batchId} rows=${b.inputRows} " +
          s"trigger=${d("triggerExecution")} plan=${d("queryPlanning")} " +
          s"getBatch=${d("getBatch")} latestOffset=${d("latestOffset")} " +
          s"wal=${d("walCommit")} commit=${d("commitOffsets")} " +
          s"addBatch=${d("addBatch")}")
      }
      (n, dt, wc.totals)
    }
    val (n, cold, _) = run()
    // warm runs in the warmed JVM separate JIT/codegen cost from plan cost;
    // the same per-run hygiene as Bench so samples are independent
    val warms = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      run()
    }
    val warmStr = warms.map(w => f"${w._2}%.2f").mkString(",")
    println(f"BENCHONE $name rows=$n cold=$cold%.2fs warm=${warmStr}s")
    warms.zipWithIndex.foreach { case ((_, dt, c), i) =>
      println(f"BENCHONE_WORK $name rep=${i + 1} sec=$dt%.2f jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} shuffleMB=${c.shuffleWriteBytes / 1e6}%.1f inputRecords=${c.inputRecords}")
    }
    if (args.length > 2 && args(2) == "explain")
      fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
