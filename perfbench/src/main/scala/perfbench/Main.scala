package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Checkout-pipeline benchmark. One invocation runs one workload:
  *
  * {{{
  *   Main --workload backlog|saga --seed N --seconds S --trace 0|1
  * }}}
  *
  * and prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced). It exits 1 when the reference replay finds
  * a wrong or duplicate verdict or broken conservation. */
object Main {
  val Cores = 4

  def session(cores: Int, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000L).selectExpr("sum(id)").collect()
    spark
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1")
    require(Set("backlog", "saga")(a.workload), s"unknown workload '${a.workload}'")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runId = f"${args.workload}-s${args.seed}-${System.currentTimeMillis()}%x"
    val out = Paths.get(".bench_build").toAbsolutePath
    val work = out.resolve("work").resolve(runId)
    Files.createDirectories(work)
    val code =
      try run(args, jvmStart, runId, work, out)
      finally deleteTree(work)
    sys.exit(code)
  }

  private def run(args: Args, jvmStart: Long, runId: String, work: Path, out: Path): Int = {
    var spark = session(Cores, work)
    val sessionEnd = System.currentTimeMillis()
    val sessionMs = (sessionEnd - jvmStart).toDouble
    try {
      if (args.workload == "saga")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val tracer = if (args.trace) Some(new Tracer(spark, runId)) else None
      val run = Rounds.run(new Workloads(spark, work, args.seed), args, tracer)
      val rounds = run.rounds
      val all = run.warmup +: rounds
      var checked = all.map(_.check)
      all.foreach { r =>
        val ph = r.phases.recs.map(x => s"${x._1}=${x._3 - x._2}").mkString(" ")
        val counters = r.counters.toSeq.sorted.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")
        System.err.println(f"${r.name}: ${r.latenciesMs.size} orders, ${r.ordersPerS}%.1f/s, " +
          f"p50 ${percentile(r.latenciesMs, 0.5)}%.0f ms, $ph, $counters, ${r.check}")
      }
      // set-up: the session, the warm-up round, and the median over the
      // measured rounds of input generation, staging and inventory seed
      val setupPhases = Seq("generate", "stage", "seed")
      val warmupMs = (run.warmup.phases.recs.map(_._3).max - run.warmup.phases.recs.map(_._2).min).toDouble
      val inputsMs = median(rounds.map(r => setupPhases.map(r.phases.ms).sum))
      val metrics: Seq[(String, Double, String)] = tracer match {
        case None =>
          Seq(
            ("setup_s", (sessionMs + warmupMs + inputsMs) / 1000.0, "s"),
            ("latency_p50_ms", median(rounds.map(r => percentile(r.latenciesMs, 0.5))), "ms"),
            ("latency_p90_ms", median(rounds.map(r => percentile(r.latenciesMs, 0.9))), "ms"),
            ("orders_per_s", median(rounds.map(_.ordersPerS)), "orders/s"),
            ("peak_rss_mb", peakRssMb(), "MB"))
        case Some(t) =>
          val traced = rounds.last
          // traced / untraced end-to-end: the time per order of the traced
          // round against the untraced one before it
          val overhead = rounds(rounds.size - 2).ordersPerS / traced.ordersPerS
          val (parseMs, valid, rejected) = Probes.parse(spark, traced.queue)
          if ((valid, rejected) != traced.payloads)
            checked :+= CheckReport(wrong = 1).note(s"ingest split $valid/$rejected, generator offered ${traced.payloads}")
          val baseline = if (args.workload == "backlog") {
            spark.stop()
            spark = session(1, work)
            val one = new Workloads(spark, work, args.seed)
              .round("backlog", "backlog-local1", args.seconds.toDouble / Rounds.Measured, notify = true)
            checked :+= one.check
            Seq(("baseline.local1_orders_per_s", one.ordersPerS, "orders/s"),
              ("baseline.scaling_ratio", median(rounds.map(_.ordersPerS)) / one.ordersPerS, "ratio"))
          } else Seq(("baseline.local1_orders_per_s", 0.0, "orders/s"), ("baseline.scaling_ratio", 0.0, "ratio"))
          val extra = Seq(
            ("ingest.rows_valid", valid.toDouble, "count"),
            ("ingest.rows_rejected", rejected.toDouble, "count"),
            ("ingest.valid_ratio", valid.toDouble / math.max(valid + rejected, 1L), "ratio"),
            ("ingest.parse_ms", parseMs, "ms"),
            ("setup.session_ms", sessionMs, "ms"),
            ("setup.warmup_ms", warmupMs, "ms")) ++
            setupPhases.map(n => (s"setup.${n}_ms", median(rounds.map(_.phases.ms(n))), "ms")) ++
            Workloads.Counters.map { case (n, u) => (n, traced.counters.getOrElse(n, 0.0), u) } ++
            baseline :+ ("trace.overhead_ratio", overhead, "ratio")
          val spanFile = out.resolve("trace").resolve(s"$runId.json")
          val ms = t.metrics(all, extra, jvmStart, sessionEnd, spanFile)
          System.err.println(s"spans written to $spanFile")
          ms
      }
      if (tracer.isEmpty && metrics.exists(m => m._2.isNaN || m._2.isInfinite))
        checked :+= CheckReport(wrong = 1).note(s"no measurement: $metrics")
      val correct = checked.forall(_.correct)
      if (!correct) checked.filterNot(_.correct).foreach(c => System.err.println(s"WRONG: $c"))
      println(Result.json(correct, rounds.map(_.attempted).sum, rounds.map(_.failed).sum, metrics))
      if (correct) 0 else 1
    } finally spark.stop()
  }
}

/** Traced-only probes that call one layer directly. */
object Probes {
  /** ingest: one batch call of the parse/validate entry point over a
    * round's whole queue, both outputs written to the noop sink.
    * Returns (ms, valid rows, rejected rows). */
  def parse(spark: SparkSession, queue: Path): (Double, Long, Long) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val t = System.nanoTime()
    val (valid, rejected) = graft.streaming.CheckoutStream.parseOrderStream(spark.read.text(queue.toString), "value")
    val n = Seq(valid, rejected).map { df =>
      val o = Observation()
      df.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      o.get("n").asInstanceOf[Long]
    }
    ((System.nanoTime() - t) / 1e6, n(0), n(1))
  }
}

object Result {
  // a per-layer metric with no samples (a layer the workload bypasses) reads 0
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
