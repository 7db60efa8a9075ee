package graft

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(Session.cores)
    // One-time session warmup (codegen compiler, parquet reader classes,
    // shuffle infra) so the first measured query doesn't absorb it.
    // Warmup failure (e.g. a dataset dir without region.parquet) must not
    // abort the run — per-query errors are isolated below, this is too.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case scala.util.control.NonFatal(_) => () }
    // BOX-SPEED CALIBRATION (r15): pinned, data-independent
    // measurements emitted beside `total` so every BENCH_r{N}
    // self-reports how fast the machine was THAT run — round-over-
    // round drift can then be normalized instead of argued about
    // (r12→r14 totals drifted +49% with per-query medians flat; the
    // noise attribution needed an instrument). calib_cpu_sec is a
    // single-thread xorshift loop (pure ALU, no allocation);
    // calib_spark_sec is a fixed 32-slice shuffle+hash-agg job
    // (codegen, exchange, task scheduling). r16 closes the MID-RUN
    // blind spot the start/end-only probes left (r15's +87 s landed in
    // a window neither bracket could see): the CPU probe re-runs every
    // [[ProbeEvery]] queries and the (suite offset, probe seconds)
    // series rides the compact telemetry line.
    val calibCpu = calibrateCpu()
    // r17 brackets the SPARK-path probe too (start/mid/end): r16's one
    // attribution question (dedup_banding_tradeoff ×1.83, 8th in run
    // order) rested on a single start-of-run calib_spark sample — two
    // more samples make that class of drift readable from the artifact
    // alone, the way the CPU probe series already localizes ALU-side
    // contention windows
    val calibSpark = calibrateSpark(spark)
    // the session-cached shared fixtures (IVF-PQ index, exact truth
    // pairs, dedup components, the curation run) build ONCE per
    // session; warming them here moves each one-time build OUT of its
    // alphabetically-first consumer (r16: store_ann_forget carried
    // 6.5 s of ANN training; dedup_banding_tradeoff the truth build;
    // pipeline_curation_audit the whole curation run) and reports the
    // costs as their own artifact fields, so the timed certificates
    // measure consumption steady-state
    val fixtures =
      try graft.certs.Fixtures.warmFixtures(spark, sfDir)
      catch { case scala.util.control.NonFatal(_) => Seq.empty[(String, Double)] }
    fixtures.foreach { case (n, t) =>
      println(f"[graft] fixture $n built in $t%.2f s") }
    val annBuild = fixtures.find(_._1 == "ann").map(_._2).getOrElse(-1.0)
    // sum the builds that succeeded (failed ones report -1 on their
    // own log line); all-failed degrades to -1 like the calibrations
    val okFixtures = fixtures.filter(f => f._1 != "ann" && f._2 >= 0)
    val fixturesBuild = if (okFixtures.isEmpty) -1.0 else okFixtures.map(_._2).sum
    // deterministic order + per-query session hygiene: drop any cached
    // RDDs/tables a query left behind so back-to-back timings measure
    // the query, not accumulated session state
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // an errored query's REAL elapsed wall (its t entry rides as -1 —
    // never a plausible time — but offset reconstruction from
    // cumsum(t) must not lose the seconds the failure consumed)
    val errWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // each query's work counters, as a JSON object (first samples only)
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Double]
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
    val midIdx = suite.size / 2
    var calibSparkMid = -1.0
    val suiteStart = System.nanoTime()
    var lastGc = System.nanoTime()
    var qIdx = 0
    // ONE measure-and-hygiene block for the suite loop AND the repeat
    // pass — a divergence here would make the two windows measure
    // under different session-state regimes. Returns (elapsed, error,
    // counters): elapsed is real even on failure (the repeat window's
    // wall cost must conserve) and excludes the listener-bus barrier
    // that completes the counters; the CALLER decides how a failure
    // rides. Failed counters cost the query its counters, not the run.
    def timedRun(name: String): (Double, Option[String], Option[String]) = {
      var timed: (Double, Option[String]) = (0.0, Some("the query did not run"))
      val work =
        try Some(WorkCounters.observe(spark) {
          val t0 = System.nanoTime()
          val err =
            try { SparkEntry.queries(name)(spark, sfDir).count(); None }
            // NonFatal only: an OOM/VM error means every later timing would
            // run in a poisoned JVM — a failed RUN reports more faithfully
            // than a plausible-looking garbage artifact
            catch { case scala.util.control.NonFatal(e) =>
              Some(sanitizeForJson(e.toString)) }
          timed = ((System.nanoTime() - t0) / 1e9, err)
        }._2)
        catch { case scala.util.control.NonFatal(_) => None }
      val (dt, err) = timed
      // per-query session hygiene: drop any cached RDDs/tables a query
      // left behind so back-to-back timings measure the query, not
      // accumulated session state
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // time-based GC nudge (the ContextCleaner drains on driver GC);
      // decoupled from query index so no single query systematically
      // pays the collection of its predecessors
      if ((System.nanoTime() - lastGc) / 1e9 > 20.0) {
        System.gc(); lastGc = System.nanoTime()
      }
      (dt, err, work.map(countersJson))
    }
    val results = suite.map {
      case (name, _) =>
        // mid-run drift probe: ~0.5 s of pinned single-thread ALU work
        // every ProbeEvery queries (<1% of suite wall), stamped with
        // its suite offset — the series that localizes a contention
        // window (co-tenant, thermal throttle) from the artifact alone
        if (qIdx % ProbeEvery == 0) {
          probes += (((System.nanoTime() - suiteStart) / 1e9, calibrateCpu()))
        }
        // one mid-run SPARK-path sample (~2 s, once): the CPU loop
        // can't see scheduler/shuffle/codegen-side contention
        if (qIdx == midIdx) calibSparkMid = calibrateSpark(spark)
        qIdx += 1
        offsets += (System.nanoTime() - suiteStart) / 1e9
        // a failed query must not look like a fast one: record -1 and
        // the error, never a normal-looking wall time
        val (dt, err, work) = timedRun(name)
        work.foreach(counters += name -> _)
        err.foreach { m => errors += name -> m.take(200); errWall += name -> dt }
        name -> (if (err.isEmpty) dt else -1.0)
    }
    probes += (((System.nanoTime() - suiteStart) / 1e9, calibrateCpu()))
    val calibCpuEnd = probes.last._2
    val calibSparkEnd = calibrateSpark(spark)
    // REPEAT PASS (r18): one second sample for the suite's slowest
    // tail. Two consecutive rounds' headline adjudications (r16
    // banding x1.83, r17 rel x2.14 on untouched code) rested on
    // evidence OUTSIDE the artifact — A/A re-runs and probe flatness —
    // because every per-query time was a single sample. A repeat
    // separates per-job scheduler drift from plan regression
    // mechanically: a real regression repeats, a scheduling hiccup
    // doesn't. First samples remain `total` (comparable round-over-
    // round); repeats ride as their own fields, and the repeat
    // window's wall cost is self-reported as repeats_sec so wall-
    // conserving cross-round totals stay mechanical.
    var repeatSpent = 0.0
    // r19 (VERDICT r18 item 8): besides the 10 slowest, repeat any query
    // whose first sample drifted past 2x its PREVIOUS ROUND's time — the
    // reference is the committed BENCH_r{N}/CORRECTNESS_r{N} artifacts of
    // the latest prior round, loaded best-effort (absent/unparseable →
    // no extra repeats). This only SELECTS which queries get a second
    // sample in the post-suite window; first samples and `total` are
    // untouched, and the window's cost still self-reports as repeats_sec.
    val prevTimes = loadPrevTimes()
    val slowestNames = results.filter(_._2 >= 0).sortBy(-_._2)
      .take(RepeatSlowest).map(_._1)
    val driftedNames = results
      .filter { case (n, t) =>
        t >= 0.5 && !slowestNames.contains(n) &&
          prevTimes.get(n).exists(p => p > 0 && t > 2 * p)
      }
      .sortBy(-_._2).take(RepeatDriftExtra).map(_._1)
    val repeats = (slowestNames ++ driftedNames)
      .map { name =>
        val (dt, err, _) = timedRun(name)
        // wall conserves even on failure: repeats_sec is the window's
        // COST, and decode's wall-conserving totals add it back
        repeatSpent += dt
        // a repeat that fails where the first sample passed is itself
        // a finding (late-session resource exhaustion, restart-only
        // bugs) — log it AND ride the -1 (decode labels it errored)
        err.foreach(m =>
          println("[graft] repeat of " + name + " failed: " + m.take(160)))
        name -> (if (err.isEmpty) dt else -1.0)
      }
    // one more CPU sample AFTER the repeat window, so the window the
    // repeats ran in is itself instrumented (decode marks entries past
    // end-of-suite as post-suite)
    probes += (((System.nanoTime() - suiteStart) / 1e9, calibrateCpu()))
    val repeatsSec = repeatSpent
    val calib = s""""calib_cpu_sec":${f3(calibCpu)},"calib_spark_sec":${f3(calibSpark)},"calib_spark_mid_sec":${f3(calibSparkMid)},"calib_spark_end_sec":${f3(calibSparkEnd)},"calib_cpu_end_sec":${f3(calibCpuEnd)},"ann_build_sec":${f3(annBuild)},"fixtures_build_sec":${f3(fixturesBuild)},"repeats_sec":${f3(repeatsSec)}"""
    // HEADLINE-only slim copy (r19): the five calib_* scalars ride the
    // qtimes line as the cs-precision `cpu`/`spk` arrays (and at full
    // precision in target/bench.json), so the headline drops them to
    // free capture-window bytes for the restored named `queries` map —
    // the one-time/out-of-window cost fields stay, the instrument is
    // not reduced, just de-duplicated across the two stdout lines.
    val calibSlim = s""""ann_build_sec":${f3(annBuild)},"fixtures_build_sec":${f3(fixturesBuild)},"repeats_sec":${f3(repeatsSec)}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    // full-precision, full-surface JSON for the file artifact — named
    // per-query times AND start offsets AND the probe series
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val offFull = results.map(_._1).zip(offsets)
      .map { case (k, o) => s"\"" + k + "\":" + f3(o) }.mkString("{", ",", "}")
    val probesFull = probes
      .map { case (o, c) => s"[${f3(o)},${f3(c)}]" }.mkString("[", ",", "]")
    val errsFull = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val rptFull = repeats.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // errored queries' REAL elapsed (value excludes them): the full-
    // precision artifact must conserve the wall like the compact
    // line's errt field, or the two artifacts of one run disagree
    val errwFull = errWall.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val countersFull = counters.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec",$calib,"queries":$qsFull,"offsets":$offFull,"probes":$probesFull,"repeats":$rptFull,"errors":$errsFull,"err_wall":$errwFull,"counters":$countersFull,"sf":"${sanitizeForJson(sfDir)}"}"""
    val nameIdx = suite.map(_._1).zipWithIndex.toMap
    val json = renderCompact(results, probes.toSeq,
      Seq(calibSpark, calibSparkMid, calibSparkEnd),
      repeats.map { case (n, t) => nameIdx(n) -> t },
      errWall.toSeq.map { case (n, t) => nameIdx(n) -> t },
      errors.toSeq, sfDir)
    // The JSON line must be un-losable: streaming state stores (RocksDB
    // maintenance threads from the stream_* queries) can dump shutdown
    // stack traces that flood a captured log tail. So: quiesce streams
    // and state stores, stop the session, and only THEN print — the
    // noise precedes the JSON instead of burying it. A file copy backs
    // up the stdout line against any remaining tail race.
    try {
      spark.streams.active.foreach(_.stop())
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench.json"),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }
    // a short total-only line FIRST: even if the capture window clips
    // the front of the telemetry line, the round's headline number
    // exists on its own parseable line (r5 lost its total to exactly
    // this)
    println(s"""{"metric":"total","value":${renderTotal(results)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},$calibSlim,"sf":"${sanitizeForJson(sfDir)}"}""")
    println(json)
  }

  /** Queries between mid-run drift probes: 7 probes × ~0.5 s on a
    * 331-query ≈ 580 s suite = <1% overhead. */
  val ProbeEvery = 50

  /** How many of the suite's slowest queries get a second sample after
    * the suite (r18): ~10 covers every query whose single-sample drift
    * has needed adjudication so far (the r16/r17 tails), at a wall
    * cost of roughly the tail's own sum (~60-90 s at the driver) —
    * paid OUTSIDE the timed window and self-reported as repeats_sec. */
  val RepeatSlowest = 10

  /** Cap on EXTRA repeat samples for drift-flagged queries (first
    * sample > 2x the previous committed round's time, r18 verdict
    * item 8) beyond the [[RepeatSlowest]] slowest: bounds the repeat
    * window even when a contention storm inflates half the suite. */
  val RepeatDriftExtra = 14

  /** Best-effort reference times from the LATEST committed prior round
    * (highest-numbered BENCH_r{N}.json + CORRECTNESS_r{N}.json in the
    * working dir): name → seconds, zipping the qtimes `t` array (order
    * = name) with the sorted CORRECTNESS keys. Used ONLY to flag
    * drifted queries for an extra post-suite repeat sample — never to
    * skip, reorder, or alter any timed measurement. Any failure (files
    * absent, format drift, count mismatch) degrades to an empty map. */
  private[graft] def loadPrevTimes(): Map[String, Double] =
    try {
      val cwd = java.nio.file.Paths.get(".")
      val benchRe = "BENCH_r(\\d+)\\.json".r
      val rounds = java.nio.file.Files.list(cwd).iterator()
      val nums = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (rounds.hasNext) {
        val f = rounds.next().getFileName.toString
        benchRe.findFirstMatchIn(f).foreach(m => nums += m.group(1).toInt)
      }
      if (nums.isEmpty) return Map.empty
      val n = nums.max
      val bench = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"BENCH_r$n%02d.json")), "UTF-8")
      val corr = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"CORRECTNESS_r$n%02d.json")), "UTF-8")
      // the `parsed` block carries the qtimes payload as real JSON;
      // whitespace-tolerant regex pulls t_unit and the t array
      val unitRe = "\"t_unit\"\\s*:\\s*\"(\\w+)\"".r
      val tRe = "\"t\"\\s*:\\s*\\[([^\\]]*)\\]".r
      val unit = unitRe.findFirstMatchIn(bench).map(_.group(1)).getOrElse("cs")
      val scale = unit match { case "cs" => 100.0; case "ds" => 10.0; case _ => 1.0 }
      val ts = tRe.findFirstMatchIn(bench).map(_.group(1)).getOrElse(return Map.empty)
        .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble / scale)
      // CORRECTNESS is a flat {"query":{...},...} object: its top-level
      // keys, sorted, are the t array's positional names
      val keyRe = "(?m)^  \"([A-Za-z0-9_]+)\"\\s*:\\s*\\{".r
      val names = keyRe.findAllMatchIn(corr).map(_.group(1)).toVector.sorted
      if (names.size != ts.length) Map.empty
      else names.zip(ts.toSeq).filter(_._2 > 0).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Pinned single-thread CPU measurement: 2^28 xorshift64* steps —
    * pure register ALU work, no allocation, no memory traffic, so the
    * seconds it takes are a direct read of this box's effective
    * single-core speed during THIS bench run. The fold into `acc`
    * anchors the loop against dead-code elimination. */
  private[graft] def calibrateCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < (1 << 28)) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) println("calibration sink") // unreachable; defeats DCE
    dt
  }

  /** Pinned Spark-path measurement: a fixed 32-slice shuffle +
    * hash-agg job (codegen, exchange, task scheduling) — the seconds
    * are a direct read of how fast THIS box's Spark path was at the
    * sample point. Run at start/mid/end of the suite. The instrument
    * must never cost the round its artifact: a failed job reports -1,
    * the same isolation the warmup gets. */
  private[graft] def calibrateSpark(spark: SparkSession): Double =
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, 32)
        .selectExpr("id % 997 AS k").groupBy("k").count().count()
      (System.nanoTime() - t0) / 1e9
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Error messages ride inside the one JSON telemetry line the round
    * is graded from; a stray quote, backslash, or control character in
    * an exception message would make the line unparseable and lose the
    * artifact this code exists to protect. Strip rather than escape:
    * escapes cost budget bytes and the message is diagnostic prose. */
  private[graft] def sanitizeForJson(s: String): String =
    s.map(c =>
      if (c == '"' || c == '\\' || c.isControl) ' '
      // non-ASCII chars are 2-4 UTF-8 bytes but count 1 in the
      // char-length budget the compact line enforces — map them out so
      // sanitized content is exactly one byte per char and the budget
      // measures what the capture window actually sees
      else if (c > '\u007e') '?'
      else c)

  /** One query's `counters` entry in target/bench.json: the totals and,
    * if it ran micro-batches, each `durationMs` phase summed over them.
    * No key ends in `_sec`, which `tools/decode_bench.py` reads as calib. */
  private[graft] def countersJson(w: WorkCounters): String = {
    val t = w.totals
    val split = if (t.batches == 0) "" else w.durationMs.toSeq.sorted
      .map { case (k, v) => s"\"$k\":$v" }.mkString(""","duration_ms":{""", ",", "}")
    s"""{"jobs":${t.jobs},"stages":${t.stages},"tasks":${t.tasks},""" +
      s""""shuffle_read_bytes":${t.shuffleReadBytes},"shuffle_write_bytes":${t.shuffleWriteBytes},""" +
      s""""input_records":${t.inputRecords},"spill_bytes":${t.spillBytes},"batches":${t.batches}$split}"""
  }

  private def renderTotal(results: Seq[(String, Double)]): String =
    f3(results.map(_._2).filter(_ >= 0).sum)

  /** ONE 3-decimal artifact rounding shared by every emitter
    * (headline, full-precision file, compact tail) — a precision
    * change must not be able to make the three artifacts of one run
    * disagree in rounding. */
  private[graft] def f3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The stdout telemetry line, guaranteed to fit the harness's
    * captured log tail. The capture window is a FIXED byte count from
    * the end of the run log (observed: 2000 bytes, with an ~80-byte
    * sbt `[success]` trailer after our line and the headline line
    * before it — ~330 bytes worst-case since r18 grew it with
    * repeats_sec; r19 slims the headline's duplicated calib scalars,
    * raising the default budget to 1680) — a
    * line longer than that gets its FRONT truncated and parses as
    * nothing, losing the whole round's timings (the r4/r5 artifacts
    * both died this way).
    *
    * r19 additionally restores the driver contract's named
    * `"queries":{"name":sec,...}` map — slowest-first, as many entries
    * as the budget allows (full map always in target/bench.json) — so
    * a round's headline queries align by NAME even when the positional
    * surface changes size, and extends `rpt` with drift-flagged
    * queries (first sample > 2x the previous committed round's time,
    * reference loaded from the repo's own BENCH/CORRECTNESS artifacts).
    *
    * r15's named slowest-first map left 283 of 331 queries invisible,
    * and its +87 s drift took a judge session to attribute; r16 makes
    * the artifact COMPLETE instead of selective: EVERY query's wall
    * time rides as a positional integer array in the deterministic
    * run order (queries run sorted by name, so index i names the i-th
    * key of the round's own CORRECTNESS json — `tools/decode_bench.py`
    * does the zip). r18 completes the INSTRUMENT payload the same
    * way, because two consecutive rounds' drift adjudications needed
    * data the compact line didn't carry:
    *
    *  - `cpu`: the [[ProbeEvery]]-interval calib series as positional
    *    centisecond ints — entry k < ceil(n/50) ran before query 50k
    *    (offset ≈ cumsum of t[0..50k), hygiene gaps excluded — good
    *    to a few seconds over the suite, full precision in
    *    target/bench.json), then one end-of-suite entry, then any
    *    post-suite entries (the repeat window);
    *  - `spk`: the start/mid/end Spark-path brackets, centisecond
    *    ints — previously headline-only, now overlayable with `cpu`
    *    from one field (r17 verdict item 7);
    *  - `rpt`: flat [idx, t, idx, t, ...] pairs — the second sample
    *    for the [[RepeatSlowest]] slowest queries, same t_unit as
    *    `t`, idx in the positional name order. This is what lets
    *    `decode_bench --vs` label a tail regression repeat-confirmed
    *    vs first-sample-only from the artifact alone (r17 verdict
    *    item 1);
    *  - `errt` (only when a query failed): flat [idx, t, ...] pairs
    *    carrying each errored query's REAL elapsed in t_unit — its
    *    `t` entry stays -1 (never a plausible time), but the offset
    *    reconstruction must not lose the wall the failure consumed.
    *
    * The payload degrades adaptively to honor the byte budget:
    * resolution first (`cs` → `ds` → `s`), then the instrument
    * series, then the repeats — never coverage; errored queries ride
    * as -1 (never a plausible time) with messages in `errors` (first
    * 3, truncated — a failure must never be silently dropped). */
  private[graft] def renderCompact(
      results: Seq[(String, Double)],
      probes: Seq[(Double, Double)],
      spark: Seq[Double],
      repeats: Seq[(Int, Double)],
      errWall: Seq[(Int, Double)],
      errors: Seq[(String, String)],
      sfDir: String,
      budget: Int = 1680): String = {
    val total = f3(results.map(_._2).filter(_ >= 0).sum)
    val errEntries = errors.take(3).map { case (k, v) =>
      s"\"" + k + "\":\"" + sanitizeForJson(v).take(60) + "\""
    }
    val errs = errEntries.mkString("{", ",", "}") +
      (if (errors.nonEmpty) s""","n_errors":${errors.size}""" else "")
    // both instrument series at centisecond ints: the ~0.5 s CPU loop
    // and the ~1-2 s Spark job resolve a contention window at that
    // grain; full precision is in target/bench.json
    def csInt(v: Double): String =
      if (v < 0) "-1" else math.round(v * 100).toString
    val cpuStr = probes.map(p => csInt(p._2)).mkString("[", ",", "]")
    val spkStr = spark.map(csInt).mkString("[", ",", "]")
    // slowest-first NAMED entries (r19): the driver contract's
    // `"queries":{"name":sec,...}` map, restored as far as the byte
    // budget allows — the full map always lives in target/bench.json;
    // these named entries let a round's per-query numbers align
    // mechanically even when the positional name list changes size
    val namedPool = results.filter(_._2 >= 0).sortBy(-_._2)
    def assemble(unit: String, scale: Double, withCal: Boolean,
        withRpt: Boolean, namedK: Int): String = {
      val t = results.map { case (_, v) =>
        if (v < 0) "-1" else math.round(v * scale).toString
      }.mkString("[", ",", "]")
      val cal = if (withCal) s""","cpu":$cpuStr,"spk":$spkStr""" else ""
      val rpt = if (withRpt && repeats.nonEmpty)
        s""","rpt":${repeats.map { case (i, v) => s"$i,${if (v < 0) "-1" else math.round(v * scale).toString}" }.mkString("[", ",", "]")}"""
      else ""
      // errored queries' REAL elapsed (their t is -1): without it the
      // cumsum-based probe-offset reconstruction loses the seconds a
      // failure consumed and every later offset lands early. Rare
      // (zero in r12-r18) and tiny, so it never degrades
      val ew = if (errWall.nonEmpty)
        s""","errt":${errWall.map { case (i, v) => s"$i,${math.round(v * scale)}" }.mkString("[", ",", "]")}"""
      else ""
      val named = if (namedK <= 0) "" else
        s""","queries":${namedPool.take(namedK).map { case (k, v) =>
          s"\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")}"""
      s"""{"metric":"qtimes","value":$total,"unit":"sec","t_unit":"$unit","order":"name","n":${results.size},""" +
        s""""t":$t$cal$rpt$ew$named,"errors":$errs,"sf":"${sanitizeForJson(sfDir)}"}"""
    }
    // degrade the NAMED map first, then resolution, then the instrument
    // series, then the repeat samples — never coverage: the final
    // candidate is emitted even if over budget (a surface that big
    // would itself be the finding)
    val candidates = Iterator(
      assemble("cs", 100.0, withCal = true, withRpt = true, namedK = 10),
      assemble("cs", 100.0, withCal = true, withRpt = true, namedK = 6),
      assemble("cs", 100.0, withCal = true, withRpt = true, namedK = 3),
      assemble("cs", 100.0, withCal = true, withRpt = true, namedK = 0),
      assemble("ds", 10.0, withCal = true, withRpt = true, namedK = 0),
      assemble("s", 1.0, withCal = true, withRpt = true, namedK = 0),
      assemble("s", 1.0, withCal = false, withRpt = true, namedK = 0),
      assemble("s", 1.0, withCal = false, withRpt = false, namedK = 0))
    candidates.find(_.length <= budget).getOrElse(
      assemble("s", 1.0, withCal = false, withRpt = false, namedK = 0))
  }
}
