package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ingest.Ingest
import graft.model.Model
import graft.sources.segment.SegmentLog
import graft.streaming.{CheckoutStream, SegmentStateIngest}

/** Structured Streaming semantics (M3 / ST1-ST7): micro-batch delivery,
  * watermarked dedup, transactional inventory via foreachBatch, DLQ. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** What a fold write that died before its commit leaves behind:
    * `rows`' segment files under `table`'s `data/`, named by no
    * manifest. */
  private def plantUnreferenced(rows: DataFrame, table: String): Unit = {
    val dead = s"${tmp("graft-dead-write")}/t"
    rows.write.format("graft-segment").mode("append").save(dead)
    val data = new java.io.File(s"$table/${SegmentLog.DataDir}")
    data.mkdirs()
    new java.io.File(s"$dead/${SegmentLog.DataDir}").listFiles().filter(_.isFile)
      .foreach(f => Files.copy(f.toPath, data.toPath.resolve(f.getName)))
  }

  /** Deletes the checkpoint's last `commits/N` and its `.crc`, as a
    * crash after the fold's commit but before the checkpoint's does, so
    * a rerun replays batch N. Returns N. */
  private def dropLastCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val n = dir.list().flatMap(f => scala.util.Try(f.toLong).toOption).max
    Seq(s"$n", s".$n.crc").foreach(f => assert(new java.io.File(dir, f).delete(), f))
    n
  }

  private def latestVersion(table: String): Long =
    SegmentLog.latestVersion(SegmentLog.fs(table, spark.sessionState.newHadoopConf()), table)

  test("ST1/ST4: dropDuplicates over a memory stream dedups across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val dedup = mem.toDF().toDF("order_id", "seq")
      .dropDuplicates("order_id")
    val q = dedup.writeStream
      .format("memory").queryName("dedup_out").outputMode("update")
      .option("checkpointLocation", tmp("graft-ckpt")).start()
    mem.addData(("o-1", 1L), ("o-2", 2L))
    q.processAllAvailable()
    mem.addData(("o-1", 3L)) // redelivery in a later micro-batch
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.map(_.getString(0)).toSeq.sorted === Seq("o-1", "o-2"))
  }

  test("end-to-end: raw JSON stream -> parse/validate -> dedup -> inventory -> verdict sink") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val (valid, _) = CheckoutStream.parseOrderStream(mem.toDF().toDF("body"), "body")

    val invDir = tmp("graft-inv")
    val inv = new CheckoutStream.InventoryTable(spark, invDir)
    inv.initialize(Seq(("prod-101", 50), ("prod-105", 5)).toDF("product_id", "stock"))

    val verdictsPath = tmp("graft-verdicts")
    val q = CheckoutStream.start(valid, inv, verdictsPath, tmp("graft-ckpt2"))
      .trigger(Trigger.ProcessingTime(0)) // MemoryStream + AvailableNow don't mix in tests
      .start()

    mem.addData(
      """{"order_id":"o-1","customer_id":"c1","items":[{"product_id":"prod-101","quantity":2}]}""",
      """{"order_id":"o-2","customer_id":"c2","items":[{"product_id":"prod-105","quantity":9}]}""")
    q.processAllAvailable()
    q.stop()

    val verdicts = spark.read.parquet(verdictsPath)
    val byOrder = verdicts.collect()
      .map(r => r.getAs[String]("order_id") -> r.getAs[String]("status")).toMap
    assert(byOrder === Map("o-1" -> Model.StatusProcessed, "o-2" -> Model.StatusFailed))
    // inventory decremented only for the PROCESSED order
    val stock = inv.current().collect()
      .map(r => r.getAs[String]("product_id") -> r.getAs[Int]("stock")).toMap
    assert(stock === Map("prod-101" -> 48, "prod-105" -> 5))
  }

  test("A2 v2: transformWithState keyed inventory reserves per product with RocksDB state") {
    import graft.streaming.InventoryProcessor._
    implicit val sq = spark.sqlContext
    Session.withConfs(spark, Session.RocksDbStateStore) {
      val mem = MemoryStream[LineRequest]
      val requests = mem.toDS().groupByKey(_.product_id)
      val seed = Seq(ProductStock("prod-101", 50), ProductStock("prod-105", 5))
        .toDS().groupByKey(_.product_id)
      val verdicts = graft.streaming.InventoryProcessor.reserve(requests, seed)
      val q = verdicts.writeStream
        .format("memory").queryName("twstate_out").outputMode("append")
        .option("checkpointLocation", tmp("graft-tws-ckpt")).start()
      mem.addData(
        LineRequest("o-1", "prod-101", 2),
        LineRequest("o-2", "prod-105", 4))
      q.processAllAvailable()
      // second micro-batch: state persisted across batches (prod-105 has 1 left)
      mem.addData(LineRequest("o-3", "prod-105", 2))
      q.processAllAvailable()
      val rows = spark.table("twstate_out").collect()
        .map(r => r.getAs[String]("order_id") -> r.getAs[Boolean]("granted")).toMap
      q.stop()
      assert(rows === Map("o-1" -> true, "o-2" -> true, "o-3" -> false))
    }
  }

  test("A2 v2 phase 2: failed orders compensate through the queue hop; conservation holds") {
    import graft.streaming.InventoryProcessor._
    implicit val sq = spark.sqlContext
    Session.withConfs(spark, Session.RocksDbStateStore) {
      val mem = MemoryStream[LineRequest]
      val seed = Seq(ProductStock("A", 10), ProductStock("B", 0)).toDS().groupByKey(_.product_id)
      val verdicts = graft.streaming.InventoryProcessor.reserve(
        mem.toDS().groupByKey(_.product_id), seed)
      val q = verdicts.writeStream
        .format("memory").queryName("saga_out").outputMode("append")
        .option("checkpointLocation", tmp("graft-saga-ckpt")).start()
      // contention: o-1 takes A:8; o-2 gets A:2 granted (A exhausted) but
      // B:1 denied (no stock) -> o-2 FAILED with a granted line to refund
      mem.addData(LineRequest("o-1", "A", 8), LineRequest("o-2", "A", 2), LineRequest("o-2", "B", 1))
      q.processAllAvailable()
      val batch1 = spark.table("saga_out").as[LineVerdict]
      val ov = orderVerdicts(batch1).collect()
        .map(r => r.getAs[String]("order_id") -> r.getAs[Boolean]("all_granted")).toMap
      assert(ov === Map("o-1" -> true, "o-2" -> false))
      val credits = compensations(batch1).collect()
      assert(credits.toSeq === Seq(LineRequest("o-2", "A", -2)))
      mem.addData(credits.toIndexedSeq: _*) // the saga's queue hop back
      q.processAllAvailable()
      // probe: A:2 only fits if the credit restored stock (10 - 8 = 2)
      mem.addData(LineRequest("o-3", "A", 2))
      q.processAllAvailable()
      val o3 = spark.table("saga_out").as[LineVerdict].collect().filter(_.order_id == "o-3")
      q.stop()
      assert(o3.map(_.granted).toSeq === Seq(true))
    }
  }

  test("SagaLoop: full reserve->compensate loop drains in 2 passes; conservation holds") {
    import graft.streaming.InventoryProcessor._
    import graft.streaming.SagaLoop
    val base = tmp("graft-sagaloop")
    Session.withConfs(spark, Session.RocksDbStateStore) {
      // same contention shape as StreamingSpec's in-query saga test
      val seed = contendedSaga(base)
      val passes = SagaLoop.run(
        spark, s"$base/in", s"$base/verdicts", s"$base/ckpt", seed)
      assert(passes === 2) // pass 1 emits the credit, pass 2 drains it
      val verdicts = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$base/verdicts").as[LineVerdict].collect()
      val ov = graft.streaming.InventoryProcessor
        .orderVerdicts(spark.createDataset(verdicts.toIndexedSeq)).collect()
        .map(r => r.getAs[String]("order_id") -> r.getAs[Boolean]("all_granted")).toMap
      assert(ov === Map("o-1" -> true, "o-2" -> false))
      // exactly one credit row: the refund of o-2's granted A:2
      val credits = verdicts.filter(_.quantity < 0).toSeq
      assert(credits === Seq(LineVerdict("o-2", "A", -2, granted = true)))
      // conservation: net consumption (all granted rows, credits
      // included) equals the PROCESSED order's demand alone — the
      // failed order's net effect on every product is zero
      val netByProduct = verdicts.filter(_.granted)
        .groupBy(_.product_id).view.mapValues(_.map(_.quantity).sum).toMap
      assert(netByProduct === Map("A" -> 8L)) // 8 (o-1) + 2 (o-2) - 2 (credit)
    }
  }

  /** Enqueues the contended saga seed (o-1 takes A:8; o-2 gets A:2 but
    * B:1 is denied, so o-2 fails and its A:2 comes back as a credit)
    * under `base/in` and returns its stock. */
  private def contendedSaga(base: String) = {
    import graft.streaming.InventoryProcessor._
    Seq(
      LineRequest("o-1", "A", 8),
      LineRequest("o-2", "A", 2),
      LineRequest("o-2", "B", 1)).toDS()
      .coalesce(1).write.parquet(s"$base/in/seed")
    Seq(ProductStock("A", 10), ProductStock("B", 0)).toDS()
  }

  test("SagaLoop: one streaming query per saga; the credits-only pass is one Spark job") {
    import graft.streaming.SagaLoop
    val base = tmp("graft-saga-jobs")
    val (passes, work) = Session.withConfs(spark, Session.RocksDbStateStore) {
      val seed = contendedSaga(base)
      WorkCounters.observe(spark) {
        SagaLoop.run(spark, s"$base/in", s"$base/verdicts", s"$base/ckpt", seed)
      }
    }
    assert(passes === 2)
    // (query starts, jobs of the credits-only batch 1): both passes ran
    // as micro-batches of one query, not as two query runs re-planning
    // and restoring state in between, and the credits-only pass denies
    // nothing, so its verdict write is its only job
    assert((work.queryStarts, work.jobs.count(_.contains(1L))) === ((1, 1)))
  }

  test("SagaLoop: a rerun resumes from the checkpoint; state is seed minus PROCESSED demand") {
    import graft.streaming.InventoryProcessor._
    import graft.streaming.SagaLoop
    val base = tmp("graft-saga-resume")
    val stock = Map("A" -> 10L, "B" -> 0L)
    def verdicts() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/verdicts").as[LineVerdict].collect().toSeq
    def stateStock() = spark.read.format("statestore").option("path", s"$base/ckpt")
      .option("stateVarName", "stock").load()
      .select($"key".getField("value"), $"value".getField("value")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the stock left once every PROCESSED order's lines are served and
    // every FAILED order's grants are credited back
    def expectedStock(vs: Seq[LineVerdict]) = {
      val requests = vs.filter(_.quantity >= 0)
      val processed = requests.groupBy(_.order_id).collect {
        case (id, ls) if ls.forall(_.granted) => id }.toSet
      stock.map { case (p, s) =>
        p -> (s - requests.filter(l => l.product_id == p && processed(l.order_id))
          .map(_.quantity).sum) }
    }
    def credited() = new java.io.File(s"$base/in").list().count(_.startsWith("credits_"))
    Session.withConfs(spark, Session.RocksDbStateStore) {
      val seed = contendedSaga(base)
      def run() = SagaLoop.run(spark, s"$base/in", s"$base/verdicts", s"$base/ckpt", seed)
      assert(run() === 2)
      val first = verdicts()
      assert(stateStock() === Map("A" -> 2L, "B" -> 0L))
      assert(stateStock() === expectedStock(first))
      // a drained checkpoint has nothing left to serve
      assert(run() === 0)
      assert(verdicts().sortBy(_.toString) === first.sortBy(_.toString))
      assert(stateStock() === Map("A" -> 2L, "B" -> 0L))
      // new orders meet the restored stock (A:2 left), not a re-seeded
      // A:10: o-3 takes the last 2, o-4's single line is denied, and an
      // order with nothing granted enqueues no credits dir
      Seq(LineRequest("o-3", "A", 2), LineRequest("o-4", "A", 1)).toDS()
        .coalesce(1).write.parquet(s"$base/in/seed2")
      assert(run() === 1)
      val second = verdicts()
      assert(second.filter(_.order_id >= "o-3").sortBy(_.order_id) === Seq(
        LineVerdict("o-3", "A", 2, granted = true),
        LineVerdict("o-4", "A", 1, granted = false)))
      assert(credited() === 1) // only the first run's credits_0
      assert(stateStock() === Map("A" -> 0L, "B" -> 0L))
      assert(stateStock() === expectedStock(second))
    }
  }

  test("ST2/S4 end-to-end: poison rows redeliver, accumulate attempts, divert to DLQ") {
    import graft.streaming.RetryLoop
    val base = tmp("graft-retry")
    val queue = Seq(("ok-1", false, 0), ("ok-2", false, 0), ("poison-1", true, 0))
      .toDF("key", "poison", "attempts")
    queue.write.parquet(s"$base/in/seed")
    val passes = RetryLoop.run(spark, queue.schema, s"$base/in",
      s"$base/delivered", s"$base/dlq", s"$base/ckpt", $"poison", maxAttempts = 3)
    assert(passes === 3) // poison burns exactly maxAttempts passes
    val delivered = spark.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/delivered")
      .select($"key", $"attempts").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(delivered === Map("ok-1" -> 1, "ok-2" -> 1))
    val dead = spark.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/dlq")
      .select($"key", $"attempts").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dead === Map("poison-1" -> 3)) // attempt count accumulated across redeliveries
  }

  test("RetryLoop: only passes with retries enqueue a retry dir; a rerun is a no-op") {
    import graft.streaming.RetryLoop
    val base = tmp("graft-retry-dirs")
    val queue = Seq(("ok-1", false, 0), ("poison-1", true, 0)).toDF("key", "poison", "attempts")
    queue.write.parquet(s"$base/in/seed")
    def run() = RetryLoop.run(spark, queue.schema, s"$base/in",
      s"$base/delivered", s"$base/dlq", s"$base/ckpt", $"poison", maxAttempts = 3)
    assert(run() === 3)
    // batches 0 and 1 re-enqueue the poison row; batch 2 dead-letters it
    // and enqueues nothing, which is what lets the query go quiet
    assert(new java.io.File(s"$base/in").list().sorted.toSeq === Seq("retry_0", "retry_1", "seed"))
    assert(run() === 0)
    assert(new java.io.File(s"$base/dlq").list().count(_.startsWith("batch_")) === 3)
  }

  test("streaming dedup ingest admits content once across micro-batches") {
    import graft.streaming.DedupIngest
    val base = tmp("graft-ingest")
    // g0 carries an in-batch duplicate; g1 re-sends "alpha" cross-batch
    val g0 = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta")).toDF("doc_id", "text")
    val g1 = Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text")
    g0.coalesce(1).write.parquet(s"$base/in/g0")
    g1.coalesce(1).write.parquet(s"$base/in/g1")
    val nBatches = DedupIngest.run(spark, g0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    assert(nBatches === 2) // maxFilesPerTrigger=1 paces one file per batch
    val admitted = spark.read.parquet(s"$base/out/*")
      .select($"text").collect().map(_.getString(0)).sorted.toSeq
    assert(admitted === Seq("alpha", "beta", "gamma"))
    // the state table holds exactly the admitted digests
    val state = spark.read.schema(DedupIngest.stateSchema).parquet(s"$base/state/*")
    assert(state.distinct().count() === 3)
  }

  test("compactState folds seen dirs into one; exactly-once admission survives it") {
    import graft.streaming.DedupIngest
    val base = tmp("graft-ingest-compact")
    val g0 = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta")).toDF("doc_id", "text")
    val g1 = Seq((10L, "gamma")).toDF("doc_id", "text")
    g0.coalesce(1).write.parquet(s"$base/in/g0")
    g1.coalesce(1).write.parquet(s"$base/in/g1")
    DedupIngest.run(spark, g0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    assert(DedupIngest.compactState(spark, s"$base/state") === 1) // 2 dirs -> 1
    val dirsAfter = new java.io.File(s"$base/state").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(dirsAfter === Seq("seen_0"))
    // the stream continues from the same checkpoint: old content must
    // still be rejected via the compacted state, new content admitted
    Seq((20L, "alpha"), (21L, "delta")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/in/g2")
    DedupIngest.run(spark, g0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    val admitted = spark.read.parquet(s"$base/out/*")
      .select($"text").collect().map(_.getString(0)).sorted.toSeq
    assert(admitted === Seq("alpha", "beta", "delta", "gamma"))
    // idempotent: nothing left to fold (seen_0 + the new batch's dir)
    assert(DedupIngest.compactState(spark, s"$base/state") === 1)
    assert(spark.read.schema(DedupIngest.stateSchema)
      .parquet(s"$base/state/*").distinct().count() === 4)
  }

  test("dedup ingest retry: a failed attempt's own seen_N dir cannot starve the batch") {
    import graft.streaming.DedupIngest
    val base = tmp("graft-ingest-retry")
    val g0 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    g0.coalesce(1).write.parquet(s"$base/in/g0")
    // simulate a first attempt that wrote seen_0 and died before the
    // checkpoint committed: on retry the batch re-runs with batchId=0
    // and must NOT anti-join against its own failed attempt's state
    g0.select(md5($"text").as("content_hash"))
      .write.parquet(s"$base/state/seen_0")
    DedupIngest.run(spark, g0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    val admitted = spark.read.parquet(s"$base/out/*")
      .select($"text").collect().map(_.getString(0)).sorted.toSeq
    assert(admitted === Seq("alpha", "beta"))
  }

  test("state discovery goes through Hadoop FS: file:-scheme state dirs keep exactly-once") {
    // an explicit file: URI never resolves through java.io.File (which
    // would treat "file:" as a relative path component and list
    // nothing) — this forces the Hadoop FileSystem discovery path the
    // drivers must use on HDFS/S3, and asserts the exactly-once
    // admission contract still holds there
    import graft.streaming.DedupIngest
    val base = tmp("graft-ingest-fsuri")
    val g0 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val g1 = Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text")
    g0.coalesce(1).write.parquet(s"$base/in/g0")
    g1.coalesce(1).write.parquet(s"$base/in/g1")
    DedupIngest.run(spark, g0.schema,
      s"$base/in", s"file:$base/out", s"file:$base/state", s"$base/ckpt")
    val admitted = spark.read.parquet(s"$base/out/*")
      .select($"text").collect().map(_.getString(0)).sorted.toSeq
    assert(admitted === Seq("alpha", "beta", "gamma")) // cross-batch dup rejected
    // snapshot driver too: the running sum must fold batch 0's state
    // into batch 1 even when the state dir is a file: URI
    import graft.streaming.IncrAggIngest
    val h0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val h1 = Seq((1L, 5L)).toDF("k", "v")
    h0.coalesce(1).write.parquet(s"$base/agg_in/g0")
    h1.coalesce(1).write.parquet(s"$base/agg_in/g1")
    IncrAggIngest.run(spark, h0.schema,
      s"$base/agg_in", s"file:$base/agg_state", s"$base/agg_ckpt", Seq("k"), "v")
    val sums = IncrAggIngest.finalState(spark, s"file:$base/agg_state")
      .select($"k", $"sum_v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums === Map(1L -> 15L, 2L -> 20L))
  }

  test("upsertSink: batch rows replace same-key table rows; others pass through") {
    import graft.streaming.Sinks
    val base = tmp("graft-upsert")
    // f0 inserts k1,k2; f1 updates k2 and inserts k3 — MERGE semantics
    val f0 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "status", "v")
    val f1 = Seq((2L, "b2", 21L), (3L, "c", 30L)).toDF("k", "status", "v")
    f0.coalesce(1).write.parquet(s"$base/in/f0")
    f1.coalesce(1).write.parquet(s"$base/in/f1")
    val now = System.currentTimeMillis()
    Seq(("f0", now - 60000L), ("f1", now - 20000L)).foreach { case (n, t) =>
      new java.io.File(s"$base/in/$n").listFiles().foreach(_.setLastModified(t))
    }
    val q = spark.readStream.schema(f0.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/*")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(Sinks.upsertSink(s"$base/table", Seq("k")))
      .start()
    q.awaitTermination()
    val table = SegmentStateIngest.finalState(spark, s"$base/table")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(table === Set((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("bucketed CDC state: a batch rewrites only touched buckets; equals batch apply") {
    import graft.streaming.CdcIngest
    val base = tmp("graft-cdc-bucketed")
    def bucketOf(k: Long): Int = spark.range(1)
      .select(pmod(hash(lit(k)), lit(8)).as("b")).collect()(0).getInt(0)
    val b3 = bucketOf(3L)
    // a key batch 0 touches in a bucket batch 1 does not
    val kGap = (0L until 16L).find(k => bucketOf(k) != b3).get
    val bGap = bucketOf(kGap)
    // batch 0 inserts keys 0..15 (touches many buckets); batch 1
    // updates/deletes ONLY key 3 — with 8 buckets, exactly one bucket
    // table may commit it; batch 2 updates only kGap, so bGap's table
    // goes from batch 0's commit straight to batch 2's
    val schema = Seq((0L, 1L, "I", 0L)).toDF("k", "seq", "op", "v").schema
    val now = System.currentTimeMillis()
    Seq((0L until 16L).map(k => (k, 1L, "I", k * 10)),
      Seq((3L, 2L, "U", 999L), (3L, 3L, "D", 0L)),
      Seq((kGap, 4L, "U", 777L))
    ).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "seq", "op", "v").coalesce(1).write.parquet(s"$base/in/g$i")
      new java.io.File(s"$base/in/g$i").listFiles()
        .foreach(_.setLastModified(now - 60000 + i * 10000))
    }
    def run(state: String, ckpt: String): Int = CdcIngest.runBucketed(spark, schema,
      s"$base/in", state, ckpt, Seq("k"), "seq", "op", nBuckets = 8)
    def table(state: String): Map[Long, Long] = CdcIngest.finalTableBucketed(spark, state, "op")
      .select($"k", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(s"$base/state", s"$base/ckpt") === 3)
    // write-set assertion on each bucket table's txn ledger: the batch
    // ids its manifest versions committed under
    def ledger(b: Int): Seq[Long] = {
      val t = s"$base/state/bucket_$b"
      val fs = SegmentLog.fs(t, spark.sessionState.newHadoopConf())
      SegmentLog.liveVersions(fs, t).map(v => SegmentLog.readVersion(fs, t, v).txns.values.max)
    }
    val buckets = (0 until 8).filter(b => new java.io.File(s"$base/state/bucket_$b").exists)
    assert(buckets.filter(b => ledger(b).contains(1L)) === Seq(b3),
      "batch 1 touched one key but committed to other buckets")
    assert(ledger(bGap) === Seq(0L, 2L))
    // semantics: final table == newest-seq-wins minus tombstones
    val want = (0L until 16L).filterNot(_ == 3L).map(k => k -> k * 10).toMap +
      (kGap -> 777L)
    assert(table(s"$base/state") === want) // key 3 deleted at seq 3, kGap updated at seq 4
    // replay: the checkpoint lost batch 2's commit, so a rerun replays
    // it; bGap's ledger already holds batch 2, so the fold is a no-op
    assert(dropLastCommit(s"$base/ckpt") === 2L)
    val gapVersion = latestVersion(s"$base/state/bucket_$bGap")
    def gapFiles = new java.io.File(s"$base/state/bucket_$bGap/${SegmentLog.DataDir}").list().toSet
    val gapFilesBefore = gapFiles
    assert(run(s"$base/state", s"$base/ckpt") === 1)
    assert(latestVersion(s"$base/state/bucket_$bGap") === gapVersion)
    assert(gapFiles === gapFilesBefore, "the replay wrote segment files")
    assert(ledger(bGap) === Seq(0L, 2L))
    assert(table(s"$base/state") === want)
    // a write that died before its commit left a poisoned segment in
    // key 3's bucket; no manifest names it, so a fresh run never sees it
    plantUnreferenced(Seq((3L, 99L, "I", -1L)).toDF("k", "seq", "op", "v"),
      s"$base/state2/bucket_$b3")
    assert(run(s"$base/state2", s"$base/ckpt2") === 3)
    assert(table(s"$base/state2") === want) // the poisoned seq-99 row did not survive
  }

  test("streaming incremental aggregate: snapshots equal the full build; retry safe") {
    import graft.streaming.IncrAggIngest
    import graft.ops.IncrView
    val base = tmp("graft-incr-agg")
    val g0 = Seq((1L, 10L), (2L, 20L), (1L, 30L)).toDF("k", "v")
    val g1 = Seq((2L, 5L), (3L, 7L)).toDF("k", "v")
    g0.coalesce(1).write.parquet(s"$base/in/g0")
    g1.coalesce(1).write.parquet(s"$base/in/g1")
    def run(): Int = IncrAggIngest.run(spark, g0.schema,
      s"$base/in", s"$base/state", s"$base/ckpt", Seq("k"), "v")
    def sameAsFullBuild(): Unit = {
      val got = IncrAggIngest.finalState(spark, s"$base/state")
      val want = IncrView.build(g0.union(g1), Seq("k"), $"v")
      assert(got.except(want).isEmpty && want.except(got).isEmpty)
    }
    assert(run() === 2)
    sameAsFullBuild()
    // one state version per batch
    assert(latestVersion(s"$base/state") === 1L)
    // a write that died before its commit left a doubled history, and
    // the checkpoint lost batch 1's commit: the replay commits as a
    // no-op, and history does not double
    plantUnreferenced(IncrView.build(g0.union(g1), Seq("k"), $"v"), s"$base/state")
    assert(dropLastCommit(s"$base/ckpt") === 1L)
    assert(run() === 1)
    assert(latestVersion(s"$base/state") === 1L)
    sameAsFullBuild()
  }

  test("segment state fold outside a streaming query fails and names why") {
    val e = intercept[IllegalStateException](
      SegmentStateIngest.foldBatch(s"${tmp("graft-seg-fold-batch")}/t")((_, b) => b)(
        spark.range(3).toDF("k"), 0L))
    assert(e.getMessage.contains("runs only inside a streaming query"), e.getMessage)
  }

  test("CDC ingest: tombstones survive batches; out-of-order insert cannot resurrect") {
    import graft.streaming.CdcIngest
    val base = tmp("graft-cdc")
    // file A (drained first): the DELETE of key 1 at seq 3, plus key 2's insert
    // file B (drained second): key 1's ORIGINAL insert at seq 1 — stale
    val a = Seq((1L, 3L, "D", 0L), (2L, 1L, "I", 20L)).toDF("k", "seq", "op", "v")
    val b = Seq((1L, 1L, "I", 10L), (2L, 2L, "U", 25L)).toDF("k", "seq", "op", "v")
    val now = System.currentTimeMillis()
    a.coalesce(1).write.parquet(s"$base/in/f0")
    b.coalesce(1).write.parquet(s"$base/in/f1")
    new java.io.File(s"$base/in/f0").listFiles().foreach(_.setLastModified(now - 60000))
    new java.io.File(s"$base/in/f1").listFiles().foreach(_.setLastModified(now - 20000))
    val n = CdcIngest.run(spark, a.schema,
      s"$base/in", s"$base/state", s"$base/ckpt", Seq("k"), "seq", "op")
    assert(n === 2)
    val table = CdcIngest.finalTable(spark, s"$base/state", "op")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // key 1 stays deleted despite its insert arriving AFTER the delete
    // batch; key 2 lands on its newest update
    assert(table === Map(2L -> ((2L, 25L))))
  }

  test("near-dup ingest: bucket claims reject copies in-batch and cross-batch") {
    import graft.streaming.NearDupIngest
    val base = tmp("graft-neardup")
    val f0 = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"), // exact copy: every band collides with doc 1
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val f1 = Seq(
      (10L, "a b c d e f g h"), // cross-batch copy — rejected via state
      (11L, "hi"),              // too short to shingle: claims nothing, admitted
      (12L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    f0.coalesce(1).write.parquet(s"$base/in/f0")
    f1.coalesce(1).write.parquet(s"$base/in/f1")
    val now = System.currentTimeMillis()
    new java.io.File(s"$base/in/f0").listFiles().foreach(_.setLastModified(now - 60000))
    new java.io.File(s"$base/in/f1").listFiles().foreach(_.setLastModified(now - 30000))
    val n = NearDupIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    assert(n === 2)
    val admitted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/out").select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(1L, 3L, 11L, 12L))
    // state holds claims from ALL seen docs (4 bands × 3 distinct texts)
    val claims = spark.read.schema(NearDupIngest.stateSchema)
      .parquet(s"$base/state/*").distinct().count()
    assert(claims === 12)
  }

  test("near-dup ingest retry: a failed attempt's own claims cannot starve the batch") {
    import graft.streaming.NearDupIngest
    val base = tmp("graft-neardup-retry")
    val f0 = Seq((1L, "a b c d e f g h"), (2L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    f0.coalesce(1).write.parquet(s"$base/in/f0")
    // a first attempt wrote claimed_0 and died pre-commit: the redo of
    // batch 0 must not see its own claims or it would admit nothing
    graft.ops.Dedup.minhashSignatures(f0, 4)
      .select($"band", $"signature").distinct()
      .write.parquet(s"$base/state/claimed_0")
    NearDupIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    val admitted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/out").select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(1L, 2L))
  }

  test("ST2: maxAttempts=1 dead-letters poison on first failure, no redelivery") {
    import graft.streaming.RetryLoop
    val base = tmp("graft-retry1")
    val queue = Seq(("ok", false, 0), ("poison", true, 0)).toDF("key", "poison", "attempts")
    queue.write.parquet(s"$base/in/seed")
    val passes = RetryLoop.run(spark, queue.schema, s"$base/in",
      s"$base/delivered", s"$base/dlq", s"$base/ckpt", $"poison", maxAttempts = 1)
    assert(passes === 1)
    val dead = spark.read.schema(queue.schema).option("recursiveFileLookup", "true")
      .parquet(s"$base/dlq")
      .select($"key", $"attempts").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dead === Map("poison" -> 1))
  }

  test("ST7: maxFilesPerTrigger paces delivery into multiple micro-batches") {
    val inDir = tmp("graft-rate-in")
    // two files => two micro-batches at maxFilesPerTrigger=1
    Seq("""{"order_id":"o-1","customer_id":"c","items":[{"product_id":"p1","quantity":1}]}""")
      .toDF("value").coalesce(1).write.mode("append").text(inDir)
    Seq("""{"order_id":"o-2","customer_id":"c","items":[{"product_id":"p1","quantity":1}]}""")
      .toDF("value").coalesce(1).write.mode("append").text(inDir)
    val raw = spark.readStream.option("maxFilesPerTrigger", 1).text(inDir)
    val (valid, _) = CheckoutStream.parseOrderStream(raw, "value")
    val inv = new CheckoutStream.InventoryTable(spark, tmp("graft-rate-inv"))
    inv.initialize(Seq(("p1", 10)).toDF("product_id", "stock"))
    val verdictsPath = tmp("graft-rate-verdicts")
    val q = CheckoutStream.start(valid, inv, verdictsPath, tmp("graft-rate-ckpt")).start()
    q.awaitTermination()
    val verdicts = spark.read.parquet(verdictsPath)
    assert(verdicts.select("batch_id").distinct().count() === 2)
    assert(verdicts.count() === 2)
    // both batches decremented the same inventory table serially
    assert(inv.current().collect()(0).getAs[Int]("stock") === 8)
  }

  private def order(id: String, product: String, qty: Int, ts: String) =
    s"""{"order_id":"$id","customer_id":"c-$id","items":[{"product_id":"$product","quantity":$qty}],"timestamp":"$ts"}"""

  private def enqueue(queue: String, file: String, msgs: String*): Unit =
    Files.write(java.nio.file.Paths.get(queue, file), msgs.mkString("\n").getBytes)

  /** The watermarked v1 pipeline over a JSON-lines queue, drained with
    * AvailableNow: parse/validate keeping the event time, key dedup
    * within a 1-minute watermark, InventoryTable admission, verdict sink.
    * The watermark's advance makes a no-data batch follow the data. */
  private def drainV1(queue: String, inv: CheckoutStream.InventoryTable, base: String): Unit = {
    val parsed = Ingest.parseOrders(spark.readStream.text(queue), "value")
    val orders = parsed
      .filter(parsed("parse_ok") && Ingest.validOrder(parsed("order")) &&
        Ingest.validItems(parsed("order.items")))
      .select(col("order.order_id").as("order_id"), col("order.customer_id").as("customer_id"),
        col("order.items").as("items"), col("order.timestamp").cast("timestamp").as("event_time"))
    CheckoutStream.start(CheckoutStream.dedupStream(orders, "event_time", "1 minute"),
      inv, s"$base/verdicts", s"$base/ckpt").start().awaitTermination()
  }

  /** Runs `body` and counts, per micro-batch id, the completed stages that
    * ran a state store. */
  private def stateStageRuns(body: => Unit): Map[Long, Int] =
    WorkCounters.observe(spark)(body)._2.stages.filter(_.stateStore).flatMap(_.batchId)
      .groupBy(identity).map { case (b, ss) => b -> ss.size }

  private def inventoryVersions(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.startsWith("v")).sortBy(_.drop(1).toLong).toSeq

  private def statuses(verdicts: String): Seq[(String, String)] =
    spark.read.parquet(verdicts).select($"order_id", $"status").as[(String, String)].collect().toSeq.sorted

  private def stockOf(inv: CheckoutStream.InventoryTable): Map[String, Int] =
    inv.current().as[(String, Int)].collect().toMap

  test("v1 checkout: the dedup state operator runs once per micro-batch; the no-data batch writes no inventory version") {
    val base = tmp("graft-v1-once")
    val queue = s"$base/queue"
    Files.createDirectories(java.nio.file.Paths.get(queue))
    enqueue(queue, "f1.jsonl",
      order("o-1", "prod-101", 2, "2026-02-13T10:00:00Z"),
      order("o-2", "prod-105", 9, "2026-02-13T10:00:01Z"), // more than the stock: FAILED
      order("o-1", "prod-101", 2, "2026-02-13T10:00:05Z"), // redelivery: dropped
      "{not json")
    val inv = new CheckoutStream.InventoryTable(spark, s"$base/inv")
    inv.initialize(Seq(("prod-101", 50), ("prod-105", 5)).toDF("product_id", "stock"))
    val runs = stateStageRuns(drainV1(queue, inv, base))
    // batch 0 carries the orders, batch 1 is the watermark's no-data batch
    assert(runs === Map(0L -> 1, 1L -> 1))
    assert(inventoryVersions(s"$base/inv") === Seq("v0", "v1"))
    // the no-data batch still commits its (empty) verdict partition
    assert(new java.io.File(s"$base/verdicts/batch_id=1/_SUCCESS").exists())
    assert(statuses(s"$base/verdicts") ===
      Seq("o-1" -> Model.StatusProcessed, "o-2" -> Model.StatusFailed))
    assert(stockOf(inv) === Map("prod-101" -> 48, "prod-105" -> 5))
  }

  test("v1 checkout resumes from its checkpoint across a no-data batch: dedup state restored, sparse versions chained") {
    val base = tmp("graft-v1-resume")
    val queue = s"$base/queue"
    Files.createDirectories(java.nio.file.Paths.get(queue))
    val inv = new CheckoutStream.InventoryTable(spark, s"$base/inv")
    inv.initialize(Seq(("prod-101", 50), ("prod-105", 5)).toDF("product_id", "stock"))
    // FIRST run: batch 0 admits o-1 and writes v1; batch 1 has no data
    enqueue(queue, "f1.jsonl", order("o-1", "prod-101", 2, "2026-02-13T10:00:00Z"))
    drainV1(queue, inv, base)
    assert(inventoryVersions(s"$base/inv") === Seq("v0", "v1"))
    // SECOND run, same checkpoint: o-1's redelivery meets the restored
    // dedup state; o-3 is admitted by batch 2 against v1, the latest
    // version before it (v0 would leave prod-101 at 50)
    enqueue(queue, "f2.jsonl",
      order("o-1", "prod-101", 2, "2026-02-13T10:00:30Z"),
      order("o-3", "prod-105", 5, "2026-02-13T10:00:40Z"))
    drainV1(queue, inv, base)
    assert(inventoryVersions(s"$base/inv") === Seq("v0", "v1", "v3"))
    assert(statuses(s"$base/verdicts") ===
      Seq("o-1" -> Model.StatusProcessed, "o-3" -> Model.StatusProcessed))
    assert(stockOf(inv) === Map("prod-101" -> 48, "prod-105" -> 0))
  }

  test("v1 checkout frees each micro-batch's checkpoint blocks once its writes return") {
    val base = tmp("graft-v1-free")
    val queue = s"$base/queue"
    Files.createDirectories(java.nio.file.Paths.get(queue))
    enqueue(queue, "f1.jsonl",
      order("o-1", "prod-101", 2, "2026-02-13T10:00:00Z"),
      order("o-2", "prod-105", 9, "2026-02-13T10:00:01Z"))
    val inv = new CheckoutStream.InventoryTable(spark, s"$base/inv")
    inv.initialize(Seq(("prod-101", 50), ("prod-105", 5)).toDF("product_id", "stock"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    drainV1(queue, inv, base)
    // batch 0's lines and verdicts were checkpointed; none stays pinned
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(statuses(s"$base/verdicts") ===
      Seq("o-1" -> Model.StatusProcessed, "o-2" -> Model.StatusFailed))
  }

  test("dropDuplicatesWithinWatermark evicts state; late re-duplicates re-admit") {
    // the bounded-state contract: dedup is KEY-ONLY within the horizon
    // (a redelivery with a different timestamp still drops — what
    // dropDuplicates("id","ts") can't do), and a key's state lives only
    // until the watermark passes its event time + delay. Two
    // AvailableNow runs over ONE checkpoint control the batch boundary:
    // run 1 admits X at t0, drops its in-run redelivery at t0+10min,
    // and a sentinel 3 h ahead pushes the watermark to 2 h — past X's
    // t0 + 1 h expiry, evicting X's state; run 2 re-delivers X with a
    // fresh (non-late) timestamp, which is ADMITTED AGAIN — the price
    // of bounded state, and exactly what unbounded dropDuplicates
    // would never do.
    val base = tmp("graft-wmttl")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t10m = java.sql.Timestamp.valueOf("2024-01-01 00:10:00")
    val t3h = java.sql.Timestamp.valueOf("2024-01-01 03:00:00")
    def run(label: String): Unit = {
      val q = spark.readStream
        .schema(Seq((1L, t0)).toDF("event_id", "ts").schema)
        .parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start()
      q.awaitTermination()
    }
    // run 1: X at t0 + redelivery at t0+10min (different ts, SAME key:
    // dropped) + watermark-advancing sentinel
    Seq((7L, t0), (7L, t10m), (99L, t3h)).toDF("event_id", "ts")
      .coalesce(1).write.parquet(s"$base/in/r1")
    run("r1")
    val afterR1 = spark.read.parquet(s"$base/out").filter($"event_id" === 7L).count()
    assert(afterR1 === 1L) // key-only dedup within the horizon
    // run 2: the same key redelivered with a fresh timestamp, after its
    // state expired (t0 + 1 h < watermark 2 h)
    Seq((7L, t3h)).toDF("event_id", "ts").coalesce(1).write.parquet(s"$base/in/r2")
    run("r2")
    val afterR2 = spark.read.parquet(s"$base/out").filter($"event_id" === 7L).count()
    assert(afterR2 === 2L) // state evicted: the fresh redelivery re-admits
  }

  test("event-time timers: in-window completion wins, late completion expires, timers fire on watermark") {
    import graft.streaming.TimeoutExpiry
    val base = tmp("timeout-spec")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def stage(name: String, mtime: Long, rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      val dir = s"$base/in/$name"
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    // ts-ordered batches (the staging contract): clicks open, one
    // purchase inside the 10-min window, one an hour late
    stage("f0", now - 60000,
      (1L, 1L, "click", ts("2024-01-01 00:00:00")),
      (2L, 2L, "click", ts("2024-01-01 00:05:00")))
    stage("f1", now - 50000,
      (10L, 1L, "purchase", ts("2024-01-01 01:00:00")), // 60 min after id1: too late
      (3L, 3L, "click", ts("2024-01-01 01:05:00")),
      (4L, 1L, "click", ts("2024-01-01 01:06:00")),
      (11L, 1L, "purchase", ts("2024-01-01 01:08:00")), // completes id4 in-batch
      (5L, 5L, "click", ts("2024-01-01 01:07:00")))
    stage("f2", now - 40000,
      (12L, 5L, "purchase", ts("2024-01-01 01:12:00"))) // completes id5 across batches
    stage("f3", now - 30000, (-1L, -1L, "sentinel", ts("2024-01-01 06:00:00")))
    stage("f4", now - 20000, (-2L, -1L, "sentinel", ts("2024-01-01 07:00:00")))
    val schema = spark.read.parquet(s"$base/in/f0").schema
    TimeoutExpiry.run(spark, schema, s"$base/in", s"$base/out", s"$base/ckpt",
      "click", "purchase", timeoutMs = 10L * 60 * 1000)
    val out = spark.read.parquet(s"$base/out").collect()
      .map(r => r.getAs[Long]("start_id") ->
        ((r.getAs[String]("outcome"), r.getAs[Long]("latency_sec")))).toMap
    assert(out === Map(
      1L -> (("expired", -1L)),   // purchase came 60 min late
      2L -> (("expired", -1L)),   // no purchase at all
      3L -> (("expired", -1L)),
      4L -> (("completed", 120L)),
      5L -> (("completed", 300L)) // completion in a later micro-batch
    ))
  }

  test("token bucket: burst spends down, throttled events keep the clock, credit survives batches") {
    import graft.streaming.RateLimit
    val base = tmp("ratelimit-spec")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def stage(name: String, mtime: Long, rows: (Long, Long, java.sql.Timestamp)*): Unit = {
      val dir = s"$base/in/$name"
      rows.toDF("event_id", "user_id", "ts").coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    // cap 20 min, cost 10 min → burst 2, sustained 1 per 10 min
    stage("f0", now - 40000,
      (1L, 1L, ts("2024-01-01 00:00:00")),  // admit: 20 -> 10
      (2L, 1L, ts("2024-01-01 00:01:00")),  // admit: min(20,11)=11 -> 1
      (3L, 1L, ts("2024-01-01 00:02:00")))  // throttle: min(20,2)=2 < 10
    stage("f1", now - 20000,
      (4L, 1L, ts("2024-01-01 00:20:00")),  // refill from 2 over 18min -> capped 20, admit -> 10
      (5L, 1L, ts("2024-01-01 00:21:00")),  // admit: 11 -> 1
      (6L, 1L, ts("2024-01-01 00:22:00")))  // throttle: 2 < 10
    val schema = spark.read.parquet(s"$base/in/f0").schema
    RateLimit.run(spark, schema, s"$base/in", s"$base/out", s"$base/ckpt",
      capMs = 20L * 60 * 1000, costMs = 10L * 60 * 1000)
    val r = spark.read.parquet(s"$base/out").collect()
      .map(x => x.getAs[Long]("event_id") -> x.getAs[Boolean]("admitted")).toMap
    assert(r === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> true, 6L -> false))
  }

  test("event-time timers resume across separate runs: state and timers restore from the checkpoint") {
    import graft.streaming.TimeoutExpiry
    val base = tmp("timeout-resume")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def stage(name: String, mtime: Long, rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      val dir = s"$base/in/$name"
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    stage("f0", now - 60000,
      (1L, 1L, "click", ts("2024-01-01 00:00:00")),  // expires IN run 1 (f1's watermark passes 00:10)
      (2L, 2L, "click", ts("2024-01-01 01:00:00")))  // deadline 01:10 > run-1 watermark: carries over
    stage("f1", now - 50000,
      (4L, 1L, "click", ts("2024-01-01 01:06:00")),
      (11L, 1L, "purchase", ts("2024-01-01 01:08:00"))) // completes id4
    val schema = spark.read.parquet(s"$base/in/f0").schema
    // FIRST run drains f0+f1 and stops — id2 is still pending in
    // RocksDB with its registered timer
    TimeoutExpiry.run(spark, schema, s"$base/in", s"$base/out", s"$base/ckpt",
      "click", "purchase", timeoutMs = 10L * 60 * 1000)
    val afterFirst = spark.read.parquet(s"$base/out").collect()
      .map(_.getAs[Long]("start_id")).toSet
    assert(afterFirst === Set(1L, 4L),
      s"run 1 settles the in-run expiry and the completion only: $afterFirst")
    // SECOND run, same checkpoint: new files + sentinels — restored
    // timers must fire for the pendings carried over from run one
    stage("f2", now - 30000, (5L, 5L, "click", ts("2024-01-01 02:00:00")))
    stage("f3", now - 20000, (-1L, -1L, "sentinel", ts("2024-01-01 06:00:00")))
    stage("f4", now - 10000, (-2L, -1L, "sentinel", ts("2024-01-01 07:00:00")))
    TimeoutExpiry.run(spark, schema, s"$base/in", s"$base/out", s"$base/ckpt",
      "click", "purchase", timeoutMs = 10L * 60 * 1000)
    val r = spark.read.parquet(s"$base/out").collect()
      .map(x => x.getAs[Long]("start_id") -> x.getAs[String]("outcome")).toMap
    assert(r === Map(1L -> "expired", 2L -> "expired", 4L -> "completed", 5L -> "expired"),
      s"resumed run must settle every start exactly once: $r")
  }

  test("ST6: event-time windows run identically over a stream with watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val windowed = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = windowed.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:50:00"), "click"),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "click"))
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("n")).sorted.toSeq === Seq(1L, 2L))
  }

  test("curation ingest: quality gates, digest and bucket claims reject; admission is batching-independent") {
    import graft.streaming.CurationIngest
    // 24-token quality template (score 3); unique token every 3rd
    // position keeps unrelated docs out of each other's buckets
    def good(id: Long, k: Long, last: String) =
      (id, s"the uu$k fox and dd$k dog the ww$k walk of qq$k field " +
        s"the tt$k stars in bb$k light to pp$k night is zz$k $last")
    val f0 = Seq(good(1, 1, "again"), good(2, 2, "again"),
      good(3, 1, "again")).toDF("doc_id", "text")       // 3 = exact copy of 1
    val f1 = Seq(good(4, 2, "vv4"),                      // near-dup of 2
      (5L, "a b"),                                       // score 1: quality-dropped
      good(6, 6, "again")).toDF("doc_id", "text")
    def runWith(files: Seq[org.apache.spark.sql.DataFrame]): Seq[Long] = {
      val base = tmp("graft-cur-ingest")
      val now = System.currentTimeMillis()
      files.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(s"$base/in/f$i")
        new java.io.File(s"$base/in/f$i").listFiles()
          .foreach(_.setLastModified(now - 60000 + i * 10000))
      }
      CurationIngest.run(spark, f0.schema,
        s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
      spark.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    val twoBatches = runWith(Seq(f0, f1))
    assert(twoBatches === Seq(1L, 2L, 6L))
    // the same corpus in ONE batch admits the identical set — the
    // closed-form contract the oracle replays without batches
    assert(runWith(Seq(f0.unionAll(f1))) === twoBatches)
  }

  test("curation ingest compaction folds both state families; admission survives the fold") {
    import graft.streaming.CurationIngest
    def good(id: Long, k: Long, last: String) =
      (id, s"the uu$k fox and dd$k dog the ww$k walk of qq$k field " +
        s"the tt$k stars in bb$k light to pp$k night is zz$k $last")
    val base = tmp("graft-cur-compact")
    val f0 = Seq(good(1, 1, "again"), good(2, 2, "again")).toDF("doc_id", "text")
    val f1 = Seq(good(3, 3, "again")).toDF("doc_id", "text")
    val now = System.currentTimeMillis()
    Seq(f0 -> "f0", f1 -> "f1").foreach { case (df, n) =>
      df.coalesce(1).write.parquet(s"$base/in/$n")
      new java.io.File(s"$base/in/$n").listFiles()
        .foreach(_.setLastModified(now - 60000))
    }
    CurationIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    assert(CurationIngest.compactState(spark, s"$base/state") === 2) // seen: 2->1, claimed: 2->1
    val dirs = new java.io.File(s"$base/state").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === Seq("claimed_0", "seen_0"))
    // continue the stream: an exact copy of 1 and a near-copy of 2
    // must still be rejected via the COMPACTED state, novelty admitted
    Seq(good(10, 1, "again"), good(11, 2, "vv11"), good(12, 12, "again"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$base/in/f2")
    CurationIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    val admitted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/out").select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(1L, 2L, 3L, 12L))
  }

  test("curation bootstrap: the offline corpus keeps priority from batch 0; compaction preserves the seed") {
    import graft.streaming.CurationIngest
    def good(id: Long, k: Long, last: String) =
      (id, s"the uu$k fox and dd$k dog the ww$k walk of qq$k field " +
        s"the tt$k stars in bb$k light to pp$k night is zz$k $last")
    val base = tmp("graft-cur-boot")
    // nightly batch build seeds the stream's state
    CurationIngest.bootstrapState(spark,
      s"$base/state", Seq(good(1, 1, "again"), good(2, 2, "again")).toDF("doc_id", "text"))
    // batch 0 of the continuous stream: an exact copy of offline doc 1,
    // a near copy of offline doc 2, and novel content — the seed must
    // be visible to the FIRST micro-batch (strictly-before read at id 0)
    val f0 = Seq(good(10, 1, "again"), good(11, 2, "vv11"),
      good(12, 12, "again")).toDF("doc_id", "text")
    f0.coalesce(1).write.parquet(s"$base/in/f0")
    CurationIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    def admitted() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/out").select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted() === Seq(12L))
    // compaction folds into the MINIMUM key, keeping the seed side
    // visible to every later batch
    assert(CurationIngest.compactState(spark, s"$base/state") === 2)
    val dirs = new java.io.File(s"$base/state").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === Seq("claimed_-1", "seen_-1"))
    // the stream continues: offline content still rejected, novelty admitted
    Seq(good(20, 1, "again"), good(21, 21, "again")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$base/in/f1")
    CurationIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    assert(admitted() === Seq(12L, 21L))
  }

  test("curation ingest retry: a failed attempt's own seen_N and claimed_N cannot starve the batch") {
    import graft.streaming.CurationIngest
    def good(id: Long, k: Long) =
      (id, s"the uu$k fox and dd$k dog the ww$k walk of qq$k field " +
        s"the tt$k stars in bb$k light to pp$k night is zz$k again")
    val base = tmp("graft-cur-retry")
    val f0 = Seq(good(1, 1), good(2, 2)).toDF("doc_id", "text")
    f0.coalesce(1).write.parquet(s"$base/in/f0")
    // a first attempt wrote both state families for batch 0 and died
    // pre-commit: the redo of batch 0 must see neither, or its own
    // digests and claims would reject every document
    f0.select(md5($"text").as("content_hash"))
      .write.parquet(s"$base/state/seen_0")
    graft.ops.Dedup.minhashSignatures(f0, 4)
      .select($"band", $"signature").distinct()
      .write.parquet(s"$base/state/claimed_0")
    CurationIngest.run(spark, f0.schema,
      s"$base/in", s"$base/out", s"$base/state", s"$base/ckpt")
    val admitted = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/out").select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(1L, 2L))
  }

  test("queue adapters: file transport feeds the certified parser; Kafka names its runtime dep") {
    import graft.sources.Queues
    val base = tmp("graft-queues")
    val msgs = Seq(
      """{"order_id":"o-1","customer_id":"c-1","items":[{"product_id":"p-1","quantity":1}]}""",
      "not json at all")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/q.jsonl"),
      msgs.mkString("\n").getBytes)
    // the adapter's frame drops into the certified parse/validate
    // split exactly like the inline text source the oracles run
    val (valid, invalid) = CheckoutStream.parseOrderStream(
      Queues.fileJson(spark, base), "value")
    val vq = valid.writeStream.format("memory").queryName("qa_valid")
      .trigger(Trigger.AvailableNow()).start()
    val iq = invalid.writeStream.format("memory").queryName("qa_invalid")
      .trigger(Trigger.AvailableNow()).start()
    vq.awaitTermination(); iq.awaitTermination()
    assert(spark.table("qa_valid").select($"order_id")
      .collect().map(_.getString(0)).toSeq === Seq("o-1"))
    assert(spark.table("qa_invalid").count() === 1)
    // the Kafka form compiles against core Spark and fails fast,
    // naming the missing connector — the documented deployment dep
    val e = intercept[Exception](Queues.kafkaJson(spark, "broker:9092", "orders"))
    assert(e.getMessage.toLowerCase.contains("kafka"))
  }
}
