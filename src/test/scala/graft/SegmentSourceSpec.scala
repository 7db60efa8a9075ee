package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.segment.{GraftCatalog, GraftSegmentSource, SegmentLog}

/** The graft-segment DataSource V2 connector: round-trip fidelity,
  * zone-map segment skipping, column pruning, reported-statistics
  * broadcast planning, optimistic commits, and the exactly-once
  * micro-batch source. */
class SegmentSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Fmt = "graft-segment"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def sample(): DataFrame = {
    import spark.implicits._
    // ids 0..999 clustered later by bucket; a null sprinkled in
    spark.range(0, 1000).select(
      col("id"),
      (col("id") % 10).cast("int").as("bucket"),
      (col("id") * 2.5).as("score"),
      concat(lit("name-"), lpad(col("id").cast("string"), 4, "0")).as("name"),
      when(col("id") % 97 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("tag"), (col("id") % 3).cast("string"))).as("tag"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      array(col("id").cast("float"), (col("id") + 1).cast("float")).as("vec"))
  }

  test("write → read round-trip is exact, including nulls, timestamps, arrays") {
    val dir = tmp("graft-seg-rt")
    val df = sample()
    df.write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(b == a)
  }

  test("append accumulates; overwrite truncates; schema drift on append is rejected") {
    val dir = tmp("graft-seg-app")
    val df = sample().limit(100)
    df.write.format(Fmt).mode("append").save(dir)
    df.write.format(Fmt).mode("append").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() == 200)
    df.write.format(Fmt).mode("overwrite").save(dir)
    assert(spark.read.format(Fmt).load(dir).count() == 100)
    val bad = df.withColumn("extra", lit(1))
    val e = intercept[Exception] {
      bad.write.format(Fmt).mode("append").save(dir)
    }
    assert(e.getMessage != null)
  }

  test("clustered write + pushed filter skips segments at planning (zone maps)") {
    val dir = tmp("graft-seg-zone")
    // demand clustering by bucket from the WRITE side: 10 buckets into
    // 10 partitions → each segment covers ~1 bucket value
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    GraftSegmentSource.lastScanEvent = None
    val got = spark.read.format(Fmt).load(dir)
      .filter(col("bucket") === 3)
      .agg(count(lit(1)), sum("id")).collect()(0)
    assert(got.getLong(0) == 100)
    // oracle: sum of ids ≡ 3 (mod 10) in [0, 1000)
    assert(got.getLong(1) == (3 until 1000 by 10).map(_.toLong).sum)
    val (planned, total) = GraftSegmentSource.lastScanEvent.get
    assert(total >= 5, s"expected several segments, got $total")
    assert(planned * 2 <= total,
      s"zone maps should prune most segments: planned $planned of $total")
  }

  test("string and timestamp zone maps prune; residual filters keep row-level exactness") {
    val dir = tmp("graft-seg-str")
    // cluster by name → lexicographic ranges per segment
    sample().write.format(Fmt)
      .option("clusterBy", "name").option("numPartitions", "8")
      .mode("append").save(dir)
    GraftSegmentSource.lastScanEvent = None
    val rows = spark.read.format(Fmt).load(dir)
      .filter(col("name") === "name-0123").select("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(123L))
    val (p1, t1) = GraftSegmentSource.lastScanEvent.get
    assert(p1 < t1, s"equality on clustered string column should prune: $p1 of $t1")

    GraftSegmentSource.lastScanEvent = None
    val n = spark.read.format(Fmt).load(dir)
      .filter(col("ts") >= timestamp_micros(lit(900L * 1000000L))).count()
    assert(n == 100)
    // ts correlates with id, not name — pruning may or may not fire
    // here; correctness is the assertion (the count), not the skip
  }

  test("column pruning reaches the reader: only required columns are materialized") {
    val dir = tmp("graft-seg-prune")
    sample().write.format(Fmt).mode("append").save(dir)
    val scan = spark.read.format(Fmt).load(dir).select("name", "bucket")
    val batchScans = collectFirst(scan.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(batchScans.isDefined)
    assert(batchScans.get.scan.readSchema().fieldNames.sorted.toSeq == Seq("bucket", "name"))
    assert(scan.distinct().count() == 1000)
  }

  test("reported statistics drive automatic broadcast of a small filtered segment table") {
    val dir = tmp("graft-seg-stats")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val dim = spark.read.format(Fmt).load(dir).filter(col("bucket") === 7)
      .select(col("id").as("d_id"), col("name"))
    val fact = spark.range(0, 10000).select((col("id") % 1000).as("d_id"), col("id").as("v"))
    val joined = fact.join(dim, "d_id") // no broadcast() hint on purpose
    assert(joined.count() == 1000)
    val bhj = collectFirst(joined.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.isDefined,
      s"expected auto-broadcast from DSv2 statistics; plan:\n${joined.queryExecution.executedPlan}")
  }

  test("micro-batch source: bounded admission, then exactly-once resume after restart") {
    val dir = tmp("graft-seg-stream")
    val ckpt = tmp("graft-seg-ckpt")
    val outDir = tmp("graft-seg-out")
    import spark.implicits._

    def append(ids: Range): Unit =
      ids.toDF("id").select(col("id").cast("long").as("id"))
        .coalesce(1).write.format(Fmt).mode("append").save(dir)

    append(0 until 10)
    append(10 until 20)
    append(20 until 30)

    def drain(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("maxSegmentsPerTrigger", "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    drain()
    val first = spark.read.parquet(outDir)
    assert(first.count() == 30)
    assert(first.select(countDistinct("id")).head().getLong(0) == 30)

    // three committed segments, one per trigger → at least 3 batches
    val progress = SegmentLog.latestVersion(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir)
    assert(progress == 2, s"three appends = versions 0..2, got $progress")

    // restart from the same checkpoint: only NEW segments replay
    append(30 until 40)
    drain()
    val all = spark.read.parquet(outDir)
    assert(all.count() == 40, "exactly-once: no rows duplicated on resume")
    assert(all.select(countDistinct("id")).head().getLong(0) == 40)
  }

  test("runtime filtering: a broadcast join's build-side keys prune segments at execution") {
    val dir = tmp("graft-seg-dpp")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    import spark.implicits._
    // dynamic pruning needs (a) a selective build-side predicate that
    // survives to the optimized plan — a filtered local Seq constant-
    // folds away, taking the selectivity evidence with it — and (b) a
    // predicate the optimizer CANNOT transpose onto the join key
    // statically (a key-equality filter gets constraint-propagated and
    // pushed as a plain static filter, leaving DPP nothing to do). A
    // range-derived dim filtered on a non-key column is the honest
    // DPP shape: only executing the build side reveals the keys.
    val dim = spark.range(0, 100)
      .select((col("id") % 50).cast("int").as("d_bucket"), col("id").as("tag"))
      .filter(col("tag") % 97 === 3) // id=3 survives → d_bucket=3, invisible statically
    val fact = spark.read.format(Fmt).load(dir)
    GraftSegmentSource.lastRuntimeEvent = None
    val joined = fact.join(broadcast(dim), col("bucket") === col("d_bucket"))
    assert(joined.count() == 100) // 100 fact rows with bucket=3 × 1 dim row
    val (kept, before) = GraftSegmentSource.lastRuntimeEvent.getOrElse(
      fail("planner did not inject a runtime filter into the DSv2 scan"))
    assert(kept < before, s"runtime filter should prune: kept $kept of $before")
    info(s"runtime filter pruned to $kept of $before segments")
  }

  test("streaming source prunes segments by zone maps within each micro-batch") {
    val dir = tmp("graft-seg-streamprune")
    val ckpt = tmp("graft-seg-sp-ckpt")
    val outDir = tmp("graft-seg-sp-out")
    import spark.implicits._
    // three commits, each range-disjoint in k: only one can match k<10
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach(r =>
      r.toDF("k").coalesce(1).write.format(Fmt).mode("append").save(dir))
    // the streaming result stays exact regardless of pruning
    val q = spark.readStream.format(Fmt).load(dir)
      .filter(col("k") < 10)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.read.parquet(outDir).as[Long].collect().sorted.toSeq
    assert(rows == (0L until 10L))

    // Spark's planner does not (yet) push filters into micro-batch
    // scans, so certify the source's pruning contract at the API
    // level: a stream built from a filter-pushed ScanBuilder prunes
    // in-slice segments by zone maps while offsets still advance
    val schema = spark.read.format(Fmt).load(dir).schema
    val builder = new graft.sources.segment.GraftScanBuilder(dir, schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    builder.pushFilters(Array(org.apache.spark.sql.sources.LessThan("k", 10L)))
    val stream = builder.build().toMicroBatchStream(ckpt)
    graft.sources.segment.GraftMicroBatchStream.lastBatchEvent = None
    val parts = stream.planInputPartitions(
      graft.sources.segment.GraftOffset(0L), graft.sources.segment.GraftOffset(3L))
    assert(parts.length == 1, "one of three segments can match k<10")
    val (kept, total) = graft.sources.segment.GraftMicroBatchStream.lastBatchEvent.get
    assert(total == 3 && kept == 1)
  }

  test("streaming sink: epoch commits land exactly once; replayed epoch is a no-op") {
    val dir = tmp("graft-seg-sink")
    val inDir = tmp("graft-seg-sink-in")
    val ckpt = tmp("graft-seg-sink-ckpt")
    import spark.implicits._
    (0 until 3).foreach(i =>
      (i * 10 until i * 10 + 10).toDF("id").select(col("id").cast("long").as("id"))
        .coalesce(1).write.parquet(s"$inDir/f$i"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .writeStream.format(Fmt)
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(!q.isActive)

    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() == 30)
    assert(back.select(countDistinct("id")).head().getLong(0) == 30)

    // the exactly-once ledger: the sink's queryId is recorded at its
    // last epoch, and a manual replay of an already-committed epoch
    // must change nothing
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir).get
    assert(m.txns.size == 1, s"expected one streaming txn entry, got ${m.txns}")
    val (qid, lastEpoch) = m.txns.head
    assert(lastEpoch >= 2, s"three one-file triggers → epochs 0..2+, got $lastEpoch")
    val vBefore = m.version
    val replayed = SegmentLog.commit(fs, dir, m.schema,
      Seq(m.segments.head), truncate = false, txn = Some((qid, lastEpoch)))
    assert(replayed == vBefore, "replayed epoch must not create a new version")
    assert(spark.read.format(Fmt).load(dir).count() == 30)
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from the manifest, zero file reads") {
    val dir = tmp("graft-seg-agg")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val t = spark.read.format(Fmt).load(dir)
    val agg = t.agg(
      count(lit(1)).as("n"), count(col("tag")).as("n_tag"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"),
      min(col("name")).as("min_name"), max(col("score")).as("max_score"))
    // the plan must be a LocalTableScan-shaped scan, not a file scan
    val hasLocal = agg.queryExecution.executedPlan.toString.contains("LocalTableScan") ||
      collectFirst(agg.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.isEmpty
    val r = agg.head()
    assert(r.getLong(0) == 1000)
    assert(r.getLong(1) == 1000 - 11) // ids ≡ 0 (mod 97) in [0,1000): 11 nulls
    assert(r.getLong(2) == 0 && r.getLong(3) == 999)
    assert(r.getString(4) == "name-0000")
    assert(r.getDouble(5) == 999 * 2.5)
    assert(hasLocal, s"expected metadata-only plan:\n${agg.queryExecution.executedPlan}")

    // with a filter the pushdown must NOT engage (filters are residual)
    val filtered = t.filter(col("bucket") === 3).agg(count(lit(1)))
    assert(filtered.head().getLong(0) == 100)
  }

  test("metadata MIN/MAX on strings uses binary order (supplementary-plane regression)") {
    val dir = tmp("graft-seg-utf")
    import spark.implicits._
    // U+FFFD sorts ABOVE the surrogate pair U+10400 in UTF-16 code
    // units but BELOW it in UTF-8 binary order — the case where the
    // two orderings disagree
    val tricky = Seq("�", new String(Character.toChars(0x10400)), "plain", "zz")
    // several single-row segments so the metadata answer must reduce
    // ACROSS segment bounds
    tricky.foreach(s0 =>
      Seq(s0).toDF("s").coalesce(1).write.format(Fmt).mode("append").save(dir))
    val seg = spark.read.format(Fmt).load(dir)
      .agg(min(col("s")).as("mn"), max(col("s")).as("mx")).head()
    val truth = tricky.toDF("s")
      .agg(min(col("s")).as("mn"), max(col("s")).as("mx")).head()
    assert(seg.getString(0) == truth.getString(0), "metadata MIN must match Spark's ordering")
    assert(seg.getString(1) == truth.getString(1), "metadata MAX must match Spark's ordering")
  }

  test("ORDER BY cluster-key LIMIT plans only the covering key-range segments") {
    val dir = tmp("graft-seg-topn")
    import spark.implicits._
    spark.range(0, 1000).select(col("id"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "10")
      .mode("append").save(dir)
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      collectFirst(df.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get.inputRDD.getNumPartitions
    val t = spark.read.format(Fmt).load(dir)

    val top = t.orderBy(col("id").desc).limit(5)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L, 996L, 995L))
    assert(planned(top) == 1, "top-5 desc should plan ONE tail segment")

    val bottom = t.orderBy(col("id")).limit(150)
    assert(bottom.collect().map(_.getLong(0)).toSeq == (0L until 150L))
    assert(planned(bottom) == 2, "bottom-150 asc should plan two head segments")

    // a second append makes key ranges overlap → pushdown must refuse
    // (the planner keeps the full sort) but the answer stays exact
    spark.range(500, 520).select(col("id")).coalesce(1)
      .write.format(Fmt).mode("append").save(dir)
    val t2 = spark.read.format(Fmt).load(dir)
    val again = t2.orderBy(col("id").desc).limit(3)
    assert(again.collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L))
    assert(planned(again) == 11, "overlapping ranges: all segments planned, no unsound cut")
  }

  test("limit pushdown plans a row-covering prefix of segments") {
    val dir = tmp("graft-seg-limit")
    sample().write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "10")
      .mode("append").save(dir)
    GraftSegmentSource.lastScanEvent = None
    val few = spark.read.format(Fmt).load(dir).limit(5).collect()
    assert(few.length == 5)
    // planning event reports what the scan planned vs manifest total
    // (the limit cut happens after pruning; with no filters pruning
    // keeps all, so the cut is visible as planned < total)
    // NOTE: lastScanEvent records the PRUNING outcome; assert the
    // physical partition count instead via a fresh scan
    val t = spark.read.format(Fmt).load(dir).limit(5)
    val scanExec = collectFirst(t.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scanExec.isDefined)
    assert(scanExec.get.inputRDD.getNumPartitions == 1,
      "limit 5 over ~100-row segments should plan exactly one segment")
  }

  test("versionAsOf time-travels to any committed version") {
    val dir = tmp("graft-seg-tt")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.format(Fmt).mode("append").save(dir)       // v0
    Seq(3L).toDF("id").write.format(Fmt).mode("append").save(dir)           // v1
    Seq(9L).toDF("id").write.format(Fmt).mode("overwrite").save(dir)        // v2
    def at(v: Int) = spark.read.format(Fmt).option("versionAsOf", v.toString)
      .load(dir).as[Long].collect().sorted.toSeq
    assert(at(0) == Seq(1L, 2L))
    assert(at(1) == Seq(1L, 2L, 3L))
    assert(at(2) == Seq(9L))
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().toSeq == Seq(9L))
  }

  test("additive schema evolution: mergeSchema widens; old segments null-backfill") {
    val dir = tmp("graft-seg-evo")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format(Fmt).mode("append").save(dir)
    // new column arrives; plain append refuses, mergeSchema widens
    val withExtra = Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "v", "score")
    intercept[Exception] { withExtra.write.format(Fmt).mode("append").save(dir) }
    withExtra.write.format(Fmt).option("mergeSchema", "true").mode("append").save(dir)
    val t = spark.read.format(Fmt).load(dir).orderBy("id")
    assert(t.columns.toSeq == Seq("id", "v", "score"))
    val rows = t.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30)), (4L, "d", Some(40))))
    // type changes stay rejected even under mergeSchema
    intercept[Exception] {
      Seq((5L, 9.0, 50)).toDF("id", "v", "score")
        .write.format(Fmt).option("mergeSchema", "true").mode("append").save(dir)
    }
  }

  test("metadata-only DELETE drops decided segments; undecided demands the rewrite") {
    val dir = tmp("graft-seg-del")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val table = new graft.sources.segment.GraftSegmentTable(
      dir, spark.read.format(Fmt).load(dir).schema)
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}

    // bucket = 3: every segment is decided by its zone maps (range-
    // clustered by bucket), so this is a pure manifest commit
    assert(table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("bucket", 3))))
    val before = SegmentLog.read(fs, dir).get.segments.size
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](EqualTo("bucket", 3)))
    val after = SegmentLog.read(fs, dir).get
    assert(after.segments.size < before)
    val left = spark.read.format(Fmt).load(dir)
    assert(left.count() == 900)
    assert(left.filter(col("bucket") === 3).count() == 0)

    // id >= 17 cuts through a segment: undecidable → refused, the
    // rewrite helper finishes the job with row-level semantics
    assert(!table.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("id", 17L))))
    val remaining = graft.sources.segment.GraftMaintenance
      .deleteRows(spark, dir, col("id") >= 17L)
    assert(remaining == spark.read.format(Fmt).load(dir).count())
    assert(spark.read.format(Fmt).load(dir).filter(col("id") >= 17L).count() == 0)
  }

  test("SQL DELETE through the catalog takes the metadata-only path") {
    val warehouse = tmp("graft-seg-delwh")
    GraftCatalog.withCatalog(spark, warehouse) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      // RANGE layout (declared via table properties): segments cover
      // non-overlapping sorted k ranges, so a boundary-aligned range
      // predicate decides every segment — the metadata-only DELETE shape
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id AS k, id * 10 FROM range(0, 400)")
      val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
      val m = SegmentLog.read(fs, s"$warehouse/db/t").get
      assert(m.bucketing.exists(b => b.mode == "range" && b.cols == Seq("k")))
      assert(m.segments.size >= 3)
      // pick a real segment boundary: the minimum k of some middle segment
      val boundary = m.segments.map(_.stats("k").bounds.get._1.toLong).sorted.apply(2)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k >= $boundary")
      val after = SegmentLog.read(fs, s"$warehouse/db/t").get
      assert(after.segments.size < m.segments.size, "whole segments dropped from the manifest")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == boundary)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k >= $boundary")
        .head().getLong(0) == 0)
      spark.sql(s"TRUNCATE TABLE $cat.db.t")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 0)
    }
  }

  test("compaction rewrites fragments in place; expiry + vacuum reclaim history") {
    val dir = tmp("graft-seg-compact")
    import spark.implicits._
    // 12 tiny appends = 12 segments (micro-batch fragmentation)
    (0 until 12).foreach(i =>
      Seq.range(i * 10L, i * 10L + 10L).toDF("id")
        .coalesce(1).write.format(Fmt).mode("append").save(dir))
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val (before, after) = graft.sources.segment.GraftMaintenance
      .compact(spark, dir, clusterBy = "id", numPartitions = 2)
    assert(before == 12 && after <= 2, s"compact 12 → ≤2, got $before → $after")
    val live = spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq
    assert(live == (0L until 120L).toSeq)
    // pre-compaction version still time-travels...
    val v11 = spark.read.format(Fmt).option("versionAsOf", "11").load(dir).count()
    assert(v11 == 120)
    // ...until expired; then vacuum reclaims the fragment files
    val dataFiles0 = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data")).length
    val expired = graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    assert(expired == 12, s"12 old versions expired, got $expired")
    // retentionMs = 0: the default 7-day horizon guards against
    // deleting an in-flight writer's not-yet-committed files; this
    // test has no concurrent writers and wants immediate reclaim
    val removed = SegmentLog.vacuum(fs, dir, retentionMs = 0L)
    assert(removed == 12, s"12 fragment files reclaimed, got $removed")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data")).length ==
      dataFiles0 - removed)
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq == live)
    // expired version is gone, loudly
    intercept[Exception] {
      spark.read.format(Fmt).option("versionAsOf", "3").load(dir).count()
    }
  }

  test("scan reports segmentsTotal/segmentsPlanned custom metrics to the SQL UI") {
    val dir = tmp("graft-seg-metrics")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val df = spark.read.format(Fmt).load(dir).filter(col("bucket") === 3)
    df.collect()
    val scanExec = collectFirst(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val names = scanExec.scan.supportedCustomMetrics().map(_.name()).toSet
    assert(names == Set("segmentsTotal", "segmentsPlanned"))
    val reported = scanExec.scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    assert(reported("segmentsTotal") > reported("segmentsPlanned"),
      s"pruning should be visible in the metrics: $reported")
  }

  test("sinceVersion reads exactly the appended increment; non-append history fails fast") {
    val dir = tmp("graft-seg-since")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.format(Fmt).mode("append").save(dir)   // v0
    Seq(3L).toDF("id").write.format(Fmt).mode("append").save(dir)       // v1
    Seq(4L, 5L).toDF("id").write.format(Fmt).mode("append").save(dir)   // v2
    def since(v: Int) = spark.read.format(Fmt)
      .option("sinceVersion", v.toString).load(dir).as[Long].collect().sorted.toSeq
    assert(since(0) == Seq(3L, 4L, 5L))
    assert(since(1) == Seq(4L, 5L))
    assert(since(2) == Seq.empty)
    // metadata count over the increment works too
    val n = spark.read.format(Fmt).option("sinceVersion", "0").load(dir)
      .agg(count(lit(1))).head().getLong(0)
    assert(n == 3)
    // compaction does NOT break increments: the rewritten-away rows
    // come back from retained history, the compaction output (which
    // also folds in pre-base rows) is skipped as dataChange=false
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3
    assert(since(0) == Seq(3L, 4L, 5L))
    assert(since(1) == Seq(4L, 5L))
    Seq(6L).toDF("id").write.format(Fmt).mode("append").save(dir)       // v4
    assert(since(1) == Seq(4L, 5L, 6L))

    Seq(9L).toDF("id").write.format(Fmt).mode("overwrite").save(dir)    // v5: truncate
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("sinceVersion", "1").load(dir).collect()
    }
    assert(e.getMessage.contains("append"), s"got: ${e.getMessage}")
  }

  test("txnAppId/txnVersion batch writes: replayed versions are no-ops") {
    val dir = tmp("graft-seg-txn")
    import spark.implicits._
    def put(ids: Seq[Long], app: String, v: Long): Unit =
      ids.toDF("id").write.format(Fmt)
        .option("txnAppId", app).option("txnVersion", v.toString)
        .mode("overwrite").save(dir)
    put(Seq(1L, 2L), "job", 0L)
    put(Seq(1L, 2L, 3L), "job", 1L)
    assert(spark.read.format(Fmt).load(dir).count() == 3)
    // replay of version 1 with DIFFERENT (corrupt) content: ignored
    put(Seq(99L), "job", 1L)
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // an older version replayed: also ignored
    put(Seq(98L), "job", 0L)
    assert(spark.read.format(Fmt).load(dir).count() == 3)
    // a DIFFERENT app's version counter is independent
    put(Seq(7L), "other-job", 0L)
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().toSeq == Seq(7L))
  }

  test("detail reports version, totals, layout, retention, txn apps") {
    val dir = tmp("graft-seg-detail")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "2")
      .mode("append").save(dir)
    Seq(3L).toDF("id").write.format(Fmt)
      .option("txnAppId", "etl").option("txnVersion", "0")
      .option("mergeSchema", "true").mode("append").save(dir)
    val r = graft.sources.segment.GraftMaintenance.detail(spark, dir).head()
    assert(r.getAs[Long]("version") == 1L)
    assert(r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[String]("columns") == "id")
    assert(r.getAs[Long]("n_versions_retained") == 2L)
    assert(r.getAs[Long]("n_txn_apps") == 1L)
    assert(r.getAs[Long]("n_dv_segments") == 0L && r.getAs[Long]("n_dv_rows") == 0L)
    // a dv delete of a single-row segment drops it outright (no
    // vector to carry); detail reports the live totals either way
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") === 2L)
    val r2 = graft.sources.segment.GraftMaintenance.detail(spark, dir).head()
    assert(r2.getAs[Long]("n_rows") == 2L && r2.getAs[Long]("n_segments") == 2L)
    assert(r2.getAs[Long]("n_dv_segments") == 0L && r2.getAs[Long]("n_dv_rows") == 0L)
  }

  test("optimistic commit under real contention: 8 concurrent appenders, no lost rows") {
    val dir = tmp("graft-seg-race")
    import spark.implicits._
    // seed the table so every thread appends (no first-commit special case)
    Seq(-1L).toDF("id").write.format(Fmt).mode("append").save(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (0 until 8).map { w =>
      Future {
        (w * 100L until w * 100L + 100L).toDF("id")
          .coalesce(1).write.format(Fmt).mode("append").save(dir)
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir).get
    assert(m.version == 8, s"8 contended commits → versions 1..8, got ${m.version}")
    val got = spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq
    val want = (-1L +: (0 until 8).flatMap(w => w * 100L until w * 100L + 100L)).sorted
    assert(got == want, "every contended append must land exactly once")
  }

  test("optimistic commit: interleaved writers both land; vacuum removes orphans") {
    val dir = tmp("graft-seg-occ")
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.format(Fmt).mode("append").save(dir)
    Seq(3L, 4L).toDF("id").write.format(Fmt).mode("append").save(dir)
    assert(SegmentLog.latestVersion(fs, dir) == 1)
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // truncate, then vacuum the now-unreferenced first-generation files
    Seq(9L).toDF("id").write.format(Fmt).mode("overwrite").save(dir)
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().toSeq == Seq(9L))
    val removed = SegmentLog.vacuum(fs, dir, retentionMs = 0L)
    assert(removed == 0, "truncate keeps history; nothing unreferenced yet")
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().toSeq == Seq(9L))
  }

  test("compaction mid-stream: checkpoint stays valid, lagging rows re-read from history") {
    val dir = tmp("graft-seg-compstream")
    val ckpt = tmp("graft-seg-compstream-ckpt")
    val outDir = tmp("graft-seg-compstream-out")
    import spark.implicits._

    def append(ids: Range): Unit =
      ids.toDF("id").select(col("id").cast("long").as("id"))
        .coalesce(1).write.format(Fmt).mode("append").save(dir)

    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    append(0 until 10); append(10 until 20); append(20 until 30)
    drain()
    assert(spark.read.parquet(outDir).count() == 30)

    // the stream now LAGS: two more appends land (ids 3, 4), then the
    // whole table is compacted (dataChange=false truncate) BEFORE the
    // stream sees them — their original segments leave the live
    // manifest but stay reachable through retained versions
    append(30 until 40); append(40 until 50)
    val (before, after) = graft.sources.segment.GraftMaintenance
      .compact(spark, dir, clusterBy = "id", numPartitions = 1)
    assert(before == 5 && after == 1, s"compacted $before → $after")

    drain()
    val all = spark.read.parquet(outDir)
    assert(all.count() == 50, "lagging rows re-read from history exactly once")
    assert(all.select(countDistinct("id")).head().getLong(0) == 50,
      "compaction output (dataChange=false) must not re-deliver consumed rows")

    // a CAUGHT-UP stream keeps running across a second compaction plus
    // history expiry — nothing in its future range needs resurrection
    append(50 until 60)
    drain() // catch up first: expiry only breaks streams that lag past it
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1)
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    append(60 until 70)
    drain()
    val fin = spark.read.parquet(outDir)
    assert(fin.count() == 70 &&
      fin.select(countDistinct("id")).head().getLong(0) == 70)

    // the inverse is the documented failure: a stream LAGGING behind a
    // compaction whose pre-images were expired has lost its history
    append(70 until 80) // unconsumed
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1)
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    val q = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("history was expired"))
  }

  test("fresh earliest-offset stream survives expiry of the acknowledged truncate's manifest") {
    val dir = tmp("graft-seg-expired-ack")
    val ckpt = tmp("graft-seg-expired-ack-ckpt")
    val outDir = tmp("graft-seg-expired-ack-out")
    import spark.implicits._
    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir) // v0: id 0
    (100L until 110L).toDF("id").write.format(Fmt)
      .mode("overwrite").save(dir) // v1: data-changing truncate, id 1
    (200L until 210L).toDF("id").write.format(Fmt).mode("append").save(dir) // v2: id 2
    // the manifest at the acknowledged truncate (v1) is expired: a
    // fresh zero-lag stream must NOT fail permanently — the truncated
    // generation (id 0) is provably dead (id > compactedThrough, so no
    // compaction ever rewrote it; only the acknowledged truncate could
    // have removed it) and degrades to skip
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    val q = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    assert(spark.read.parquet(outDir).select("id").as[Long].collect().sorted.toSeq ==
      ((100L until 110L) ++ (200L until 210L)).toSeq,
      "live rows delivered; the truncated generation skipped, not failed")
  }

  test("expired ack manifest with COMPACTED pre-truncate history stays the hard failure") {
    val dir = tmp("graft-seg-expired-undec")
    val ckpt = tmp("graft-seg-expired-undec-ckpt")
    val outDir = tmp("graft-seg-expired-undec-out")
    import spark.implicits._
    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir) // v0: id 0
    (10L until 20L).toDF("id").write.format(Fmt).mode("append").save(dir) // v1: id 1
    graft.sources.segment.GraftMaintenance
      .compact(spark, dir, "id", 1) // v2: carrier id 2, compactedThrough = 1
    (100L until 105L).toDF("id").write.format(Fmt)
      .mode("overwrite").save(dir) // v3: truncate (W = 2)
    (200L until 205L).toDF("id").write.format(Fmt).mode("append").save(dir) // v4
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    // ids 0 and 1 sit within compacted history (≤ compactedThrough):
    // without the expired manifest, kept-then-compacted cannot be told
    // apart from removed — the stream must fail loudly, not guess
    val q = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("undecidable"))
  }

  test("data-changing overwrite mid-stream fails fast; a fresh stream adopts the new table") {
    val dir = tmp("graft-seg-ovwstream")
    val ckpt = tmp("graft-seg-ovwstream-ckpt")
    val outDir = tmp("graft-seg-ovwstream-out")
    import spark.implicits._

    def run(cp: String, out: String): Option[Throwable] = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }

    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir)
    assert(run(ckpt, outDir).isEmpty)
    assert(spark.read.parquet(outDir).count() == 10)

    // the overwrite replaces rows the stream ALREADY EMITTED — its
    // output is now stale and cannot be repaired by appending more, so
    // the stream must fail loudly (Delta's default on any data-changing
    // commit), even though its unconsumed range holds only fresh ids
    (100L until 105L).toDF("id").write.format(Fmt).mode("overwrite").save(dir)
    (200L until 205L).toDF("id").write.format(Fmt).mode("append").save(dir)
    val err = run(ckpt, outDir)
    assert(err.isDefined, "overwrite under a running stream must fail the stream")
    assert(err.exists(e =>
      (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("under this running stream")))

    // a FRESH stream acknowledges the pre-existing truncate and reads
    // the current table cleanly
    val out2 = tmp("graft-seg-ovwstream-out2")
    assert(run(tmp("graft-seg-ovwstream-ckpt2"), out2).isEmpty)
    val got = spark.read.parquet(out2).as[Long].collect().sorted.toSeq
    assert(got == ((100L until 105L) ++ (200L until 205L)).sorted)
  }

  test("commit refuses non-atomic-create stores unless explicitly opted in") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    intercept[UnsupportedOperationException] {
      SegmentLog.requireAtomicCreate("s3a", conf)
    }
    conf.setBoolean("graft.segment.commit.assumeAtomicCreate", true)
    SegmentLog.requireAtomicCreate("s3a", conf) // opted in: no throw
    SegmentLog.requireAtomicCreate("hdfs", new org.apache.hadoop.conf.Configuration(false))
    SegmentLog.requireAtomicCreate("file", new org.apache.hadoop.conf.Configuration(false))
  }

  test("a failed manifest write releases its claimed version slot instead of bricking the table") {
    val dir = tmp("graft-seg-torn")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.format(Fmt).mode("append").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val good = SegmentLog.fs(dir, conf)
    // a FileSystem whose next manifest create() yields a stream that
    // dies mid-write — the disk-full / transient-IO shape
    val bad = new org.apache.hadoop.fs.FilterFileSystem(good) {
      override def create(p: org.apache.hadoop.fs.Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream = {
        val real = super.create(p, overwrite)
        if (!p.getName.contains("manifest-")) real
        else new org.apache.hadoop.fs.FSDataOutputStream(
          new java.io.OutputStream {
            override def write(b: Int): Unit = throw new java.io.IOException("disk full")
            override def write(b: Array[Byte], off: Int, len: Int): Unit =
              throw new java.io.IOException("disk full")
          }, null)
      }
    }
    val m = SegmentLog.read(good, dir).get
    val orphanMeta = m.segments.head.copy(id = -1L) // re-commit the same file as a new segment
    intercept[java.io.IOException] {
      SegmentLog.commit(bad, dir, m.schema, Seq(orphanMeta), truncate = false)
    }
    // the torn file must NOT squat on version slot 1: readers still see
    // version 0 and the next commit takes slot 1 cleanly
    assert(SegmentLog.latestVersion(good, dir) == 0L)
    val v = SegmentLog.commit(good, dir, m.schema, Seq(orphanMeta), truncate = false)
    assert(v == 1L)
    assert(spark.read.format(Fmt).load(dir).count() == 2 + m.segments.head.rows)
  }

  test("non-additive schema evolution is refused with a clear error; additive subsets pass") {
    val dir = tmp("graft-seg-evolve-neg")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "tag").write.format(Fmt).mode("append").save(dir)
    // type change: refused, with and without mergeSchema
    val e1 = intercept[Exception] {
      Seq((2, "b")).toDF("id", "tag") // id now INT
        .write.format(Fmt).option("mergeSchema", "true").mode("append").save(dir)
    }
    assert(e1.getMessage.contains("cannot change column"))
    val e2 = intercept[Exception] {
      Seq((2, "b")).toDF("id", "tag").write.format(Fmt).mode("append").save(dir)
    }
    assert(e2.getMessage.contains("schema mismatch") || e2.getMessage.contains("mismatch"))
    // a WRITE missing a live column (the "drop"/"rename" shape) is an
    // additive-semantics partial append under mergeSchema: the table
    // keeps the column, old rows keep values, new rows null-backfill —
    // never a silent drop of the column or its data
    Seq(3L).toDF("id").write.format(Fmt)
      .option("mergeSchema", "true").mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("a")), (3L, None)))
    // ...but NOT without mergeSchema
    intercept[Exception] {
      Seq(4L).toDF("id").write.format(Fmt).mode("append").save(dir)
    }
  }

  test("change feed: appends are inserts, metadata-only DELETE yields exact deletes, compaction is silent") {
    val dir = tmp("graft-seg-cdf")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    put(0 until 10)   // v0
    put(10 until 20)  // v1
    // v2: zone maps decide the whole second segment → metadata-only
    // DELETE, whose feed is EXACTLY the dropped segment's rows
    spark.read.format(Fmt).load(dir) // sanity before delete
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
    val preds: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L))
    assert(table.canDeleteWhere(preds))
    table.deleteWhere(preds)
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3: silent
    put(20 until 25)  // v4

    val feed = graft.sources.segment.GraftMaintenance.changes(spark, dir, 0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = (
      (10L until 20L).map(i => (i, "insert", 1L)) ++
      (10L until 20L).map(i => (i, "delete", 2L)) ++
      (20L until 25L).map(i => (i, "insert", 4L))).sorted
    assert(feed == want)

    // a subrange sees only its steps; the empty range is empty with
    // the full feed schema
    assert(graft.sources.segment.GraftMaintenance.changes(spark, dir, 2).count() == 5)
    val empty = graft.sources.segment.GraftMaintenance.changes(spark, dir, 2, 3)
    assert(empty.count() == 0 &&
      empty.schema.fieldNames.toSeq == Seq("id", "_change_type", "_commit_version"))

    // expired history fails with the manifest-expired error
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 2)
    val e = intercept[IllegalArgumentException] {
      graft.sources.segment.GraftMaintenance.changes(spark, dir, 0).count()
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("column mapping: RENAME and DROP are metadata-only; reads, pruning and writes follow") {
    val dir = tmp("graft-seg-colmap")
    import spark.implicits._
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    spark.range(0, 100).select(col("id"),
        (col("id") * 2).as("v"), concat(lit("t"), col("id") % 3).as("tag"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .mode("append").save(dir)
    val segsBefore = SegmentLog.read(fs, dir).get.segments.map(_.path).toSet

    // RENAME v → score: no segment changes hands, data reads under the
    // new name, and a filter on the RENAMED clustered column still
    // prunes by zone maps (stats keys translate through the mapping)
    SegmentLog.renameColumn(fs, dir, "v", "score")
    val m1 = SegmentLog.read(fs, dir).get
    assert(m1.segments.map(_.path).toSet == segsBefore, "rename must not rewrite data")
    assert(m1.physicalOf == Map("score" -> "v"))
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "score", "tag"))
    assert(back.agg(sum("score")).head().getLong(0) == (0L until 100L).map(_ * 2).sum)
    GraftSegmentSource.lastScanEvent = None
    assert(spark.read.format(Fmt).load(dir).filter(col("id") === 7).count() == 1)
    val (p1, t1) = GraftSegmentSource.lastScanEvent.get
    assert(p1 < t1, "zone maps must still prune after a rename")

    // guard while the layout is LIVE: a clustering column cannot be
    // dropped (the un-clustered append below drops the layout)
    intercept[IllegalArgumentException] { SegmentLog.dropColumn(fs, dir, "id") }

    // append WITH the new name: lands under the frozen physical name
    Seq((100L, 200L, "t1")).toDF("id", "score", "tag")
      .write.format(Fmt).mode("append").save(dir)
    assert(spark.read.format(Fmt).load(dir).filter(col("id") === 100).head().getLong(1) == 200L)

    // DROP tag: metadata-only; old segments' tag bytes are skipped,
    // every other column decodes intact
    SegmentLog.dropColumn(fs, dir, "tag")
    val afterDrop = spark.read.format(Fmt).load(dir)
    assert(afterDrop.schema.fieldNames.toSeq == Seq("id", "score"))
    assert(afterDrop.count() == 101)
    assert(afterDrop.agg(sum("score")).head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum + 200L)

    // RE-ADD tag: a fresh physical name (the dead one is retired), old
    // rows null-backfill, new writes carry values
    SegmentLog.addColumn(fs, dir,
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))
    val m2 = SegmentLog.read(fs, dir).get
    assert(m2.retiredSchema.fieldNames.toSeq == Seq("tag"))
    assert(m2.physicalOf("tag") != "tag", "re-added column must not reuse the dead physical name")
    Seq((101L, 202L, "fresh")).toDF("id", "score", "tag")
      .write.format(Fmt).mode("append").save(dir)
    val rows = spark.read.format(Fmt).load(dir).orderBy("id").collect()
    assert(rows.length == 102)
    assert(rows.take(101).forall(_.isNullAt(2)), "pre-re-add rows null-backfill tag")
    assert(rows.last.getString(2) == "fresh")

    // time travel serves old DATA under the CURRENT logical schema
    // (physical names are frozen, so the translation is well-defined):
    // v0's `v` bytes read as `score`; v0's dropped-then-readded `tag`
    // physical is retired, so it reads as null
    val tt = spark.read.format(Fmt).option("versionAsOf", "0").load(dir)
    assert(tt.schema.fieldNames.toSeq == Seq("id", "score", "tag"))
    assert(tt.count() == 100)
    assert(tt.agg(sum("score")).head().getLong(0) == (0L until 100L).map(_ * 2).sum)
    assert(tt.select("tag").collect().forall(_.isNullAt(0)))

    // guard: rename onto an occupied name
    intercept[IllegalArgumentException] { SegmentLog.renameColumn(fs, dir, "score", "id") }
  }

  test("ALTER TABLE RENAME/DROP/ADD COLUMN through the SQL catalog") {
    val wh = tmp("graft-colmap-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='2')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 100), (2, 200)")
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN cents TO price_cents")
      spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN note STRING")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 300, 'n3')")
      val got = spark.sql(s"SELECT k, price_cents, note FROM $cat.db.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
      assert(got == Seq((1L, 100L, None), (2L, 200L, None), (3L, 300L, Some("n3"))))
      spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN note")
      assert(spark.sql(s"SELECT * FROM $cat.db.t").schema.fieldNames.toSeq ==
        Seq("k", "price_cents"))
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN price_cents TYPE INT")
      }
      assert(e.getMessage.contains("RENAME/DROP/ADD") || e.getMessage != null)
    }
  }

  test("per-segment blooms prune point lookups on unclustered columns; hash contract holds per type") {
    val dir = tmp("graft-seg-bloom")
    import spark.implicits._
    // v is SCATTERED relative to the id clustering: every segment's
    // (min, max) spans nearly the full v domain, so zone maps prune
    // nothing — exactly the shape blooms exist for
    spark.range(0, 4000).select(col("id"),
        ((col("id") * 7919) % 100000).as("v"),
        concat(lit("u"), (col("id") * 131) % 10000).as("name"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "16")
      .option("bloomFor", "v,name")
      .mode("append").save(dir)

    // present value: found (blooms have no false negatives)
    val hit = (513L * 7919) % 100000
    GraftSegmentSource.lastScanEvent = None
    val rows = spark.read.format(Fmt).load(dir).filter(col("v") === hit).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(513L))
    val (p1, t1) = GraftSegmentSource.lastScanEvent.get
    assert(p1 < t1, s"bloom should prune segments lacking the value: $p1 of $t1")

    // absent value: zero rows, and nearly every segment pruned at the
    // driver (a couple of 1%-fpp false positives are tolerated)
    GraftSegmentSource.lastScanEvent = None
    assert(spark.read.format(Fmt).load(dir).filter(col("v") === 99999L).count() == 0)
    val (p2, t2) = GraftSegmentSource.lastScanEvent.get
    assert(p2 * 2 < t2, s"absent point lookup should prune most segments: $p2 of $t2")

    // string bloom engages through the same path (513 * 131 % 10000)
    GraftSegmentSource.lastScanEvent = None
    assert(spark.read.format(Fmt).load(dir)
      .filter(col("name") === "u7203").count() == 1)
    val (p3, t3) = GraftSegmentSource.lastScanEvent.get
    assert(p3 < t3, s"string bloom should prune: $p3 of $t3")
  }

  test("startingOffsets=latest: only appends after query start flow; earliest is the default") {
    val dir = tmp("graft-seg-latest")
    val ckpt = tmp("graft-seg-latest-ckpt")
    val outDir = tmp("graft-seg-latest-out")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    def drain(opts: Map[String, String]): Unit = {
      var r = spark.readStream.format(Fmt)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(dir).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    put(0 until 10) // pre-existing data the latest-stream must SKIP
    drain(Map("startingOffsets" -> "latest"))
    assert(spark.read.parquet(outDir).count() == 0,
      "latest skips the starting snapshot")
    put(10 until 20) // lands after the checkpointed start
    drain(Map("startingOffsets" -> "latest"))
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      (10L until 20L), "appends after start flow exactly once")
    // default (earliest) on a fresh checkpoint reads everything
    val ckpt2 = tmp("graft-seg-latest-ckpt2")
    val out2 = tmp("graft-seg-latest-out2")
    val q2 = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out2).count() == 20)
    // a bogus mode fails the query (async — surfaces at termination)
    val qBad = spark.readStream.format(Fmt).option("startingOffsets", "bogus").load(dir)
      .writeStream.format("noop")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.awaitTermination(60000)
    }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("earliest|latest"))
  }

  test("compact derives the output count from the manifest when num_partitions is omitted") {
    import graft.sources.segment.GraftMaintenance
    val wh = tmp("graft-autoparts-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, x BIGINT, y BIGINT)")
      (0 until 4).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.t SELECT id, id % 100, (id * 37) % 100 " +
          s"FROM range(${i * 2000}, ${i * 2000 + 2000})"))
      val dir = s"$wh/db/t"
      def manifest = SegmentLog.read(
        SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get

      // the derivation arithmetic: ceil(Σ live bytes / target), floor 1
      val m = manifest
      val total = m.segments.map(_.bytes).sum
      assert(GraftMaintenance.deriveNumPartitions(m, total + 1) == 1)
      val third = GraftMaintenance.deriveNumPartitions(m, math.max(1L, total / 3))
      assert(third == 3 || third == 4, s"ceil(B/(B/3)) ∈ {3,4}, got $third")

      // deletion vectors scale to the LIVE fraction: compaction
      // materializes the vectors, so the output holds live rows only
      spark.sql(s"CALL $cat.system.delete_mark('db.t', 'k % 2 = 0')").collect()
      val m2 = manifest
      assert(m2.segments.map(_.dvRows).sum > 0, "dvs in place")
      val t8 = math.max(1L, total / 8)
      assert(GraftMaintenance.deriveNumPartitions(m2, t8) <=
        GraftMaintenance.deriveNumPartitions(m, t8) / 2 + 1,
        "half the live rows must derive about half the partitions")

      // the SQL face: num_partitions omitted → derived (a small table
      // lands on 1 segment at the 128 MiB default); zorder shares it
      val c = spark.sql(s"CALL $cat.system.compact('db.t', 'k')").collect()(0)
      assert(c.getInt(1) == 1, s"derived compact output, got ${c.getInt(1)}")
      val z = spark.sql(s"CALL $cat.system.zorder('db.t', 'x,y')").collect()(0)
      assert(z.getInt(1) == 1, s"derived zorder output, got ${z.getInt(1)}")
      // the rewrite is still the same data
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").collect()(0).getLong(0) == 4000L)
    }
  }

  test("CALL procedures: the whole maintenance lifecycle without leaving SQL") {
    val wh = tmp("graft-proc-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, x BIGINT, y BIGINT)")
      (0 until 4).foreach(i => spark.sql(
        s"INSERT INTO $cat.db.t SELECT id, id % 100, (id * 37) % 100 " +
          s"FROM range(${i * 1000}, ${i * 1000 + 1000})"))

      val c = spark.sql(s"CALL $cat.system.compact('db.t', 'k', 2)").collect()(0)
      assert(c.getInt(0) >= 4 && c.getInt(1) <= 2, s"compact ${c.getInt(0)} → ${c.getInt(1)}")

      val z = spark.sql(s"CALL $cat.system.zorder('db.t', 'x,y', 4)").collect()(0)
      assert(z.getInt(0) <= 2 && z.getInt(1) >= 2)

      val h = spark.sql(s"CALL $cat.system.history('db.t')")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(h.map(_._2) == Seq("create", "append", "append", "append", "append",
        "compact", "compact"), s"got $h")

      val e = spark.sql(s"CALL $cat.system.expire('db.t', 1)").collect()(0)
      assert(e.getInt(0) == 6, s"6 old versions expired, got ${e.getInt(0)}")
      val v = spark.sql(s"CALL $cat.system.vacuum('db.t', 0L)").collect()(0)
      assert(v.getInt(0) > 0, "pre-rewrite files reclaimed")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 4000)

      intercept[Exception] { spark.sql(s"CALL $cat.system.nonsense('db.t')") }

      // rewrite-path DELETE through CALL, and late bloom declaration
      // through SET TBLPROPERTIES
      val del = spark.sql(s"CALL $cat.system.delete_where('db.t', 'k % 2 = 0')").collect()(0)
      assert(del.getLong(0) == 2000)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 2000)
      // deletion-vector DELETE through CALL: rows marked, files untouched
      val dvDel = spark.sql(s"CALL $cat.system.delete_mark('db.t', 'k % 3 = 0')").collect()(0)
      assert(dvDel.getLong(0) > 0)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) ==
        2000 - dvDel.getLong(0))
      // DESCRIBE DETAIL through CALL shows the dv state and live totals
      val det = spark.sql(s"CALL $cat.system.detail('db.t')").collect()(0)
      assert(det.getAs[Long]("n_rows") == 2000 - dvDel.getLong(0))
      assert(det.getAs[Long]("n_dv_rows") == dvDel.getLong(0))
      // materialize the vectors through CALL, detail goes clean again
      val cd = spark.sql(s"CALL $cat.system.compact_deletes('db.t')").collect()(0)
      assert(cd.getAs[Long]("dv_rows_dropped") == dvDel.getLong(0))
      val det2 = spark.sql(s"CALL $cat.system.detail('db.t')").collect()(0)
      assert(det2.getAs[Long]("n_dv_segments") == 0L)
      assert(det2.getAs[Long]("n_rows") == 2000 - dvDel.getLong(0))
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('bloomFor'='y')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (9999, 1, 2)")
      val fsp = SegmentLog.fs(wh, spark.sessionState.newHadoopConf())
      val mp = SegmentLog.read(fsp, s"$wh/db/t").get
      assert(mp.props("bloomFor") == "y")
      assert(mp.segments.maxBy(_.id).stats("y").bloom.isDefined,
        "the post-declaration INSERT must build the bloom")
      spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('bloomFor')")
      assert(!SegmentLog.read(fsp, s"$wh/db/t").get.props.contains("bloomFor"))
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('bloomFor'='nope')")
      }
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('whatever'='x')")
      }
    }
  }

  test("rollback restores a prior version's state wholesale; history stays forward") {
    val dir = tmp("graft-seg-rollback")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    put(0 until 10) // v0, id 0
    put(10 until 20) // v1, id 1
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir,
      col("id") >= 15) // v2: DV-marked DELETE
    assert(spark.read.format(Fmt).load(dir).count() == 15)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val (v, nSeg, nRows) = graft.sources.segment.GraftMaintenance.rollback(spark, dir, 1L)
    assert((v, nSeg, nRows) == ((3L, 2, 20L)), s"got ($v, $nSeg, $nRows)")
    // latest replays v1: the delete undone, no data file touched
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq ==
      (0L until 20L))
    // history stays FORWARD: the rolled-back snapshot is still reachable
    assert(spark.read.format(Fmt).option("versionAsOf", "2").load(dir).count() == 15)
    val m = SegmentLog.read(fs, dir).get
    assert(m.version == 3 && m.maxSegmentId == 1, "ids are never reused")
    assert(m.truncateVersion == 3 && m.truncateWatermark == 1,
      "a visibility-changing restore is a data-changing truncate to streams")
    // restoring the present is a no-op (no new commit)
    assert(SegmentLog.rollback(fs, dir, 3L) == 3L)
    assert(SegmentLog.latestVersion(fs, dir) == 3L)
    // post-rollback appends take FRESH ids above the preserved high-water mark
    put(20 until 30) // v4
    assert(SegmentLog.read(fs, dir).get.segments.map(_.id).max == 2L)
    // out-of-range targets fail loudly
    val e = intercept[IllegalArgumentException] { SegmentLog.rollback(fs, dir, 99L) }
    assert(e.getMessage.contains("out of range"))
    // a rollback TARGET that was expired fails loudly, naming the boundary
    graft.sources.segment.GraftMaintenance.expire(spark, dir, 2) // keeps v3, v4
    val e2 = intercept[Exception] { SegmentLog.rollback(fs, dir, 0L) }
    assert(e2.getMessage.contains("expired") || e2.getMessage.contains("manifest"),
      s"got: ${e2.getMessage}")
  }

  test("rollback is a data-changing truncate to running streams; restart recovers") {
    val dir = tmp("graft-seg-rbstream")
    val ckpt = tmp("graft-seg-rbstream-ckpt")
    val outDir = tmp("graft-seg-rbstream-out")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def drain(ck: String, out: String): Option[Throwable] = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    put(0 until 10); put(10 until 20) // v0, v1
    assert(drain(ckpt, outDir).isEmpty)
    assert(spark.read.parquet(outDir).count() == 20)
    // the stream DELIVERED ids rolled back below the new watermark —
    // resuming must fail fast, not pretend those rows still exist
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    assert(SegmentLog.rollback(fs, dir, 0L) == 2L)
    put(20 until 30) // v3: a next batch to trip on
    val err = drain(ckpt, outDir)
    assert(err.isDefined, "resuming across a rollback must fail the stream")
    // a FRESH stream acknowledges the restore and reads the live state
    val ckpt2 = tmp("graft-seg-rbstream-ckpt2")
    val out2 = tmp("graft-seg-rbstream-out2")
    assert(drain(ckpt2, out2).isEmpty)
    assert(spark.read.parquet(out2).as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ (20L until 30L)))
  }

  test("rollback across a rename restores the old schema AND its column mapping") {
    val dir = tmp("graft-seg-rbrename")
    import spark.implicits._
    (0L until 10L).map(i => (i, i * 3)).toDF("id", "v")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v0
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    SegmentLog.renameColumn(fs, dir, "v", "w") // v1: metadata-only
    assert(spark.read.format(Fmt).load(dir).columns.toSeq == Seq("id", "w"))
    assert(SegmentLog.rollback(fs, dir, 0L) == 2L)
    val m = SegmentLog.read(fs, dir).get
    assert(m.truncateVersion == -1L,
      "a pure metadata rollback must not truncate running streams")
    // the restored logical name still maps to the frozen physical bytes
    assert(spark.read.format(Fmt).load(dir).select("id", "v")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      (0L until 10L).map(i => (i, i * 3)))
  }

  test("change feed across a rollback emits the resurrections, not silence") {
    val dir = tmp("graft-seg-rbcdc")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def feed(from: Long, to: Long): Seq[(Long, String, Long)] =
      graft.sources.segment.GraftMaintenance.changes(spark, dir, from, to)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    put(0 until 10) // v0, id 0
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir,
      col("id") >= 5) // v1: dv {5..9}
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    // DV SHRINK: rollback to v0 resurrects 5..9 — the feed must say so
    assert(SegmentLog.rollback(fs, dir, 0L) == 2L)
    assert(feed(1, 2) == (5L until 10L).map(i => (i, "insert", 2L)))
    // and the whole range still reconstructs the table: v0 inserts,
    // v1 dv-delta deletes, v2 dv-delta inserts
    assert(feed(-1, 2) == ((0L until 10L).map(i => (i, "insert", 0L)) ++
      (5L until 10L).map(i => (i, "delete", 1L)) ++
      (5L until 10L).map(i => (i, "insert", 2L))).sorted)
    // RE-APPEARING dataChange=false segment: compact (v3), rewrite-path
    // DELETE replaces the compaction output (v4), rollback to v3 (v5)
    // — the restored segment carries an OLD id, so its rows re-enter
    // the feed even though the segment is dataChange=false
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3
    graft.sources.segment.GraftMaintenance.deleteRows(spark, dir,
      col("id") < 8) // v4: copy-on-write rewrite, only 8,9 remain
    assert(spark.read.format(Fmt).load(dir).count() == 2)
    assert(SegmentLog.rollback(fs, dir, 3L) == 5L)
    assert(spark.read.format(Fmt).load(dir).count() == 10)
    val rb = feed(4, 5)
    assert(rb.filter(_._2 == "insert").map(_._1) == (0L until 10L),
      s"the restored dc=false segment's rows must re-enter the feed: $rb")
    assert(rb.filter(_._2 == "delete").map(_._1) == Seq(8L, 9L),
      "the rolled-back rewrite's survivors leave honestly")
    // the common merge-on-read delete still plans NO resurrection scan
    val grow = graft.sources.segment.GraftChangeFeed.changedSegments(
      fs, dir, SegmentLog.read(fs, dir).get, 0L, 1L)
    assert(grow.map(_.changeType) == Seq("delete"))
  }

  test("double rollback restoring a DISJOINT deletion vector: both feed directions emit") {
    // a cardinality gate would be unsound here: the restored vector
    // is disjoint from (and larger than) the current one, so ONE
    // version step both deletes rows and resurrects others
    val dir = tmp("graft-seg-rbdisj")
    import spark.implicits._
    (0L until 10L).toDF("id").coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir) // v0
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir,
      col("id") < 5) // v1: dv {0..4}
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    assert(SegmentLog.rollback(fs, dir, 0L) == 2L) // v2: dv None
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir,
      col("id") >= 7) // v3: dv {7,8,9} — disjoint from v1's, smaller
    assert(SegmentLog.rollback(fs, dir, 1L) == 4L) // v4: dv {0..4} again
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq ==
      (5L until 10L))
    // the v3→v4 step must say BOTH things: {0..4} died, {7,8,9} revived
    val step = graft.sources.segment.GraftMaintenance.changes(spark, dir, 3, 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(step == ((0L until 5L).map(i => (i, "delete")) ++
      Seq(7L, 8L, 9L).map(i => (i, "insert"))).sorted, s"got $step")
    // and the cumulative feed still reconstructs the live table
    val net = graft.sources.segment.GraftMaintenance.changes(spark, dir, -1, 4)
      .groupBy(col("id"))
      .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
      .where(col("n") > 0).select(col("id")).as[Long].collect().sorted.toSeq
    assert(net == (5L until 10L))
    // DESCRIBE HISTORY classifies the disjoint-restore commit too
    val kinds = graft.sources.segment.GraftMaintenance.historyRows(spark, dir)
      .map(_._2)
    assert(kinds == Seq("append", "replace", "restore", "replace", "restore"),
      s"got $kinds")
  }

  test("CALL rollback / rollback_to_timestamp: RESTORE without leaving SQL") {
    val wh = tmp("graft-rb-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT)") // v0
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 2 FROM range(0, 100)") // v1
      val fs = SegmentLog.fs(wh, spark.sessionState.newHadoopConf())
      val ts1 = SegmentLog.read(fs, s"$wh/db/t").get.ts
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 2 FROM range(100, 150)") // v2
      spark.sql(s"DELETE FROM $cat.db.t WHERE k < 100") // v3
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 50)
      // RESTORE to the pre-delete version by number
      val r = spark.sql(s"CALL $cat.system.rollback('db.t', 2)").collect()(0)
      assert(r.getAs[Long]("restored_version") == 2L)
      assert(r.getAs[Long]("new_version") == 4L)
      assert(r.getAs[Long]("n_rows") == 150L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 150)
      // then "undo everything since t": binds to v1's stamp and restores it
      val rt = spark.sql(
        s"CALL $cat.system.rollback_to_timestamp('db.t', ${ts1}L)").collect()(0)
      assert(rt.getAs[Long]("restored_version") == 1L)
      assert(rt.getAs[Long]("new_version") == 5L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 100)
      // the lifecycle composes: history classifies the first restore
      // (old segment id re-appears) as `restore`; the second only drops
      // the v2 append, which is indistinguishable from a replace
      val kinds = spark.sql(s"CALL $cat.system.history('db.t')")
        .collect().map(_.getString(1)).toSeq
      assert(kinds == Seq("create", "append", "append", "replace",
        "restore", "replace"), s"got $kinds")
    }
  }

  test("TBLPROPERTIES bloomFor: plain INSERTs build blooms without restating options") {
    val wh = tmp("graft-bloomprop-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='8', 'bloomFor'='v')")
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT id, (id * 7919) % 100000 FROM range(0, 2000)")
      val fs = SegmentLog.fs(wh, spark.sessionState.newHadoopConf())
      val m = SegmentLog.read(fs, s"$wh/db/t").get
      assert(m.props.get("bloomFor").contains("v"))
      assert(m.segments.forall(_.stats("v").bloom.isDefined),
        "every INSERT's segments must carry the declared bloom")
      // and the bloom engages: a point lookup on the unclustered column
      GraftSegmentSource.lastScanEvent = None
      assert(spark.sql(s"SELECT k FROM $cat.db.t WHERE v = ${513L * 7919 % 100000}")
        .collect().map(_.getLong(0)).toSeq == Seq(513L))
      val (p, t) = GraftSegmentSource.lastScanEvent.get
      assert(p < t, s"declared bloom should prune: $p of $t")
    }
  }

  test("declared blooms follow renames and drops; explicit options override per write") {
    val dir = tmp("graft-seg-bloomren")
    import spark.implicits._
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    // declare via the creating write's option, persisted as a property
    // by the catalog path — here set the property directly through a
    // catalog-created table to exercise the full chain
    val wh = tmp("graft-seg-bloomren-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('bloomFor'='v')")
      val tdir = s"$wh/db/t"
      val tfs = SegmentLog.fs(tdir, spark.sessionState.newHadoopConf())
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10)")
      // RENAME: the declared bloom column follows, and the next INSERT
      // still builds blooms (under the frozen physical stats key)
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN v TO w")
      assert(SegmentLog.read(tfs, tdir).get.props("bloomFor") == "w")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 20)")
      val m = SegmentLog.read(tfs, tdir).get
      assert(m.segments.forall(s =>
        s.stats.exists { case (n, cs) => cs.bloom.isDefined }),
        "blooms must keep being built after the rename")
      // DROP: the stale declaration is removed, never re-attaching to a
      // later re-added column of the same name
      spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN w")
      assert(!SegmentLog.read(tfs, tdir).get.props.contains("bloomFor"))

      // explicit off-switch for one write: bloomFor="" beats the property
      Seq((1L, 10L)).toDF("k", "v").write.format(Fmt)
        .option("bloomFor", "v").mode("append").save(dir)
      Seq((2L, 20L)).toDF("k", "v").write.format(Fmt)
        .option("bloomFor", "").mode("append").save(dir)
      val segs = SegmentLog.read(fs, dir).get.segments.sortBy(_.id)
      assert(segs.head.stats("v").bloom.isDefined)
      assert(segs.last.stats("v").bloom.isEmpty,
        "an explicit empty bloomFor must disable blooms for that write")
    }
  }

  test("bloom hash contract: write-side row hashing equals literal-side hashing, per type") {
    import graft.sources.segment.SegmentBloom
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // a silent write/literal hash mismatch would DISABLE pruning
    // without failing any query — certify equality directly
    def rowOf(v: Any): org.apache.spark.sql.catalyst.InternalRow =
      new GenericInternalRow(Array[Any](v))
    val cases: Seq[(DataType, Any, Any)] = Seq(
      (IntegerType, 42, 42),
      (LongType, 42L, 42L),
      (DateType, 19000, java.time.LocalDate.ofEpochDay(19000)),
      (TimestampType, 1700000000123456L,
        java.time.Instant.ofEpochSecond(1700000000L, 123456000L)),
      (TimestampNTZType,
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 678000000)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 678000L,
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 678000000)),
      (StringType, UTF8String.fromString("héllo✓"), "héllo✓"))
    cases.foreach { case (dt, rowVal, lit) =>
      val rh = SegmentBloom.hashRow(dt, rowOf(rowVal), 0)
      val lh = SegmentBloom.hashValue(dt, lit)
      assert(lh.contains(rh), s"$dt: row hash $rh vs literal hash $lh")
    }
    // java.sql mirror types agree too
    assert(SegmentBloom.hashValue(DateType, java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(19000).toString)) ==
      SegmentBloom.hashValue(DateType, java.time.LocalDate.ofEpochDay(19000)))
  }

  test("z-order compaction makes zone maps selective on BOTH dimensions") {
    val dir = tmp("graft-seg-zorder")
    import spark.implicits._
    // x and y are independent — lexicographic clustering by x leaves
    // every segment spanning the full y range
    spark.range(0, 10000).select(
        (col("id") % 100).as("x"), ((col("id") * 37) % 100).as("y"), col("id").as("v"))
      .write.format(Fmt)
      .option("clusterBy", "x").option("numPartitions", "16")
      .mode("append").save(dir)

    GraftSegmentSource.lastScanEvent = None
    spark.read.format(Fmt).load(dir).filter(col("y").between(10, 19)).count()
    val (py0, ty0) = GraftSegmentSource.lastScanEvent.get
    assert(py0 * 2 > ty0, s"x-clustered layout should barely prune on y: $py0 of $ty0")

    val (before, after) = graft.sources.segment.GraftMaintenance
      .compactZOrder(spark, dir, Seq("x", "y"), numPartitions = 16)
    assert(before == 16 && after >= 8, s"z rewrite $before → $after")

    // both single-dimension range predicates now prune whole segments
    GraftSegmentSource.lastScanEvent = None
    val nx = spark.read.format(Fmt).load(dir).filter(col("x").between(10, 19)).count()
    val (px, tx) = GraftSegmentSource.lastScanEvent.get
    GraftSegmentSource.lastScanEvent = None
    val ny = spark.read.format(Fmt).load(dir).filter(col("y").between(10, 19)).count()
    val (py, ty) = GraftSegmentSource.lastScanEvent.get
    assert(nx == 1000 && ny == 1000, "pruning must not change answers")
    assert(px * 2 <= tx, s"z-order should prune on x: $px of $tx")
    assert(py * 2 <= ty, s"z-order should prune on y: $py of $ty")

    // dataChange=false: a z-rewrite is invisible to the change feed
    val feed = graft.sources.segment.GraftMaintenance
      .changes(spark, dir, 0).filter(col("_commit_version") === 1).count()
    assert(feed == 0, "z-order compaction must contribute nothing to the feed")

    // DATE/TIMESTAMP z-order columns go through unix_date/unix_micros:
    // Spark 4's default ANSI mode refuses the direct DOUBLE cast, so a
    // naive cast would crash this exact call
    val dir2 = tmp("graft-seg-zorder-date")
    spark.range(0, 1000).select(
        date_add(lit("2024-01-01").cast("date"), (col("id") % 60).cast("int")).as("d"),
        ((col("id") * 37) % 100).as("y"), col("id").as("v"))
      .write.format(Fmt).option("clusterBy", "v").option("numPartitions", "8")
      .mode("append").save(dir2)
    val (b2, a2) = graft.sources.segment.GraftMaintenance
      .compactZOrder(spark, dir2, Seq("d", "y"), numPartitions = 8)
    assert(b2 == 8 && a2 >= 4)
    assert(spark.read.format(Fmt).load(dir2)
      .filter(col("d") === lit("2024-01-15").cast("date")).count() ==
      (0 until 1000).count(i => i % 60 == 14))
    // non-numeric z column refused loudly; missing table errors
    intercept[IllegalArgumentException] {
      graft.sources.segment.GraftMaintenance.compactZOrder(spark, dir2, Seq("d", "nope"), 4)
    }
    intercept[IllegalArgumentException] {
      graft.sources.segment.GraftMaintenance.compactZOrder(spark, tmp("no-table"), Seq("a", "b"), 4)
    }
  }

  test("truncate detection is VERSION-based: watermark ties cannot hide deletions") {
    val dir = tmp("graft-seg-twtie")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    put(0 until 10); put(10 until 20); put(20 until 30) // v0..v2, ids 0..2
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
    // metadata-only DELETE allocates NO ids: truncateWatermark ties at
    // the pre-delete max, and only the truncate VERSION reveals it
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 20L))) // v3
    val m = SegmentLog.read(fs, dir).get
    assert(m.truncateWatermark == m.maxSegmentId, "the tie under test")
    assert(m.truncateVersion == 3)
    // an id-based guard would pass tw <= base.maxId and silently hide
    // the deletion; the version guard fails fast
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("sinceVersion", "0").load(dir).collect()
    }
    assert(e.getMessage.contains("append"))
    // from AFTER the truncate, increments work again
    put(30 until 40) // v4
    assert(spark.read.format(Fmt).option("sinceVersion", "3").load(dir)
      .as[Long].collect().sorted.toSeq == (30L until 40L))
  }

  test("a SECOND metadata-only delete under a running stream fails fast (version ack)") {
    val dir = tmp("graft-seg-twtie2")
    val ckpt = tmp("graft-seg-twtie2-ckpt")
    val outDir = tmp("graft-seg-twtie2-out")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def drain(): Option[Throwable] = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    put(0 until 10); put(10 until 20); put(20 until 30)
    def table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 20L)))
    // fresh stream acknowledges the first delete's truncate version
    assert(drain().isEmpty)
    assert(spark.read.parquet(outDir).count() == 20)
    // a SECOND delete allocates no ids either — the watermark does not
    // move, only the version does; the running stream must fail, not
    // classify the newly-dead ids as a pre-stream generation
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L)))
    put(40 until 50) // give the stream a next batch to trip on
    val err = drain()
    assert(err.isDefined, "second delete under the stream must fail it")
    assert(err.exists(e =>
      (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("under this running stream")))
  }

  test("two compactions between incremental reads neither fail nor duplicate") {
    val dir = tmp("graft-seg-dblcompact")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    put(0 until 10) // v0 = the base version
    put(10 until 20) // v1
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v2
    // the second compaction replaces the FIRST compaction's own
    // dataChange=false output — historical dc=false entries must be
    // skipped, not reported as expired history
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3
    val inc = spark.read.format(Fmt).option("sinceVersion", "0").load(dir)
      .as[Long].collect().sorted.toSeq
    assert(inc == (10L until 20L), s"increment must be exactly the post-base rows, got ${inc.size}")
  }

  test("a multi-change ALTER TABLE lands whole or not at all") {
    val wh = tmp("graft-atomicddl-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT)")
      // second column collides → the whole statement must abort with the
      // first column NOT added (one manifest commit per statement)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (extra BIGINT, v BIGINT)")
      }
      assert(spark.sql(s"SELECT * FROM $cat.db.t").schema.fieldNames.toSeq ==
        Seq("k", "v"), "failed multi-change DDL must leave the table untouched")
    }
  }

  test("streaming change feed: version offsets resume exactly-once; compaction stays invisible") {
    val dir = tmp("graft-seg-cdfstream")
    val ckpt = tmp("graft-seg-cdfstream-ckpt")
    val outDir = tmp("graft-seg-cdfstream-out")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    put(0 until 10) // v0
    put(10 until 20) // v1
    drain()
    def feed() = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(feed() == ((0L until 20L).map(i => (i, "insert", if (i < 10) 0L else 1L))).sorted)

    // new commits stream in as their version's delta; the compaction
    // version contributes nothing; restart replays nothing
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    new graft.sources.segment.GraftSegmentTable(dir, SegmentLog.read(fs, dir).get.schema)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L))) // v2: delete seg 1
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3: silent
    put(20 until 25) // v4
    drain()
    val want = ((0L until 20L).map(i => (i, "insert", if (i < 10) 0L else 1L)) ++
      (10L until 20L).map(i => (i, "delete", 2L)) ++
      (20L until 25L).map(i => (i, "insert", 4L))).sorted
    assert(feed() == want, "incremental feed must append exactly the new versions' changes")

    // the batch CDF face over the same range agrees
    val batch = spark.read.format(Fmt)
      .option("readChangeFeed", "true").option("startingVersion", "0").load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(batch == want)
  }

  test("metadata-only DELETE then compact: streams still deliver every surviving row") {
    val dir = tmp("graft-seg-delcompact")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def drainTo(out: String, cp: String): Unit = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    def table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)

    put(0 until 10) // v0, id 0
    put(10 until 20) // v1, id 1
    // the DELETE drops id 1 but raises the truncate watermark over the
    // KEPT id 0 too; the compact then moves id 0 out of the live
    // manifest — id 0 is now absent AND at/below the watermark, yet its
    // rows survive in the table
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L))) // v2
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v3
    val out1 = tmp("graft-seg-delcompact-out1")
    val cp1 = tmp("graft-seg-delcompact-cp1")
    drainTo(out1, cp1)
    assert(spark.read.parquet(out1).as[Long].collect().sorted.toSeq == (0L until 10L),
      "a fresh stream after delete-then-compact must deliver the kept rows " +
        "(a blanket skip of absent ids at/below the watermark emits nothing)")

    // the SAME stream keeps exactly-once across further appends and
    // compactions: no re-delivery of the snapshot, no loss of the tail
    put(20 until 30) // v4, id 3
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // v5
    drainTo(out1, cp1)
    val all = spark.read.parquet(out1).as[Long].collect().sorted.toSeq
    assert(all == ((0L until 10L) ++ (20L until 30L)),
      s"exactly-once across delete+compact history, got ${all.size} rows")

    // a DELETE that provably matches nothing is a NO-OP (no truncate
    // commit — a running stream must survive it untouched)
    val dir2 = tmp("graft-seg-delcompact2")
    (0L until 10L).toDF("id").coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir2) // v0, id 0
    graft.sources.segment.GraftMaintenance.compact(spark, dir2, "id", 1) // v1, id 1
    val fs2 = SegmentLog.fs(dir2, spark.sessionState.newHadoopConf())
    def table2 = new graft.sources.segment.GraftSegmentTable(dir2,
      SegmentLog.read(fs2, dir2).get.schema)
    table2.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 1000L))) // matches nothing
    assert(SegmentLog.read(fs2, dir2).get.version == 1,
      "a provably-no-match DELETE must not commit a truncate")
    // a DELETE that drops a LATER segment raises the watermark over the
    // kept carrier: the dataChange=false segment at/below the watermark
    // is the snapshot's sole carrier and must be delivered, not skipped
    // as already-consumed compaction output
    (100L until 110L).toDF("id").coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir2) // v2, id 2
    table2.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L))) // v3: drops id 2
    val m2b = SegmentLog.read(fs2, dir2).get
    assert(m2b.truncateWatermark >= 1, "the watermark covers the kept carrier")
    val out2 = tmp("graft-seg-delcompact2-out")
    val q2 = spark.readStream.format(Fmt).load(dir2)
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", tmp("graft-seg-delcompact2-cp"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out2).as[Long].collect().sorted.toSeq == (0L until 10L),
      "the kept dataChange=false carrier below the watermark IS the snapshot")

    // honesty boundary: expiring the acknowledged truncate version out
    // of the log makes the snapshot unresolvable — fail fast, never
    // silently skip
    graft.sources.segment.GraftMaintenance.compact(spark, dir2, "id", 1) // v3
    graft.sources.segment.GraftMaintenance.expire(spark, dir2, keepLast = 1)
    val q3 = spark.readStream.format(Fmt).load(dir2)
      .writeStream.format("parquet")
      .option("path", tmp("graft-seg-delcompact3-out"))
      .option("checkpointLocation", tmp("graft-seg-delcompact3-cp"))
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.awaitTermination(120000)
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("history was expired"))
  }

  test("bloomBits is validated centrally: write options get the DDL guard too") {
    import spark.implicits._
    import graft.sources.segment.SegmentBloom
    // the one guard: too small fails, non-multiples of 64 round UP
    intercept[IllegalArgumentException](SegmentBloom.validateBits(32))
    intercept[IllegalArgumentException](SegmentBloom.validateBits(0))
    assert(SegmentBloom.validateBits(64) == 64)
    assert(SegmentBloom.validateBits(100) == 128)
    assert(SegmentBloom.validateBits(8192) == 8192)
    // the write-option path used to bypass the DDL-only check: 1..63
    // allocated a ZERO-length filter and every write task died with a
    // division by zero inside SegmentBloom.put
    val dir = tmp("graft-seg-bloombits")
    val e = intercept[Exception] {
      (0L until 10L).toDF("id").write.format(Fmt)
        .option("bloomFor", "id").option("bloomBits", "32")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("bloomBits"), s"got: ${e.getMessage}")
    assert(SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).isEmpty,
      "the refused write must not commit")
    // a rounded-up request lands as whole 64-bit words in the manifest
    (0L until 10L).toDF("id").coalesce(1).write.format(Fmt)
      .option("bloomFor", "id").option("bloomBits", "100")
      .mode("append").save(dir)
    val bloom = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir)
      .get.segments.head.stats("id").bloom
    assert(bloom.isDefined, "the bloom must be built")
    assert(java.util.Base64.getDecoder.decode(bloom.get).length == 128 / 8,
      "bloomBits=100 must round up to 128 bits = 16 bytes")
  }

  test("non-positive per-trigger caps are refused, not silent stalls") {
    val dir = tmp("graft-seg-badcap")
    import spark.implicits._
    Seq(1L).toDF("id").write.format(Fmt).mode("append").save(dir)
    def failsWith(msg: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = df.writeStream.format("noop")
          .option("checkpointLocation", tmp("graft-seg-badcap-cp"))
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination(120000) finally if (q.isActive) q.stop()
      }
      assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
        .contains(msg), err.getMessage)
    }
    failsWith("maxSegmentsPerTrigger")(
      spark.readStream.format(Fmt).option("maxSegmentsPerTrigger", "0").load(dir))
    failsWith("maxVersionsPerTrigger")(
      spark.readStream.format(Fmt)
        .option("readChangeFeed", "true").option("maxVersionsPerTrigger", "-1")
        .load(dir))
  }

  test("skipChangeCommits: carrier created post-truncate/pre-init survives a later truncate") {
    val dir = tmp("graft-seg-initmax")
    import spark.implicits._
    import graft.sources.segment.{GraftMicroBatchStream, GraftOffset}
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    def table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
    put(0 until 10) // v0: seg id 0 (the snapshot rows)
    put(100 until 110) // v1: seg id 1
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 100L))) // v2: drops id 1, W=1
    graft.sources.segment.GraftMaintenance
      .compact(spark, dir, "id", 1) // v3: carrier id 2 — created AFTER the truncate
    val schema = spark.read.format(Fmt).load(dir).schema
    val stream = new GraftMicroBatchStream(dir, schema, schema,
      new graft.sources.segment.SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      None, skipChangeCommits = true)
    // init records the snapshot's EXACT high-water mark (the carrier's
    // id), not the ack-version manifest's (which predates the carrier)
    val init = stream.initialOffset().asInstanceOf[GraftOffset]
    assert(init.ack == 2 && init.initMax == 2, s"unexpected init offset $init")
    assert(GraftOffset.parse(init.json()) == init,
      "initMax must survive the checkpoint JSON roundtrip")
    // mid-stream, BEFORE the carrier is consumed: a later delete raises
    // the watermark over it
    put(200 until 210) // v4: seg id 3
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 200L))) // v5: drops id 3, W=3
    val end = stream.latestOffset(init,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[GraftOffset]
    assert(end.initMax == init.initMax, "latestOffset must carry initMax through")
    val files = stream.planInputPartitions(init, end)
      .map(_.asInstanceOf[graft.sources.segment.GraftPartition].file)
    val carrier = SegmentLog.read(fs, dir).get.segments.find(s => !s.dataChange).get
    assert(files.contains(s"$dir/${carrier.path}"),
      "the pre-init carrier is the snapshot's only holder of its rows — " +
        "skipping it (the ack-derived boundary) silently loses them")
    assert(files.size == 1, "every acknowledged-deleted id in range must skip")
  }

  test("change feed startingTimestamp binds inclusively on commit stamps") {
    val dir = tmp("graft-seg-cdfts")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    put(0 until 10) // v0
    put(10 until 20) // v1
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val ts1 = SegmentLog.read(fs, dir).get.ts
    new graft.sources.segment.GraftSegmentTable(dir, SegmentLog.read(fs, dir).get.schema)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L))) // v2: drops v1's segment
    val feed = spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("startingTimestamp", ts1.toString).load(dir)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    // changes at or after v1's stamp: v1's inserts and v2's deletes —
    // v0 predates t and is excluded
    assert(feed.toSeq ==
      ((10L until 20L).map(i => (i, "delete", 2L)) ++
        (10L until 20L).map(i => (i, "insert", 1L))).sorted)
    intercept[Exception] {
      spark.read.format(Fmt).option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("startingTimestamp", ts1.toString).load(dir).collect()
    }
  }

  test("startingTimestamp binds the stream start; exclusive with startingOffsets") {
    val dir = tmp("graft-seg-startts")
    import spark.implicits._
    (0L until 10L).toDF("id").coalesce(1)
      .write.format(Fmt).mode("append").save(dir) // v0
    (10L until 20L).toDF("id").coalesce(1)
      .write.format(Fmt).mode("append").save(dir) // v1
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val ts1 = SegmentLog.read(fs, dir).get.ts
    val out = tmp("graft-seg-startts-out")
    val q = spark.readStream.format(Fmt)
      .option("startingTimestamp", ts1.toString).load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", tmp("graft-seg-startts-cp"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq == (10L until 20L),
      "v1's own stamp must deliver exactly v1's rows (inclusive contract)")
    // a timestamp before every commit replays the whole retained table
    val out2 = tmp("graft-seg-startts-out2")
    val q2 = spark.readStream.format(Fmt)
      .option("startingTimestamp", (ts1 - 3600000).toString).load(dir)
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", tmp("graft-seg-startts-cp2"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out2).count() == 20)
    // the two start knobs contradict: refuse at build
    val qBad = spark.readStream.format(Fmt)
      .option("startingOffsets", "latest")
      .option("startingTimestamp", ts1.toString).load(dir)
      .writeStream.format("noop").start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.awaitTermination(120000)
    }
  }

  test("maxRowsPerTrigger sizes batches by live rows with the progress guarantee") {
    val dir = tmp("graft-seg-maxrows")
    import spark.implicits._
    (0 until 4).foreach(i => (i * 10 until (i + 1) * 10).map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt).mode("append").save(dir))
    val schema = spark.read.format(Fmt).load(dir).schema
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val conf = new graft.sources.segment.SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val stream = new graft.sources.segment.GraftMicroBatchStream(dir, schema, schema,
      conf, None)
    def next(limit: ReadLimit): Long =
      stream.latestOffset(graft.sources.segment.GraftOffset(0L), limit)
        .asInstanceOf[graft.sources.segment.GraftOffset].nextId
    assert(next(ReadLimit.maxRows(25L)) == 2, "two 10-row segments fit 25, a third doesn't")
    assert(next(ReadLimit.maxRows(5L)) == 1, "an over-budget FIRST segment still admits")
    assert(next(ReadLimit.maxRows(100L)) == 4)
    assert(next(ReadLimit.compositeLimit(Array(
      ReadLimit.maxRows(100L), ReadLimit.maxFiles(3)))) == 3,
      "the tighter leg of a composite wins")
    // the option seeds getDefaultReadLimit
    val s2 = new graft.sources.segment.GraftMicroBatchStream(dir, schema, schema,
      conf, None, maxRowsPerTrigger = Some(15L))
    assert(s2.latestOffset(graft.sources.segment.GraftOffset(0L), s2.getDefaultReadLimit)
      .asInstanceOf[graft.sources.segment.GraftOffset].nextId == 1)
    // byte cap: each segment's manifest bytes bound the trigger the
    // same way (2.5 segments' worth of budget admits exactly 2)
    val segBytes = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir)
      .get.segments.map(_.bytes).max
    assert(next(org.apache.spark.sql.connector.read.streaming.ReadLimit
      .maxBytes(segBytes * 5 / 2)) == 2)
    val s3 = new graft.sources.segment.GraftMicroBatchStream(dir, schema, schema,
      conf, None, maxBytesPerTrigger = Some(1L)) // under one segment: progress
    assert(s3.latestOffset(graft.sources.segment.GraftOffset(0L), s3.getDefaultReadLimit)
      .asInstanceOf[graft.sources.segment.GraftOffset].nextId == 1)
    // end-to-end: the capped stream still drains everything
    val out = tmp("graft-seg-maxrows-out")
    val q = spark.readStream.format(Fmt).option("maxRowsPerTrigger", "15")
      .option("maxBytesPerTrigger", (segBytes * 10).toString).load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", tmp("graft-seg-maxrows-cp"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == 40)
  }

  test("latestOffset honors the ReadLimit argument over the constructor option") {
    val dir = tmp("graft-seg-readlimit")
    import spark.implicits._
    (0 until 4).foreach(i => Seq(i.toLong).toDF("id").coalesce(1)
      .write.format(Fmt).mode("append").save(dir))
    val schema = spark.read.format(Fmt).load(dir).schema
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // the engine may wrap or compose what getDefaultReadLimit returned
    // (available-now, composite limits): the ARGUMENT is authoritative,
    // the constructor option only seeds the default
    val stream = new graft.sources.segment.GraftMicroBatchStream(dir, schema, schema,
      new graft.sources.segment.SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      maxSegmentsPerTrigger = Some(1))
    def next(limit: ReadLimit): Long =
      stream.latestOffset(graft.sources.segment.GraftOffset(0L), limit)
        .asInstanceOf[graft.sources.segment.GraftOffset].nextId
    assert(next(ReadLimit.maxFiles(2)) == 2L, "the passed cap wins over the option")
    assert(next(ReadLimit.allAvailable()) == 4L)
    assert(next(ReadLimit.compositeLimit(Array(
      ReadLimit.maxRows(100L), ReadLimit.maxFiles(3)))) == 3L,
      "composites take their tightest file cap")
    // same contract on the change-feed face (version units)
    val cdf = new graft.sources.segment.GraftChangeFeedStream(dir, schema,
      new graft.sources.segment.SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      startingVersion = Some(0L), maxVersionsPerTrigger = Some(1))
    def nextV(limit: ReadLimit): Long =
      cdf.latestOffset(graft.sources.segment.GraftCdfOffset(-1L), limit)
        .asInstanceOf[graft.sources.segment.GraftCdfOffset].version
    assert(nextV(ReadLimit.maxFiles(2)) == 1L)
    assert(nextV(ReadLimit.allAvailable()) == 3L)
  }

  test("DecodeCache evicts the least-recently-used entry, not the working set") {
    val c = new graft.sources.segment.DecodeCache[String](2)
    var loads = 0
    def get(k: String): String = c.getOrElseUpdate(k) { loads += 1; k.toUpperCase }
    assert(get("a") == "A" && get("b") == "B" && loads == 2)
    get("a") // refresh a's recency
    get("c") // at capacity: evicts b (LRU), never clears wholesale
    assert(loads == 3)
    get("a") // still cached
    assert(loads == 3)
    get("b") // evicted → reloads
    assert(loads == 4)
    assert(c.size == 2)
  }

  test("a null ARRAY ELEMENT is refused loudly, never silently written as 0") {
    val dir = tmp("graft-seg-nullarr")
    import spark.implicits._
    val bad = spark.range(0, 5).select(col("id"),
      array(col("id").cast("float"),
        when(col("id") === 3, lit(null).cast("float"))
          .otherwise((col("id") + 1).cast("float"))).as("vec"))
    val e = intercept[Exception] { bad.write.format(Fmt).mode("append").save(dir) }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(e).contains("densely non-null"),
      s"want the dense-non-null refusal, got: ${messages(e).take(300)}")
    // a whole-array NULL rides the column's null marker as before
    val ok = spark.range(0, 5).select(col("id"),
      when(col("id") === 3, lit(null).cast("array<float>"))
        .otherwise(array(col("id").cast("float"))).as("vec"))
    ok.write.format(Fmt).mode("overwrite").save(dir)
    val back = spark.read.format(Fmt).load(dir).orderBy("id").collect()
    assert(back(3).isNullAt(1) && back(2).getSeq[Float](1) == Seq(2f))
  }

  test("properties() reads the manifest once per table instance") {
    val dir = tmp("graft-seg-propcache")
    sample().limit(10).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val t = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
    val before = SegmentLog.manifestReads.get()
    // Spark calls properties() repeatedly during analysis: on an object
    // store each uncached call was a manifest round trip per call
    (1 to 5).foreach(_ => t.properties())
    val reads = SegmentLog.manifestReads.get() - before
    assert(reads <= 1, s"5 properties() calls cost $reads manifest reads, want <= 1")
    assert(t.properties().get("clusterBy") == "id")
  }

  test("vectorized decode covers primitive arrays; dv filtering stays columnar") {
    val dir = tmp("graft-seg-vecarr")
    import spark.implicits._
    sample().write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "2")
      .mode("append").save(dir)
    val schema = spark.read.format(Fmt).load(dir).schema
    // the columnar gate: an array-bearing projection must NOT drop the
    // scan to the row reader (the embeddings tables are exactly this)
    val factory = new graft.sources.segment.GraftReaderFactory(schema, schema,
      new graft.sources.segment.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    assert(factory.supportColumnarReads(null),
      "array<float> must have a vectorized decode path")
    // deletion vectors filter INSIDE the columnar decode loop: mark a
    // third of the rows dead, then read ids + arrays back exactly
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") % 3 === 0)
    val df = spark.read.format(Fmt).load(dir).select(col("id"), col("vec"))
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the plan must read this scan columnar")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 666)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L).filter(_ % 3 != 0))
    val r = rows.find(_.getLong(0) == 100L).get
    assert(r.getSeq[Float](1) == Seq(100f, 101f),
      "array values must decode exactly through the child-vector path")
  }

  test("deleteMark with a segment-spanning predicate aggregates bitmaps, drops dead segments") {
    val dir = tmp("graft-seg-dv-span")
    import spark.implicits._
    sample().write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "5")
      .mode("append").save(dir)
    // the predicate matches EVERY row of the low segments and most of
    // one more: the write path folds positions into per-segment
    // bitmaps (state ∝ segment rows / 8 — PosBitmap), so a ~full-
    // segment match never builds a per-row positions array; segments
    // whose every row died drop from the manifest outright
    val marked = graft.sources.segment.GraftMaintenance
      .deleteMark(spark, dir, col("id") < 777)
    assert(marked == 777)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir).get
    assert(m.segments.map(_.liveRows).sum == 223)
    assert(m.segments.size < 5, "fully-dead segments must drop, not carry empty dvs")
    assert(spark.read.format(Fmt).load(dir).select("id").as[Long]
      .collect().sorted.toSeq == (777L until 1000L))
  }

  test("deletion vectors: DELETE marks rows in bitmaps; no row data rewritten") {
    val dir = tmp("graft-seg-dv")
    import spark.implicits._
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val filesBefore = SegmentLog.read(fs, dir).get.segments.map(_.path).toSet

    // the predicate decides NO segment (every bucket holds multiples
    // of 7): the metadata-only path can't take this, the rewrite path
    // would copy 10 segments — the dv path writes 10 small bitmaps
    val marked = graft.sources.segment.GraftMaintenance
      .deleteMark(spark, dir, col("id") % 7 === 0)
    assert(marked == 143, s"ids 0,7,...,994 = 143 rows, got $marked")

    val m1 = SegmentLog.read(fs, dir).get
    assert(m1.segments.map(_.path).toSet == filesBefore,
      "merge-on-read: the segment FILES must be untouched")
    assert(m1.segments.forall(s => s.dv.isDefined && s.dvRows > 0),
      "every segment holds multiples of 7 → every segment gets a vector")
    assert(m1.segments.map(_.dvRows).sum == 143)

    val t = spark.read.format(Fmt).load(dir)
    assert(t.count() == 857)
    assert(t.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 1000L).filter(_ % 7 != 0))
    // non-id columns decode correctly through the row-path dv filter
    assert(t.filter(col("id") === 8).select("name").as[String].head() == "name-0008")

    // a second DELETE unions into fresh vectors (copy-on-write
    // sidecars: the old version keeps the old bitmap)
    val marked2 = graft.sources.segment.GraftMaintenance
      .deleteMark(spark, dir, col("id") % 11 === 0)
    assert(marked2 == 91 - 13, s"91 multiples of 11, 13 already dead (77s), got $marked2")
    assert(t.count() == 1000 - 143 - 91 + 13)
    assert(spark.read.format(Fmt).load(dir).select("id").as[Long].collect().sorted.toSeq ==
      (0L until 1000L).filter(i => i % 7 != 0 && i % 11 != 0))

    // time travel reads each version with ITS vector
    val vNow = SegmentLog.read(fs, dir).get.version
    assert(spark.read.format(Fmt).option("versionAsOf", (vNow - 2).toString)
      .load(dir).count() == 1000, "pre-delete version: all rows")
    assert(spark.read.format(Fmt).option("versionAsOf", (vNow - 1).toString)
      .load(dir).count() == 857, "first-delete version: its own vector")

    // `_pos` metadata column: physical ordinals, stable under deletes
    // (the surviving positions are exactly the not-deleted ones)
    val posOk = spark.read.format(Fmt).load(dir)
      .select(col(graft.sources.segment.GraftSegmentTable.SegmentCol),
        col(graft.sources.segment.GraftSegmentTable.PosCol))
      .distinct().count()
    assert(posOk == 779, "(_segment, _pos) must stay unique over live rows")

    // a DELETE covering every row of a segment drops the segment
    // outright instead of carrying a full bitmap
    val dir2 = tmp("graft-seg-dv-full")
    (0L until 100L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "2")
      .mode("append").save(dir2)
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir2, col("id") < 50)
    val fs2 = SegmentLog.fs(dir2, spark.sessionState.newHadoopConf())
    val m2 = SegmentLog.read(fs2, dir2).get
    assert(m2.segments.size == 1 && m2.segments.head.dv.isEmpty,
      s"fully-deleted segment must drop, got ${m2.segments}")
    assert(spark.read.format(Fmt).load(dir2).count() == 50)
  }

  test("deletion vectors: exact metadata answers account or refuse; feed and compaction stay exact") {
    val dir = tmp("graft-seg-dv2")
    import spark.implicits._
    spark.range(0, 1000).select(col("id"), (col("id") % 10).cast("int").as("bucket"))
      .write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    // delete the rows holding the global min and max: metadata MIN/MAX
    // from zone maps would name DELETED values
    graft.sources.segment.GraftMaintenance
      .deleteMark(spark, dir, col("id") === 0 || col("id") === 999)
    val vDel = SegmentLog.read(fs, dir).get.version
    val t = spark.read.format(Fmt).load(dir)

    // COUNT(*) stays metadata-only AND exact (rows − dvRows)
    val cnt = t.agg(count(lit(1)).as("n"))
    val cntLocal = cnt.queryExecution.executedPlan.toString.contains("LocalTableScan") ||
      collectFirst(cnt.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.isEmpty
    assert(cnt.head().getLong(0) == 998)
    assert(cntLocal, s"COUNT(*) must stay metadata-only:\n${cnt.queryExecution.executedPlan}")

    // MIN/MAX must fall back to a real scan — and be right
    val mm = t.agg(min(col("id")), max(col("id")))
    val mmScans = collectFirst(mm.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isDefined
    assert(mmScans, "MIN/MAX over a dv'd table must refuse the metadata answer")
    assert(mm.head().toSeq == Seq(1L, 998L))

    // the change feed emits the bitmap delta as deletes — exactly the
    // two rows, with their values
    val delta = graft.sources.segment.GraftMaintenance.changes(spark, dir, vDel - 1, vDel)
    assert(delta.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((0L, "delete"), (999L, "delete")))
    // history classifies the dv commit as a replace (rows changed)
    val kinds = graft.sources.segment.GraftMaintenance.historyRows(spark, dir)
    assert(kinds.find(_._1 == vDel).get._2 == "replace", s"got $kinds")

    // a second dv on the SAME segment feeds only the new rows
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") === 990)
    val vDel2 = SegmentLog.read(fs, dir).get.version
    val delta2 = graft.sources.segment.GraftMaintenance.changes(spark, dir, vDel2 - 1, vDel2)
    assert(delta2.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((990L, "delete")))

    // compaction materializes the vectors away: same rows, no dv, and
    // the compact step is invisible to the feed
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 2)
    val mAfter = SegmentLog.read(fs, dir).get
    assert(mAfter.segments.forall(_.dv.isEmpty), "compact must materialize vectors")
    assert(spark.read.format(Fmt).load(dir).count() == 997)
    assert(graft.sources.segment.GraftMaintenance
      .changes(spark, dir, mAfter.version - 1, mAfter.version).count() == 0)
    // vacuum now reclaims nothing (old segments + vectors still
    // referenced by retained versions) until history expires
    assert(SegmentLog.vacuum(fs, dir, retentionMs = 0) == 0)
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    assert(SegmentLog.vacuum(fs, dir, retentionMs = 0) > 0,
      "expired vectors and pre-compaction segments become vacuum fodder")
    assert(spark.read.format(Fmt).load(dir).count() == 997, "live reads unaffected")
  }

  test("deletion vectors: running streams fail fast, fresh streams read live rows") {
    val dir = tmp("graft-seg-dv3")
    val ckpt = tmp("graft-seg-dv3-ckpt")
    val outDir = tmp("graft-seg-dv3-out")
    import spark.implicits._
    def drain(cp: String, out: String): Option[Throwable] = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(120000); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
    }
    (0L until 100L).toDF("id").coalesce(1).write.format(Fmt).mode("append").save(dir)
    assert(drain(ckpt, outDir).isEmpty)
    assert(spark.read.parquet(outDir).count() == 100)

    // rows this stream already emitted just disappeared — fail fast
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") % 2 === 0)
    (100L until 110L).toDF("id").coalesce(1).write.format(Fmt).mode("append").save(dir)
    val err = drain(ckpt, outDir)
    assert(err.isDefined, "a dv DELETE under a running stream must fail it")
    assert(err.exists(e =>
      (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("under this running stream")))

    // a fresh stream adopts the current snapshot: dv-filtered rows
    val out2 = tmp("graft-seg-dv3-out2")
    assert(drain(tmp("graft-seg-dv3-ckpt2"), out2).isEmpty)
    assert(spark.read.parquet(out2).as[Long].collect().sorted.toSeq ==
      ((0L until 100L).filter(_ % 2 == 1) ++ (100L until 110L)))
  }

  test("skipChangeCommits: streams survive deletes with no duplicates ever") {
    val dir = tmp("graft-seg-skipcc")
    val ckpt = tmp("graft-seg-skipcc-ckpt")
    val outDir = tmp("graft-seg-skipcc-out")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    def drain(cp: String = ckpt, out: String = outDir): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("skipChangeCommits", "true").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    def table = new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)

    put(0 until 10) // id 0
    put(10 until 20) // id 1
    drain()
    assert(spark.read.parquet(outDir).count() == 20)

    // a mid-stream DELETE (drops the already-consumed id 1) plus a
    // compact (carrier id 2 for id 0's rows): the plain contract kills
    // the stream here; skipChangeCommits keeps flowing — and must NOT
    // re-deliver 0..9 through the mid-stream carrier
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L)))
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1)
    put(20 until 30) // id 3
    drain()
    val got1 = spark.read.parquet(outDir).as[Long].collect().sorted.toSeq
    assert(got1 == (0L until 30L), s"appends flow, no dups, got ${got1.size} rows")

    // a DELETE that removes a segment the stream has NOT consumed yet:
    // its rows are skipped (deletes reflected going forward)
    put(30 until 40) // id 4
    put(40 until 50) // id 5, deleted before consumption
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 40L)))
    drain()
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      (0L until 40L), "unconsumed-then-deleted rows are skipped, not resurrected")

    // a deletion-vector DELETE on an unconsumed segment: delivered
    // dv-filtered (forward deletes ARE reflected)
    put(50 until 60) // id 6
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") >= 52L)
    drain()
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      ((0L until 40L) ++ Seq(50L, 51L)))

    // a FRESH skipChangeCommits stream over the table's delete history
    // delivers exactly the current snapshot — including the kept
    // carrier (it predates this stream's init, so it is safe)
    val out2 = tmp("graft-seg-skipcc-out2")
    drain(tmp("graft-seg-skipcc-ckpt2"), out2)
    val snapshot = spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq
    assert(spark.read.parquet(out2).as[Long].collect().sorted.toSeq == snapshot)
    assert(snapshot == ((0L until 40L).filterNot(i => i >= 10 && i < 20) ++ Seq(50L, 51L)))
  }

  test("partial compaction: compactDeletes rewrites only dv'd segments; streams and feed unaffected") {
    val dir = tmp("graft-seg-pcompact")
    val ckpt = tmp("graft-seg-pcompact-ckpt")
    val outDir = tmp("graft-seg-pcompact-out")
    import spark.implicits._
    (0L until 400L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    // dv only the low half: 2 of 4 segments carry vectors
    graft.sources.segment.GraftMaintenance
      .deleteMark(spark, dir, col("id") < 150 && col("id") % 3 === 0)
    val m1 = SegmentLog.read(fs, dir).get
    val dvPaths = m1.segments.filter(_.dv.isDefined).map(_.path).toSet
    val coldPaths = m1.segments.filterNot(_.dv.isDefined).map(_.path).toSet
    assert(dvPaths.size == 2 && coldPaths.size == 2, s"got ${m1.segments}")

    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    drain() // fresh stream adopts the post-delete snapshot
    val expected1 = (0L until 400L).filterNot(i => i < 150 && i % 3 == 0)
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq == expected1)

    // materialize ONLY the dv'd segments; the cold half is untouched
    val (nSegs, nDvRows) = graft.sources.segment.GraftMaintenance
      .compactDeletes(spark, dir)
    assert(nSegs == 2 && nDvRows == 50, s"got ($nSegs, $nDvRows)")
    val m2 = SegmentLog.read(fs, dir).get
    assert(m2.segments.forall(_.dv.isEmpty), "vectors materialized away")
    assert(coldPaths.subsetOf(m2.segments.map(_.path).toSet),
      "untouched segments must carry over by reference")
    assert(m2.segments.map(_.path).toSet.intersect(dvPaths).isEmpty,
      "dv'd segments must be replaced")
    assert(spark.read.format(Fmt).load(dir).as[Long].collect().sorted.toSeq == expected1)
    // stat exactness restored: metadata MIN works again (and is right)
    val mm = spark.read.format(Fmt).load(dir).agg(min(col("id"))).head()
    assert(mm.getLong(0) == 1L)

    // the partial compact is a compact to history and silent to the
    // feed, and a running checkpoint sails across it
    val kinds = graft.sources.segment.GraftMaintenance.historyRows(spark, dir)
    assert(kinds.last._2 == "compact", s"got $kinds")
    assert(graft.sources.segment.GraftMaintenance
      .changes(spark, dir, m2.version - 1, m2.version).count() == 0)
    drain() // nothing new, no failure, no re-delivery
    assert(spark.read.parquet(outDir).count() == expected1.size)
    (400L until 420L).toDF("id").coalesce(1).write.format(Fmt).mode("append").save(dir)
    drain()
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      expected1 ++ (400L until 420L))

    // compactWhere: only the key range the predicate touches
    val dir2 = tmp("graft-seg-pcompact2")
    (0L until 400L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .mode("append").save(dir2)
    val (hit, total) = graft.sources.segment.GraftMaintenance.compactWhere(spark, dir2,
      org.apache.spark.sql.sources.LessThan("id", 100L))
    assert(hit == 1 && total == 4, s"one of four range segments can hold id<100, got ($hit, $total)")
    assert(spark.read.format(Fmt).load(dir2).count() == 400)
  }

  test("updateMark: merge-on-read UPDATE — old versions vanish and new versions appear in ONE version") {
    val dir = tmp("graft-seg-updmark")
    import spark.implicits._
    spark.range(0, 400).select(col("id"), (col("id") * 10).as("v"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val filesBefore = SegmentLog.read(fs, dir).get.segments.map(_.path).toSet
    val vBefore = SegmentLog.read(fs, dir).get.version

    // scattered point update: every segment holds multiples of 100
    val n = graft.sources.segment.GraftMaintenance.updateMark(spark, dir,
      col("id") % 100 === 0, Map("v" -> (col("v") + 1)))
    assert(n == 4, s"ids 0,100,200,300, got $n")
    val m1 = SegmentLog.read(fs, dir).get
    assert(m1.version == vBefore + 1, "old-version delete and new-version insert are ONE commit")
    assert(filesBefore.subsetOf(m1.segments.map(_.path).toSet),
      "merge-on-read: original segment files stay referenced (dv-patched, not rewritten)")
    val back = spark.read.format(Fmt).load(dir)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(back == (0L until 400L).map(i =>
      (i, if (i % 100 == 0) i * 10 + 1 else i * 10)))
    assert(back.size == 400, "no duplicates: each old version is dv-dead")

    // the feed shows the update at ROW granularity
    val delta = graft.sources.segment.GraftMaintenance.changes(spark, dir, vBefore, m1.version)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(delta == Seq(0L, 100L, 200L, 300L).flatMap(i =>
      Seq((i, i * 10, "delete"), (i, i * 10 + 1, "insert"))).sorted,
      s"got $delta")

    // a second update of the SAME rows unions vectors and supersedes
    // the appended versions via their own dvs
    val n2 = graft.sources.segment.GraftMaintenance.updateMark(spark, dir,
      col("id") === 100L, Map("v" -> lit(-1L)))
    assert(n2 == 1)
    assert(spark.read.format(Fmt).load(dir).filter(col("id") === 100L)
      .select("v").as[Long].collect().toSeq == Seq(-1L))
    assert(spark.read.format(Fmt).load(dir).count() == 400)

    // updating every row of a segment drops it outright
    val n3 = graft.sources.segment.GraftMaintenance.updateMark(spark, dir,
      col("id") < 100L, Map("v" -> lit(0L)))
    assert(n3 == 100)
    val m3 = SegmentLog.read(fs, dir).get
    assert(!m3.segments.map(_.path).contains(filesBefore.toSeq.sorted.head) ||
      m3.segments.count(s => filesBefore.contains(s.path)) < filesBefore.size,
      "a fully-superseded segment must drop from the manifest")
    assert(spark.read.format(Fmt).load(dir).count() == 400)

    // time travel: the pre-update version still serves the old values
    assert(spark.read.format(Fmt).option("versionAsOf", vBefore.toString).load(dir)
      .filter(col("id") === 0L).select("v").as[Long].head() == 0L)

    // assignment validation
    intercept[IllegalArgumentException] {
      graft.sources.segment.GraftMaintenance.updateMark(spark, dir,
        col("id") === 1L, Map("nope" -> lit(1L)))
    }
  }

  test("rowLevelMode=mor: SQL DELETE/UPDATE/MERGE run merge-on-read through deletion vectors") {
    val wh = tmp("graft-mor-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('rowLevelMode'='mor', 'clusterBy'='k', 'numPartitions'='4')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 10 FROM range(0, 400)")
      val dir = s"$wh/db/t"
      val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
      val filesBefore = SegmentLog.read(fs, dir).get.segments.map(_.path).toSet
      assert(SegmentLog.read(fs, dir).get.bucketing.isDefined, "declared range layout")

      // DELETE with a predicate zone maps cannot decide: merge-on-read —
      // no segment file rewritten, positions land in vectors, and the
      // declared layout SURVIVES (no rows moved, nothing appended)
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 3")
      val m1 = SegmentLog.read(fs, dir).get
      assert(m1.segments.map(_.path).toSet == filesBefore,
        "MoR DELETE must not rewrite segment files")
      assert(m1.segments.map(_.dvRows).sum == 40)
      assert(m1.bucketing.isDefined, "a pure MoR DELETE preserves the declared layout")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 360)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k % 10 = 3")
        .head().getLong(0) == 0)

      // UPDATE: old versions dv-marked, new versions appended — file set
      // grows by the appended segments only
      spark.sql(s"UPDATE $cat.db.t SET v = v + 1 WHERE k % 10 = 7")
      val m2 = SegmentLog.read(fs, dir).get
      assert(filesBefore.subsetOf(m2.segments.map(_.path).toSet),
        "MoR UPDATE keeps the original files")
      assert(m2.bucketing.isEmpty,
        "the appended new versions carry no layout label — the layout drops honestly")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 360)
      assert(spark.sql(s"SELECT sum(v) FROM $cat.db.t WHERE k % 10 = 7")
        .head().getLong(0) == (0 until 400).filter(_ % 10 == 7).map(_ * 10L + 1).sum)

      // MERGE: matched updates + unmatched inserts, all row-granular
      spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src SELECT id, -id FROM range(395, 405)")
      spark.sql(
        s"""MERGE INTO $cat.db.t t USING $cat.db.src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 365,
        "360 live + 5 inserted (400..404)")
      assert(spark.sql(s"SELECT sum(v) FROM $cat.db.t WHERE k >= 395").head().getLong(0) ==
        (395 until 405).map(-_.toLong).sum,
        "matched rows updated to -k; the dv-deleted 403 is NOT MATCHED and re-inserts")

      // final full-content check against the closed form
      val got = spark.sql(s"SELECT k, v FROM $cat.db.t ORDER BY k, v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = ((0 until 400).filterNot(_ % 10 == 3).map { k =>
        (k.toLong,
          if (k >= 395) -k.toLong
          else if (k % 10 == 7) k * 10L + 1
          else k * 10L)
      } ++ (400 until 405).map(k => (k.toLong, -k.toLong))).sortBy(identity)
      assert(got == want)

      // DML matching NOTHING is a no-op commit-wise on every tier: a
      // running stream must never die over rows that did not change
      val vQuiet = SegmentLog.read(fs, dir).get.version
      spark.sql(s"DELETE FROM $cat.db.t WHERE k > 99999")
      spark.sql(s"UPDATE $cat.db.t SET v = 0 WHERE k > 99999")
      assert(SegmentLog.read(fs, dir).get.version == vQuiet,
        "no-match MoR DML must not commit")
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('rowLevelMode'='cow')")
      spark.sql(s"UPDATE $cat.db.t SET v = 0 WHERE k > 99999")
      assert(SegmentLog.read(fs, dir).get.version == vQuiet + 1,
        "no-match CoW DML must not commit past the property change")
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('rowLevelMode'='mor')")

      // property validation
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('rowLevelMode'='nope')")
      }
      // flipping back to cow works and the next DELETE rewrites instead
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('rowLevelMode'='cow')")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 10 = 9")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 325,
        "365 - 40 rows with k%10=9")
    }
  }

  test("admission-capped streams page through delete history one id at a time") {
    val dir = tmp("graft-seg-admdel")
    import spark.implicits._
    def put(ids: Range): Unit = ids.map(_.toLong).toDF("id")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    put(0 until 10) // id 0
    put(10 until 20) // id 1 — deleted below
    put(20 until 30) // id 2
    new graft.sources.segment.GraftSegmentTable(dir,
      SegmentLog.read(fs, dir).get.schema)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L),
        org.apache.spark.sql.sources.LessThan("id", 20L)))
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "id", 1) // id 3
    // one-id batches: every classification branch gets its own trigger
    // (kept-from-ack, dead-at-ack, kept-live, post-snapshot carrier)
    val outDir = tmp("graft-seg-admdel-out")
    val q = spark.readStream.format(Fmt)
      .option("maxSegmentsPerTrigger", "1").load(dir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", tmp("graft-seg-admdel-cp"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(outDir).as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ (20L until 30L)),
      "paged resolution must deliver exactly the surviving rows once")
  }

  test("streaming change feed emits dv-delta deletes exactly once") {
    val dir = tmp("graft-seg-cdfdv")
    val ckpt = tmp("graft-seg-cdfdv-ckpt")
    val outDir = tmp("graft-seg-cdfdv-out")
    import spark.implicits._
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    (0L until 20L).toDF("id").coalesce(1).write.format(Fmt).mode("append").save(dir) // v0
    drain()
    // two successive dv deletes: each version's feed rows are its
    // bitmap DELTA, streamed one version per trigger
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") < 5) // v1
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") < 8) // v2
    drain()
    def feed() = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val want = ((0L until 20L).map(i => (i, "insert", 0L)) ++
      (0L until 5L).map(i => (i, "delete", 1L)) ++
      (5L until 8L).map(i => (i, "delete", 2L))).sorted
    assert(feed() == want, s"got ${feed()}")
    // restart replays nothing
    drain()
    assert(feed() == want)
  }

  test("column statistics for CBO: zone maps reduce to min/max/nullCount estimates") {
    val dir = tmp("graft-seg-colstats")
    sample().write.format(Fmt)
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val schema = spark.read.format(Fmt).load(dir).schema
    val builder = new graft.sources.segment.GraftScanBuilder(dir, schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    val stats = builder.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong == 1000)
    val cs = stats.columnStats()
    def of(n: String) = cs.get(org.apache.spark.sql.connector.expressions.Expressions.column(n))
    assert(of("id").min().get() == Long.box(0L) && of("id").max().get() == Long.box(999L))
    assert(of("id").nullCount().getAsLong == 0L)
    assert(of("tag").nullCount().getAsLong == 11L, "11 ids ≡ 0 (mod 97) in [0,1000)")
    assert(!of("tag").min().isPresent, "string bounds are not CBO literals")
    assert(of("score").max().get() == Double.box(999 * 2.5))
    // deletion vectors: stats stay ESTIMATES (physical bounds) — still
    // reported, never poisoned into refusal like the exact aggregates
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") === 999L)
    val builder2 = new graft.sources.segment.GraftScanBuilder(dir, schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    val stats2 = builder2.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats2.numRows().getAsLong == 999, "numRows is live")
    assert(stats2.columnStats()
      .get(org.apache.spark.sql.connector.expressions.Expressions.column("id"))
      .max().get() == Long.box(999L), "bounds stay physical (an over-estimate)")
  }

  test("NDV statistics: declared KMV sketches merge to distinctCount across appends") {
    val dir = tmp("graft-seg-ndv")
    sample().write.format(Fmt)
      .option("ndvFor", "id,tag")
      .option("clusterBy", "bucket").option("numPartitions", "10")
      .mode("append").save(dir)
    val schema = spark.read.format(Fmt).load(dir).schema
    def colStats() = {
      val b = new graft.sources.segment.GraftScanBuilder(dir, schema,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().columnStats()
    }
    def of(n: String) = colStats().get(
      org.apache.spark.sql.connector.expressions.Expressions.column(n))
    // tag has 3 distinct values — under k, the exact arm
    assert(of("tag").distinctCount().getAsLong == 3L)
    // id has 1000 — past k = 256, the estimator arm (±4σ ≈ 25%)
    val idNdv = of("id").distinctCount().getAsLong
    assert(idNdv > 750 && idNdv < 1250, s"id NDV estimate $idNdv")
    // undeclared columns report no distinctCount (min/max still do)
    assert(!of("score").distinctCount().isPresent)
    assert(of("score").max().isPresent)
    // a second append MERGES (min-k is mergeable): disjoint new ids
    // roughly double the estimate, same declared sketches via the
    // persisted-property-free option on this write
    sample().select(
        (col("id") + 1000L).as("id"), col("bucket"), col("score"),
        col("name"), col("tag"), col("ts"), col("vec"))
      .write.format(Fmt).option("ndvFor", "id,tag").mode("append").save(dir)
    val idNdv2 = of("id").distinctCount().getAsLong
    assert(idNdv2 > 1500 && idNdv2 < 2500, s"merged id NDV estimate $idNdv2")
    // declaration validation: unsupported types and unknown columns
    // are refused loudly
    val e1 = intercept[Exception] {
      sample().write.format(Fmt).option("ndvFor", "score").mode("append").save(dir)
    }
    assert(e1.getMessage.contains("STRING, DATE, DECIMAL, TIMESTAMP and the integer family") ||
      Option(e1.getCause).exists(_.getMessage.contains("integer family")))
    val e2 = intercept[Exception] {
      sample().write.format(Fmt).option("ndvFor", "nope").mode("append").save(dir)
    }
    assert(e2.getMessage.contains("not in schema") ||
      Option(e2.getCause).exists(_.getMessage.contains("not in schema")))
  }

  test("avgLen/maxLen statistics: true string widths reach the optimizer (not the 20-byte default)") {
    val dir = tmp("graft-seg-lens")
    // name: exactly 50 bytes each (one null); tag: exactly 5 bytes —
    // catalyst's StringType.defaultSize is 20, so without these stats
    // a document corpus's size estimates are off 2.5x here (and 50x+
    // on real web text), which is exactly the broadcast-decision input
    spark.range(0, 200).select(
        col("id"),
        when(col("id") === 13, lit(null).cast("string"))
          .otherwise(rpad(lit("x"), 50, "y")).as("name"),
        lpad(col("id").cast("string"), 5, "0").as("tag"))
      .repartition(2).write.format(Fmt).mode("append").save(dir)
    val schema = spark.read.format(Fmt).load(dir).schema
    val cs = new graft.sources.segment.GraftScanBuilder(dir, schema,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    def of(n: String) = cs.get(
      org.apache.spark.sql.connector.expressions.Expressions.column(n))
    assert(of("name").avgLen().getAsLong == 50 && of("name").maxLen().getAsLong == 50)
    assert(of("tag").avgLen().getAsLong == 5 && of("tag").maxLen().getAsLong == 5)
    assert(!of("id").avgLen().isPresent,
      "fixed-width types carry no length stats (the type's width is exact already)")
    // ...and catalyst RECEIVES them: transformV2Stats maps avgLen/
    // maxLen into the leaf's attributeStats, the EstimationUtils row-
    // width input every intermediate size estimate is built from
    val stats = spark.read.format(Fmt).load(dir)
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.head
    val nameStat = stats.attributeStats.find(_._1.name == "name").get._2
    assert(nameStat.avgLen.contains(50L) && nameStat.maxLen.contains(50L),
      s"catalyst attributeStats must carry the widths, got $nameStat")
    // ...and projection sizing is BYTE-weighted: id is 8 of ~63 row
    // bytes (8 + 50 + 5), so `SELECT id` must report ~13% of the
    // table's size — a column-count frac would claim 1/3, and on a
    // text-dominated corpus that gap is a broadcast decision
    def sizeOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.sizeInBytes
      }.head
    val szAll = sizeOf(spark.read.format(Fmt).load(dir))
    val szId = sizeOf(spark.read.format(Fmt).load(dir).select("id"))
    assert(szId * 5 < szAll && szId * 20 > szAll,
      s"SELECT id must weigh ~13% of bytes, got $szId of $szAll")
  }

  test("projection sizing weighs struct FIELDS at observed widths (nested text, r16)") {
    val dir = tmp("graft-seg-nestedwidth")
    // meta.title: ~201 bytes observed; the struct's defaultSize
    // (20 + 20) would price the row at 48 bytes and claim `SELECT id`
    // is ~17% of the table — the observed widths say ~4%, and on a
    // corpus whose text lives INSIDE a struct that gap is the same
    // broadcast decision the top-level avgLen fix closed
    spark.range(0, 2000).select(
        col("id"),
        struct(lit("x").as("tag"),
          concat(lit("t"), lpad((col("id") % 10).cast("string"), 200, "y"))
            .as("title")).as("meta"))
      .repartition(2).write.format(Fmt).mode("append").save(dir)
    def sizeOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats.sizeInBytes
      }.head
    val all = sizeOf(spark.read.format(Fmt).load(dir))
    val idOnly = sizeOf(spark.read.format(Fmt).load(dir).select("id"))
    assert(idOnly * 10 < all,
      s"SELECT id of a nested-text row must weigh ~4%, got $idOnly of $all")
    // and a nested-PRUNED struct weighs only its kept fields: id +
    // meta.tag is ~9 of ~209 bytes, nowhere near the unpruned struct
    val narrow = sizeOf(spark.read.format(Fmt).load(dir)
      .select(col("id"), col("meta.tag")))
    assert(narrow * 10 < all,
      s"a pruned struct must weigh its kept fields, got $narrow of $all")
  }

  test("NDV on struct fields (dotted) and TIMESTAMP (epoch-micros canonical); DDL hygiene") {
    import graft.sources.segment.SegmentNdv
    val dir = tmp("graft-seg-ndv-nested")
    // meta.lang: 7 distinct (exact arm); meta.b: 400 distinct
    // (estimator arm); ts: 1000 distinct micros — the integer
    // canonical has no zone or rendering trap
    spark.range(0, 1000).select(
        col("id"),
        struct((col("id") % 7).cast("string").as("lang"),
          (col("id") % 400).cast("int").as("b")).as("meta"),
        timestamp_micros(col("id") * 1000000L + col("id") % 777).as("ts"))
      .repartition(3).write.format(Fmt)
      .option("ndvFor", "meta.lang,meta.b,ts").mode("append").save(dir)
    val m = SegmentLog.read(
      SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir).get
    assert(m.ndvMerged.keySet == Set("meta.lang", "meta.b", "ts"),
      s"got ${m.ndvMerged.keySet}")
    def est(c: String) =
      math.round(SegmentNdv.estimateMerged(SegmentNdv.decode(m.ndvMerged(c))))
    assert(est("meta.lang") == 7L)
    val bN = est("meta.b"); assert(bN > 300 && bN < 500, s"meta.b $bN (true 400)")
    val tsN = est("ts"); assert(tsN > 750 && tsN < 1250, s"ts $tsN (true 1000)")
    // the TIMESTAMP canonical IS the epoch-micros integer string
    // (DuckDB replays it as CAST(epoch_us(ts) AS VARCHAR))
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1234567L))
    assert(SegmentNdv.canonical(org.apache.spark.sql.types.TimestampType, r, 0)
      == "1234567")
    // the DSv2 Statistics face surfaces the dotted entries (catalyst
    // CBO cannot consume them today: transformV2Stats matches
    // NamedReference.describe() against TOP-LEVEL attribute names and
    // AttributeMap has no nested-field representation — documented in
    // GraftSegmentSource.estimateStatistics)
    val schema = spark.read.format(Fmt).load(dir).schema
    val cs = new graft.sources.segment.GraftScanBuilder(dir, schema,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap()))
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    def csOf(n: String) = cs.get(
      org.apache.spark.sql.connector.expressions.Expressions.column(n))
    assert(csOf("meta.lang").distinctCount().getAsLong == 7L)
    assert(csOf("ts").distinctCount().getAsLong == tsN)
    // DDL hygiene on a catalog table: DROP sheds the merged entry in
    // the SAME commit (segments untouched — presence alone would let
    // it squat); RENAME follows for dotted declarations
    val wh = tmp("graft-seg-ndv-nested-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, " +
        "meta STRUCT<lang: STRING, b: INT>, ts TIMESTAMP) " +
        "TBLPROPERTIES ('ndvFor' = 'k,meta.lang,ts')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "named_struct('lang', CAST(id % 5 AS STRING), 'b', CAST(id % 9 AS INT)), " +
        "timestamp_micros(id * 1000) FROM range(0, 200)")
      val catDir = s"$wh/db/t"
      def mc() = SegmentLog.logicalView(SegmentLog.read(
        SegmentLog.fs(catDir, spark.sessionState.newHadoopConf()), catDir).get)
      assert(mc().ndvMerged.keySet == Set("k", "meta.lang", "ts"))
      // CALL graft.system.stats lists struct-FIELD rows beside top-level
      // columns, with the dotted NDV estimate and typed bounds
      val statRows = spark.sql(s"CALL $cat.system.stats('db.t')")
        .collect().map(r => r.getString(0) -> r).toMap
      assert(statRows.keySet == Set("k", "meta", "meta.lang", "meta.b", "ts"),
        s"got ${statRows.keySet}")
      assert(statRows("meta.lang").getDouble(5) == 5.0, "dotted NDV (exact arm)")
      assert(statRows("k").getString(3) == "0" && statRows("k").getString(4) == "199")
      assert(statRows("meta").isNullAt(3), "struct carrier has no bounds")
      assert(statRows("meta.b").getString(3) == "0" && statRows("meta.b").getString(4) == "8")
      spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN ts")
      assert(mc().ndvMerged.keySet == Set("k", "meta.lang"),
        "DROP COLUMN must shed the dropped column's table-level sketch immediately")
      assert(mc().props("ndvFor").split(",").toSet == Set("k", "meta.lang"))
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN meta TO info")
      assert(mc().props("ndvFor").split(",").toSet == Set("k", "info.lang"),
        "dotted declarations must follow a struct-column rename")
      assert(mc().ndvMerged.keySet == Set("k", "info.lang"),
        "the logical view translates the dotted sketch key's head")
      // post-rename INSERTs keep extending the SAME physical key
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "named_struct('lang', CAST(id % 5 + 5 AS STRING), 'b', CAST(id % 9 AS INT)) " +
        "FROM range(200, 400)")
      assert(math.round(SegmentNdv.estimateMerged(
        SegmentNdv.decode(mc().ndvMerged("info.lang")))) == 10L,
        "5 old + 5 new lang values merge under the renamed declaration")
      // DROPPING the struct column sheds its dotted entries too
      spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN info")
      assert(mc().ndvMerged.keySet == Set("k"))
      assert(mc().props("ndvFor") == "k")
    }
  }

  test("NDV: the commit pre-merges the table-level sketch; planning reads it in O(k); DATE columns hash portably") {
    val dir = tmp("graft-seg-ndvm")
    import spark.implicits._
    def fs() = graft.sources.segment.SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    def m() = graft.sources.segment.SegmentLog.read(fs(), dir).get
    import graft.sources.segment.SegmentNdv
    // DATE joins the hashable family: canonical ISO yyyy-MM-dd
    val df = spark.range(0, 1000).select(
      col("id"),
      date_add(to_date(lit("2020-01-01")), (col("id") % 400).cast("int")).as("d"),
      (col("id") % 7).cast("string").as("tag"),
      (col("id") % 250).cast("decimal(10,2)").as("mny"))
    df.repartition(4).write.format(Fmt).option("ndvFor", "id,d,tag,mny")
      .mode("append").save(dir)
    // merged-at-commit ≡ merge-of-per-segment (KMV associativity, pinned)
    def recomputed(c: String): Array[Long] = SegmentNdv.merge(
      m().segments.map(s => SegmentNdv.decode(s.stats(c).kmv.get)))
    for (c <- Seq("id", "d", "tag", "mny"))
      assert(m().ndvMerged(c) == SegmentNdv.encode(recomputed(c)),
        s"pre-merged sketch for $c diverges from per-segment merge")
    // an incremental APPEND extends the stored merge — still identical
    // to the from-scratch recompute
    df.select((col("id") + 1000L).as("id"), col("d"), col("tag"), col("mny"))
      .repartition(2).write.format(Fmt).option("ndvFor", "id,d,tag,mny")
      .mode("append").save(dir)
    for (c <- Seq("id", "d", "tag", "mny"))
      assert(m().ndvMerged(c) == SegmentNdv.encode(recomputed(c)),
        s"incrementally extended sketch for $c diverges")
    // planning serves distinctCount from the stored merge: DATE's 400
    // distinct values land past k=256 (estimator arm), tag's 7 exact
    val schema = spark.read.format(Fmt).load(dir).schema
    val stats = new graft.sources.segment.GraftScanBuilder(dir, schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    def ndvOf(c: String) = stats.columnStats()
      .get(org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .distinctCount().getAsLong
    assert(ndvOf("tag") == 7L)
    val dNdv = ndvOf("d")
    assert(dNdv > 300 && dNdv < 500, s"DATE NDV estimate $dNdv (true 400)")
    assert(ndvOf("mny") == 250L,
      "DECIMAL NDV (250 distinct < k): the exact arm, scale-padded canonical")
    assert(SegmentNdv.hash("13.00") != SegmentNdv.hash("13"),
      "decimal canonical is scale-padded — 13.00, never 13")
    assert(ndvOf("d") == math.round(
      SegmentNdv.estimateMerged(SegmentNdv.decode(m().ndvMerged("d")))),
      "distinctCount must come from the stored table-level merge")
    // compaction on a PATH table: ndvFor was a per-write option, never
    // a persisted property, so the rewrite's segments carry no
    // sketches — the table-level entries drop HONESTLY (absent beats
    // stale) and distinctCount disappears with them
    graft.sources.segment.GraftMaintenance.compact(spark, dir, "tag", 2)
    assert(m().ndvMerged.isEmpty,
      "sketchless rewrite segments must drop the pre-merged entries")
    // compaction on a CATALOG table with the PERSISTED property: the
    // rewrite re-sketches (the write resolves the declaration), and the
    // recomputed table-level merge is VALUE-IDENTICAL — same rows,
    // same sketch, through a completely different segment list
    val wh = tmp("graft-seg-ndvm-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, tag STRING) " +
        "TBLPROPERTIES ('ndvFor' = 'id,tag')")
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT id, CAST(id % 7 AS STRING) FROM range(0, 1000)")
      val catDir = s"$wh/db/t"
      def mc() = graft.sources.segment.SegmentLog.read(fs(), catDir).get
      val before = mc().ndvMerged
      val beforePaths = mc().segments.map(_.path)
      assert(before.keySet == Set("id", "tag"))
      val preCompactVersion = mc().version
      graft.sources.segment.GraftMaintenance.compact(spark, catDir, "tag", 2)
      assert(mc().segments.map(_.path) != beforePaths, "live set must change")
      for (c <- Seq("id", "tag")) {
        assert(mc().ndvMerged(c) == before(c),
          s"compaction must not change the table-level NDV sketch of $c (same rows)")
        assert(mc().ndvMerged(c) == SegmentNdv.encode(SegmentNdv.merge(
          mc().segments.map(s => SegmentNdv.decode(s.stats(c).kmv.get)))),
          s"post-compaction sketch for $c diverges from per-segment merge")
      }
      // RESTORE (rollback) recomputes from the RESTORED live set — the
      // alter-path maintenance, value-identical here (same rows again)
      graft.sources.segment.SegmentLog.rollback(fs(), catDir, preCompactVersion)
      for (c <- Seq("id", "tag")) {
        assert(mc().ndvMerged(c) == before(c),
          s"post-rollback sketch for $c must match the restored state")
        assert(mc().ndvMerged(c) == SegmentNdv.encode(SegmentNdv.merge(
          mc().segments.map(s => SegmentNdv.decode(s.stats(c).kmv.get)))),
          s"post-rollback sketch for $c diverges from per-segment merge")
      }
      // the DuckDB-parity canonical for DATE: a stored day-count renders
      // as ISO yyyy-MM-dd, byte-identical to CAST(d AS VARCHAR)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](java.time.LocalDate.of(2020, 1, 5).toEpochDay.toInt))
      assert(SegmentNdv.canonical(org.apache.spark.sql.types.DateType, row, 0)
        == "2020-01-05")
      // outside 4-digit CE years the ISO form diverges across engines
      // (+10000-… vs 10000-…; signed BCE vs '(BC)') — the canonical is
      // NULL and the collector POISONS the segment's sketch: the write
      // SUCCEEDS and statistics degrade to absent (a stats declaration
      // must never be a data-dependent write refusal)
      for (bad <- Seq(java.time.LocalDate.of(10000, 1, 1),
          java.time.LocalDate.of(0, 12, 31))) {
        val r2 = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](bad.toEpochDay.toInt))
        assert(SegmentNdv.canonical(org.apache.spark.sql.types.DateType, r2, 0) == null)
      }
      val dirBad = tmp("graft-seg-ndv-badyear")
      Seq(java.time.LocalDate.of(2020, 1, 5), java.time.LocalDate.of(10000, 1, 1))
        .map(java.sql.Date.valueOf).toDF("d").coalesce(1)
        .write.format(Fmt).option("ndvFor", "d").mode("append").save(dirBad)
      val mBad = graft.sources.segment.SegmentLog.read(
        graft.sources.segment.SegmentLog.fs(dirBad,
          spark.sessionState.newHadoopConf()), dirBad).get
      assert(mBad.segments.forall(_.stats("d").kmv.isEmpty),
        "out-of-range DATE must poison the segment sketch, not abort the write")
      assert(mBad.ndvMerged.isEmpty,
        "no table-level entry behind the every-segment presence guard")
      assert(spark.read.format(Fmt).load(dirBad).count() == 2,
        "the write itself must succeed")
    }
  }

  test("a NaN anywhere in a double column poisons its zone-map bounds") {
    val dir = tmp("graft-seg-nan")
    import spark.implicits._
    // NaN arrives AFTER non-NaN values: naive Java min/max comparisons
    // silently swallow it (NaN < x and NaN > x are both false) and the
    // segment would advertise bounds (1.0, 2.0) that exclude a row
    // Spark orders ABOVE every double — zone maps must refuse instead
    Seq(1.0, 2.0, Double.NaN).toDF("v").coalesce(1)
      .write.format(Fmt).mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, dir).get
    assert(m.segments.forall(_.stats("v").bounds.isEmpty),
      "NaN-bearing segment must carry no double bounds")
    // behavioral: under Spark semantics NaN > 100.0 is TRUE, and with
    // unsound bounds this segment would have been pruned away
    val hits = spark.read.format(Fmt).load(dir).filter(col("v") > 100.0).count()
    assert(hits == 1, "the NaN row matches v > 100 and must survive pruning")
  }

  test("replace-style commits fingerprint the PLANNED snapshot: a rival dv " +
      "landing before the write still conflicts (TOCTOU)") {
    import graft.sources.segment.GraftMaintenance
    val dir = tmp("graft-seg-toctou")
    import spark.implicits._
    (0L until 100L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "2")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m0 = SegmentLog.read(fs, dir).get
    // a maintenance job plans against m0: fingerprint = no vectors yet
    val planned = m0.segments.map(s => s"${s.path}||0").mkString(",")
    val targets = m0.segments.map(_.path)
    // rival row-level change lands in the job's plan-to-write window
    GraftMaintenance.deleteMark(spark, dir, col("id") === 1L)
    // the planned job's rewrite reflects m0's visibility (versionAsOf),
    // not the rival's — committing it would resurrect the deleted row,
    // so the expectVisibility check must fail loudly...
    val ex = intercept[Exception] {
      spark.read.format(Fmt).option("versionAsOf", m0.version.toString)
        .load(dir)
        .write.format(Fmt)
        .option("replaceSegments", targets.mkString(","))
        .option("expectVisibility", planned)
        .option("dataChange", "false")
        .mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a ConcurrentModificationException in the cause chain, got $ex")
    assert(spark.read.format(Fmt).load(dir).count() == 99,
      "the stale rewrite must NOT have resurrected the rival's delete")
    // ...while a job re-planned against the CURRENT snapshot succeeds
    // (compactSegments pins its scan and fingerprint to one fresh read)
    val m1 = SegmentLog.read(fs, dir).get
    GraftMaintenance.compactSegments(spark, dir, m1.segments.map(_.path))
    assert(spark.read.format(Fmt).load(dir).count() == 99)
    assert(SegmentLog.read(fs, dir).get.segments.forall(_.dv.isEmpty),
      "compaction materializes the vectors away")
  }

  test("merge-on-read SQL DML fingerprints from its scan's snapshot " +
      "(plannedManifest), and applyDvs verifies expectVisibility") {
    import graft.sources.segment.GraftMaintenance
    val dir = tmp("graft-seg-toctou-mor")
    import spark.implicits._
    (0L until 50L).toDF("id").write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir)
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m0 = SegmentLog.read(fs, dir).get
    val seg = m0.segments.head.path
    // an updateMark-shaped write planned against m0 (no dv), racing a
    // rival that vectors the same segment first
    GraftMaintenance.deleteMark(spark, dir, col("id") === 7L)
    val rivalDv = SegmentLog.read(fs, dir).get.segments.head.dv.get
    val ex = intercept[Exception] {
      Seq(1000L).toDF("id").write.format(Fmt)
        .option("applyDvs", s"$seg|$rivalDv|1")
        .option("expectVisibility", s"$seg||0") // m0's fingerprint
        .mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a ConcurrentModificationException in the cause chain, got $ex")
    // no phantom append: the failed commit left the table unchanged
    assert(spark.read.format(Fmt).load(dir).count() == 49)
  }

  test("delta commit messages carry trimmed bitmaps: payload bounded by " +
      "segment-rows/8 at a full-segment match, never 8B per matched row") {
    import graft.sources.segment.{GraftDataWriter, GraftDeltaWriter,
      GraftDeltaCommitMessage, DeletionVector}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val dir = tmp("graft-seg-dmsg")
    val schema = StructType(Seq(StructField("k", LongType)))
    val writer = new GraftDeltaWriter(new GraftDataWriter(dir, schema,
      spark.sessionState.newHadoopConf(),
      graft.sources.segment.SegmentWriteSpec.resolve(spark, None, schema, Map.empty), None))
    val seg = s"$dir/data/seg-test.bin"
    val matched = 100000
    var p = 0
    while (p < matched) {
      writer.delete(null, InternalRow(UTF8String.fromString(seg), p.toLong))
      p += 1
    }
    val msg = writer.commit().asInstanceOf[GraftDeltaCommitMessage]
    writer.close()
    val payload = msg.deletes(seg)
    // the hazard bound: 8 bytes per matched row would be 800 KB; the
    // bitmap is ceil(matched/64) words = ~12.5 KB
    val bitmapBound = ((matched + 63) / 64) * 8
    assert(payload.length <= bitmapBound,
      s"payload ${payload.length} B exceeds the bitmap bound $bitmapBound B")
    assert(payload.length < matched, "payload must not scale 8B-per-row")
    // and it decodes to exactly the matched positions
    val bits = graft.functions.PosBitmap.decode(payload)
    assert(DeletionVector.cardinality(bits) == matched)
    assert(DeletionVector.contains(bits, 0L) &&
      DeletionVector.contains(bits, (matched - 1).toLong) &&
      !DeletionVector.contains(bits, matched.toLong))
  }

  test("morRewriteThreshold: past-threshold row-level DML auto-rewrites the " +
      "segment (DV purged); below-threshold and threshold=1 keep vectors") {
    val wh = tmp("graft-mor-thr-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")

      // threshold=1 disables the purge: a 70% delete keeps its vectors
      spark.sql(s"CREATE TABLE $cat.db.keep (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('rowLevelMode'='mor', 'clusterBy'='k', 'numPartitions'='4', " +
        "'morRewriteThreshold'='1')")
      spark.sql(s"INSERT INTO $cat.db.keep SELECT id, id * 10 FROM range(0, 400)")
      spark.sql(s"DELETE FROM $cat.db.keep WHERE k % 10 < 7")
      val fsK = SegmentLog.fs(s"$wh/db/keep", spark.sessionState.newHadoopConf())
      val mKeep = SegmentLog.read(fsK, s"$wh/db/keep").get
      assert(mKeep.segments.map(_.dvRows).sum == 280,
        "threshold=1 must keep the deletion vectors")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.keep").head().getLong(0) == 120)

      // default threshold (0.5): the same 70% delete triggers the purge —
      // vectors are materialized away by an immediate rewrite
      spark.sql(s"CREATE TABLE $cat.db.purge (k BIGINT, v BIGINT) TBLPROPERTIES " +
        "('rowLevelMode'='mor', 'clusterBy'='k', 'numPartitions'='4')")
      spark.sql(s"INSERT INTO $cat.db.purge SELECT id, id * 10 FROM range(0, 400)")
      val fsP = SegmentLog.fs(s"$wh/db/purge", spark.sessionState.newHadoopConf())
      val before = SegmentLog.read(fsP, s"$wh/db/purge").get.segments.map(_.path).toSet
      spark.sql(s"DELETE FROM $cat.db.purge WHERE k % 10 < 7")
      val mPurge = SegmentLog.read(fsP, s"$wh/db/purge").get
      assert(mPurge.segments.forall(_.dv.isEmpty),
        "past-threshold DML must rewrite the touched segments clean")
      assert(mPurge.segments.map(_.path).toSet.intersect(before).isEmpty,
        "the original segment files were replaced")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.purge").head().getLong(0) == 120)
      assert(spark.sql(s"SELECT sum(v) FROM $cat.db.purge").head().getLong(0) ==
        (0 until 400).filter(_ % 10 >= 7).map(_ * 10L).sum)

      // below-threshold point DML on the SAME default table stays MoR
      spark.sql(s"DELETE FROM $cat.db.purge WHERE k = 9")
      val mPoint = SegmentLog.read(fsP, s"$wh/db/purge").get
      assert(mPoint.segments.map(_.dvRows).sum == 1,
        "a point delete below the threshold keeps merge-on-read vectors")

      // property validation
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.purge SET TBLPROPERTIES " +
          "('morRewriteThreshold'='1.5')")
      }
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.purge SET TBLPROPERTIES " +
          "('morRewriteThreshold'='nope')")
      }
    }
  }

  test("binary, decimal, and array<string> columns: exact round-trip, " +
      "columnar scan, decimal zone-map pruning, column-prune skip") {
    val dir = tmp("graft-seg-typed")
    val df = spark.range(0, 1000).select(
      col("id"),
      encode(concat(lit("blob-"), col("id").cast("string")), "UTF-8").as("payload"),
      expr("CAST(id + 0.25 AS DECIMAL(12,2))").as("cents"), // exact money
      col("id").cast("decimal(30,4)").as("wide"),
      split(concat(lit("tok"), (col("id") % 5).cast("string"),
        lit(" t"), (col("id") % 3).cast("string")), " ").as("tokens"))
    df.write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "8")
      .mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    assert(back.schema("cents").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    assert(back.schema("wide").dataType ==
      org.apache.spark.sql.types.DecimalType(30, 4))
    assert(back.schema("tokens").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ==
      org.apache.spark.sql.types.StringType)

    // the scan must stay columnar — none of the new types may drop it
    // to the row reader (the multimodal/tokenized-text scan shape)
    val proj = back.select("id", "payload", "cents", "wide", "tokens")
    assert(proj.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "binary/decimal/array<string> must read columnar")

    // exact round-trip vs the source expression
    val got = proj.orderBy("id").collect()
    assert(got.length == 1000)
    val r7 = got(7)
    assert(new String(r7.getAs[Array[Byte]]("payload"), "UTF-8") == "blob-7")
    assert(r7.getDecimal(2) == new java.math.BigDecimal("7.25"))
    assert(r7.getDecimal(3) == new java.math.BigDecimal("7.0000"))
    assert(r7.getSeq[String](4) == Seq("tok2", "t1"))

    // decimal zone maps: cents correlates with the id clustering, so a
    // range predicate prunes most segments
    GraftSegmentSource.lastScanEvent = None
    val low = back.filter(col("cents") < lit(new java.math.BigDecimal("100.00")))
      .count()
    assert(low == 100, "rows with id < 100")
    val (p, t) = GraftSegmentSource.lastScanEvent.get
    assert(p * 2 <= t, s"decimal zone maps should prune: planned $p of $t")

    // column pruning skips the new variable-width values byte-exactly
    val sums = back.select(sum(col("cents")).as("s")).head()
    assert(sums.getDecimal(0).compareTo(
      new java.math.BigDecimal("499750.00")) == 0)
  }

  test("tinyint/smallint, struct, and map columns: exact round-trip, " +
      "columnar scan, byte widening with engaged blooms") {
    val dir = tmp("graft-seg-nested")
    val df = spark.range(0, 400).selectExpr(
      "id",
      "CAST(id % 100 AS TINYINT) AS y",
      "CAST(id % 1000 AS SMALLINT) AS w",
      "named_struct('a', CAST(id AS INT), 'b', concat('s-', id), " +
        "'c', CAST(id AS DECIMAL(10,2))) AS st",
      "map(concat('k', id % 3), id * 2, 'fixed', id) AS mp")
    df.write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("y").dataType == org.apache.spark.sql.types.ByteType)
    assert(back.schema("w").dataType == org.apache.spark.sql.types.ShortType)
    // struct with a decimal field still reads columnar (positional
    // child puts); the map of string→long appends columnar too
    val proj = back.select("id", "y", "w", "st", "mp")
    assert(proj.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "tinyint/smallint/struct/map must read columnar")
    val r = proj.orderBy("id").collect()(7)
    assert(r.getByte(1) == 7.toByte && r.getShort(2) == 7.toShort)
    val st = r.getStruct(3)
    assert(st.getInt(0) == 7 && st.getString(1) == "s-7" &&
      st.getDecimal(2) == new java.math.BigDecimal("7.00"))
    assert(r.getMap[String, Long](4) == Map("k1" -> 14L, "fixed" -> 7L))
    // aggregate over the whole map/struct path for exactness at volume
    assert(back.selectExpr("sum(st.a)").head().getLong(0) == (0L until 400L).sum)
    assert(back.selectExpr("sum(element_at(mp, 'fixed'))").head().getLong(0) ==
      (0L until 400L).sum)

    // STRUCT-FIELD ZONE MAPS: Spark pushes `st.a = 7` as a dotted
    // filter, and the per-field bounds collected at write time prune
    // segments exactly like a top-level column (st.a correlates with
    // the id clustering)
    GraftSegmentSource.lastScanEvent = None
    assert(back.filter(col("st.a") === 7).count() == 1)
    val (np, nt) = GraftSegmentSource.lastScanEvent.get
    assert(np < nt, s"nested zone maps should prune: planned $np of $nt")
    // IS NULL on a never-null nested field prunes everything
    GraftSegmentSource.lastScanEvent = None
    assert(back.filter(col("st.b").isNull).count() == 0)
    val (np2, nt2) = GraftSegmentSource.lastScanEvent.get
    assert(np2 == 0, s"IS NULL on a no-null field prunes all: $np2 of $nt2")

    // deletion vectors over nested columns: dead rows' struct/map
    // bytes are CONSUMED (skip arms) without touching vector slots
    graft.sources.segment.GraftMaintenance.deleteMark(spark, dir, col("id") % 4 === 0)
    val live = spark.read.format(Fmt).load(dir)
    assert(live.count() == 300)
    assert(live.selectExpr("sum(st.a)").head().getLong(0) ==
      (0L until 400L).filter(_ % 4 != 0).sum)
    assert(live.selectExpr("sum(element_at(mp, 'fixed'))").head().getLong(0) ==
      (0L until 400L).filter(_ % 4 != 0).sum)

    // a decimal-valued map has no append form: the scan drops to the
    // row reader HONESTLY (values still exact)
    val dir2 = tmp("graft-seg-decmap")
    spark.range(0, 50).selectExpr("id",
      "map('m', CAST(id AS DECIMAL(10,2))) AS dm")
      .write.format(Fmt).mode("append").save(dir2)
    val back2 = spark.read.format(Fmt).load(dir2)
    assert(!back2.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "decimal-valued maps take the row reader")
    assert(back2.selectExpr("sum(element_at(dm, 'm'))").head()
      .getDecimal(0).compareTo(new java.math.BigDecimal("1225.00")) == 0)

    // byte→int widening: one metadata commit, blooms stay ENGAGED
    // (the integer family shares the mix64(toLong) hash domain)
    val dir3 = tmp("graft-seg-bytewiden")
    spark.range(0, 1000).selectExpr("id", "CAST(id % 97 AS TINYINT) AS y")
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "10")
      .option("bloomFor", "y")
      .mode("append").save(dir3)
    val f3 = SegmentLog.fs(dir3, spark.sessionState.newHadoopConf())
    SegmentLog.widenColumn(f3, dir3, "y", org.apache.spark.sql.types.IntegerType)
    val back3 = spark.read.format(Fmt).load(dir3)
    assert(back3.schema("y").dataType == org.apache.spark.sql.types.IntegerType)
    assert(back3.filter(col("y") === 42).count() == 10)
    // struct-in-struct: admitted since the r14 full-algebra gate —
    // roundtrips exactly through the row reader (the deep-shape spec
    // in SegmentArrayStructSpec covers the full matrix)
    val dirN = tmp("graft-seg-deepok")
    spark.range(0, 5).selectExpr("id",
        "named_struct('inner', named_struct('x', id)) AS nested")
      .write.format(Fmt).mode("append").save(dirN)
    assert(spark.read.format(Fmt).load(dirN)
      .selectExpr("sum(nested.inner.x)").head().getLong(0) == 10L)

    // the STREAMING face reads the same nested bytes through the same
    // factory: one AvailableNow pass over the dv'd table reproduces
    // the live aggregate exactly
    val ckpt = tmp("graft-seg-nested-ckpt")
    val q = spark.readStream.format(Fmt).load(dir)
      .selectExpr("st.a AS a", "element_at(mp, 'fixed') AS f")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("nested_stream").start()
    q.awaitTermination()
    val agg = spark.sql(
      "SELECT sum(a), sum(f), count(*) FROM nested_stream").head()
    assert(agg.getLong(2) == 300)
    assert(agg.getLong(0) == (0L until 400L).filter(_ % 4 != 0).sum)
    assert(agg.getLong(1) == (0L until 400L).filter(_ % 4 != 0).sum)
  }

  test("metadata-only DELETE decided by a struct-field predicate") {
    val wh = tmp("graft-nestdel-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t " +
        "(id BIGINT, st STRUCT<a: BIGINT, b: STRING>) " +
        "TBLPROPERTIES ('clusterBy'='id', 'numPartitions'='4')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, " +
        "named_struct('a', id, 'b', concat('s', id)) FROM range(0, 400)")
      val dir = s"$wh/db/t"
      val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
      val m0 = SegmentLog.read(fs, dir).get
      val files0 = m0.segments.map(_.path).toSet
      // st.a aligns with the id clustering, so the nested zone maps
      // DECIDE every segment: one manifest commit, no file read/written
      spark.sql(s"DELETE FROM $cat.db.t WHERE st.a < 100")
      val m1 = SegmentLog.read(fs, dir).get
      assert(m1.segments.map(_.path).toSet.subsetOf(files0),
        "metadata-only DELETE must not write files")
      assert(m1.segments.size < m0.segments.size, "whole segments dropped")
      assert(spark.sql(s"SELECT count(*), min(st.a) FROM $cat.db.t").head()
        .getLong(0) == 300)
      assert(spark.sql(s"SELECT min(st.a) FROM $cat.db.t").head().getLong(0) == 100)
    }
  }

  test("exactFilters: zone-map-decided filters claim full pushdown — " +
      "metadata-only COUNT under the filter, undecided stay residual, " +
      "streams refuse") {
    val dir = tmp("graft-seg-exact")
    import spark.implicits._
    // segment-aligned: clusterBy id over [0, 1000) into 10 files
    spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "10")
      .mode("append").save(dir)
    val fsx = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val segs = SegmentLog.read(fsx, dir).get.segments
    // pick a REAL segment boundary so the predicate is decided
    // everywhere regardless of how the range shuffle split rows
    val cut = segs.map(_.stats("id").bounds.get._1.toLong).sorted.apply(3)
    val expected = cut // ids [0, cut)

    val exact = spark.read.format(Fmt).option("exactFilters", "true").load(dir)
      .filter(col("id") < cut)
    // the filter is fully pushed: no row-level Filter node survives
    assert(!exact.queryExecution.executedPlan.toString.contains("Filter ("),
      "decided filter must not be re-evaluated per row")
    assert(exact.count() == expected)
    // metadata-only COUNT under the filter: a LocalScan, zero tasks
    val cnt = exact.agg(count(lit(1)).as("n"))
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
      s"count under a decided filter must answer from the manifest:\n$plan")
    assert(cnt.head().getLong(0) == expected)
    // MIN/MAX under the filter answer from the kept segments' bounds
    assert(exact.agg(max(col("id"))).head().getLong(0) == cut - 1)

    // an UNDECIDED predicate (v cuts through every segment) stays
    // residual and row-exact — the option never changes answers
    val mixed = spark.read.format(Fmt).option("exactFilters", "true").load(dir)
      .filter(col("v") === 3 && col("id") < cut)
    assert(mixed.count() == (0L until cut).count(_ % 7 == 3))

    // plain reads (no option) are untouched: filter node present
    val plainPlan = spark.read.format(Fmt).load(dir)
      .filter(col("id") < cut).queryExecution.executedPlan.toString
    assert(plainPlan.contains("Filter"), "without the option nothing changes")

    // STREAMS STAY EXACT under the option: Spark's streaming planner
    // re-applies the filter per batch (the exactness claim never
    // reaches the micro-batch scan — and if a future Spark started
    // honoring it there, GraftScan.toMicroBatchStream refuses as the
    // backstop). Late segments the batch decision never saw are
    // filtered row-exactly.
    val outDir = tmp("graft-seg-exact-out")
    val ckpt = tmp("graft-seg-exact-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("exactFilters", "true").load(dir)
        .filter(col("id") < cut)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(outDir).count() == expected)
    // late arrivals: 50 matching and 50 non-matching rows
    spark.range(0, 50).select(col("id"), (col("id") % 7).as("v"))
      .write.format(Fmt).mode("append").save(dir)
    spark.range(0, 50).select((col("id") + 100000L).as("id"),
        (col("id") % 7).as("v"))
      .write.format(Fmt).mode("append").save(dir)
    drain()
    val got = spark.read.parquet(outDir)
    assert(got.count() == expected + 50,
      "late matching rows flow, late non-matching rows are filtered")
    assert(got.filter(col("id") >= cut).count() == 0, "no unfiltered leak")
  }

  test("sinceTimestamp batch increments and vacuum dry_run") {
    val dir = tmp("graft-seg-sincets")
    import spark.implicits._
    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir) // v0
    val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val t0 = SegmentLog.read(f, dir).get.ts
    (10L until 25L).toDF("id").write.format(Fmt).mode("append").save(dir) // v1
    // the wall-clock face of sinceVersion: rows committed AFTER the
    // version bound at t0
    val inc = spark.read.format(Fmt)
      .option("sinceTimestamp", t0.toString).load(dir)
    assert(inc.select("id").as[Long].collect().sorted.toSeq == (10L until 25L))
    intercept[Exception] {
      spark.read.format(Fmt).option("sinceTimestamp", t0.toString)
        .option("sinceVersion", "0").load(dir).count()
    }

    // vacuum dry_run: counts reclaimable files without deleting
    spark.range(0, 5).toDF("id").write.format(Fmt).mode("overwrite").save(dir) // v2 truncate
    graft.sources.segment.GraftMaintenance.expire(spark, dir, keepLast = 1)
    val before = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data")).length
    val wouldRemove = SegmentLog.vacuum(f, dir, retentionMs = 0L, dryRun = true)
    assert(wouldRemove > 0, "the truncated generation is reclaimable")
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data")).length == before,
      "dry run deletes nothing")
    assert(SegmentLog.vacuum(f, dir, retentionMs = 0L) == wouldRemove,
      "the real pass removes exactly the previewed count")
  }

  test("autoCompactSegments: declared small-file hygiene compacts after " +
      "appends and stream epochs; layout tables and undeclared skip") {
    val wh = tmp("graft-autocompact-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) " +
        "TBLPROPERTIES ('autoCompactSegments'='4')")
      val dir = s"$wh/db/t"
      val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
      // 8 tiny single-partition appends: every time 4+ small segments
      // accumulate, the post-commit hygiene folds them
      (0 until 8).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
      val m = SegmentLog.read(f, dir).get
      assert(m.segments.size < 4,
        s"8 appends must stay folded below the threshold, got ${m.segments.size}")
      assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.db.t").head()
        .getLong(1) == (0L until 80L).sum)
      // the folds are dataChange=false: a stream over the table sees
      // every row exactly once
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("graft-ac-ckpt"))
        .format("memory").queryName("ac_stream").start()
      q.awaitTermination()
      assert(spark.sql("SELECT count(*) FROM ac_stream").head().getLong(0) == 80)

      // the streaming SINK gets the same hygiene between epochs
      val src = tmp("graft-ac-src")
      import spark.implicits._
      (0L until 12L).toDF("k").repartition(12).write.format(Fmt)
        .mode("append").save(src)
      spark.sql(s"CREATE TABLE $cat.db.sink (k BIGINT) " +
        "TBLPROPERTIES ('autoCompactSegments'='4')")
      val q2 = spark.readStream.format(Fmt)
        .option("maxSegmentsPerTrigger", "2").load(src)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("graft-ac-ckpt2"))
        .format(Fmt).option("path", s"$wh/db/sink").start()
      q2.awaitTermination()
      val mSink = SegmentLog.read(f, s"$wh/db/sink").get
      assert(mSink.segments.size < 4,
        s"epoch commits must stay folded, got ${mSink.segments.size}")
      assert(spark.sql(s"SELECT sum(k) FROM $cat.db.sink").head().getLong(0) ==
        (0L until 12L).sum)

      // a declared-layout table skips (a partial rewrite cannot prove
      // the range invariant) and an undeclared table is untouched
      spark.sql(s"CREATE TABLE $cat.db.layout (k BIGINT) TBLPROPERTIES " +
        "('clusterBy'='k', 'numPartitions'='2', 'autoCompactSegments'='2')")
      (0 until 4).foreach(i =>
        spark.sql(s"INSERT INTO $cat.db.layout SELECT id FROM range(${i * 5}, ${i * 5 + 5})"))
      assert(SegmentLog.read(f, s"$wh/db/layout").get.segments.size >= 4,
        "layout tables are never partially rewritten by hygiene")
      // property validation
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('autoCompactSegments'='1')")
      }
    }
  }

  test("maxBytesPerSegment rolls segments by size: wide rows cannot " +
      "inflate the unit of parallelism") {
    val dir = tmp("graft-seg-maxbytes")
    // ~370 B/row logical: a 16 KiB cap rolls every ~44 rows
    spark.range(0, 500).selectExpr("id", "repeat('x', 360) AS s")
      .coalesce(1).write.format(Fmt)
      .option("maxBytesPerSegment", (16 * 1024).toString)
      .mode("append").save(dir)
    val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(f, dir).get
    assert(m.segments.size >= 8,
      s"500 wide rows over a 16 KiB cap must roll, got ${m.segments.size} segments")
    assert(m.segments.forall(_.bytes <= 20 * 1024),
      "no segment materially over the cap")
    assert(m.segments.map(_.rows).sum == 500)
    assert(spark.read.format(Fmt).load(dir).count() == 500)
    intercept[Exception] {
      spark.range(0, 5).toDF("id").write.format(Fmt)
        .option("maxBytesPerSegment", "0").mode("append").save(dir)
    }
  }

  test("CLONE: shallow is zero-copy and snapshot-isolated, deep survives " +
      "source vacuum; mapping/widen histories refused") {
    import graft.sources.segment.GraftMaintenance
    val base = tmp("graft-clone")
    val src = s"$base/src"
    import spark.implicits._
    spark.range(0, 500).select(col("id"), (col("id") * 3).as("v"))
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "4")
      .option("bloomFor", "v")
      .mode("append").save(src)
    val conf = spark.sessionState.newHadoopConf()

    // SHALLOW: zero data files under the clone, identical reads
    val (n1, r1) = GraftMaintenance.clone(spark, src, s"$base/shallow", deep = false)
    assert(n1 == 4 && r1 == 500)
    val cfs = SegmentLog.fs(s"$base/shallow", conf)
    assert(!cfs.exists(new org.apache.hadoop.fs.Path(s"$base/shallow/data")),
      "a shallow clone writes no data files")
    assert(spark.read.format(Fmt).load(s"$base/shallow")
      .agg(sum("v")).head().getLong(0) == (0L until 500L).map(_ * 3).sum)

    // DEEP: fully independent copy
    val (n2, r2) = GraftMaintenance.clone(spark, src, s"$base/deep", deep = true)
    assert(n2 == 4 && r2 == 500)

    // snapshot isolation: mutate the SOURCE after cloning — both
    // clones keep serving the clone-time content
    GraftMaintenance.deleteMark(spark, src, col("id") % 2 === 0)
    assert(spark.read.format(Fmt).load(src).count() == 250)
    assert(spark.read.format(Fmt).load(s"$base/shallow").count() == 500)
    assert(spark.read.format(Fmt).load(s"$base/deep").count() == 500)

    // blooms carried: a point lookup on the clone prunes
    GraftSegmentSource.lastScanEvent = None
    assert(spark.read.format(Fmt).load(s"$base/deep")
      .filter(col("v") === 300L).count() == 1)
    val (p, t) = GraftSegmentSource.lastScanEvent.get
    assert(p < t, s"cloned blooms should prune: $p of $t")

    // deep survives a source truncate + vacuum; shallow (documented
    // caveat) shares the source's retention
    spark.range(0, 1).select(col("id"), col("id").as("v"))
      .write.format(Fmt).mode("overwrite").save(src)
    val sfs = SegmentLog.fs(src, conf)
    SegmentLog.vacuum(sfs, src, retentionMs = 0L)
    assert(spark.read.format(Fmt).load(s"$base/deep").count() == 500,
      "a deep clone is independent of source retention")

    // refusals: rename/widen histories need a compact first
    val renamed = s"$base/renamed"
    spark.range(0, 10).select(col("id"), col("id").as("v"))
      .write.format(Fmt).mode("append").save(renamed)
    SegmentLog.renameColumn(SegmentLog.fs(renamed, conf), renamed, "v", "w")
    intercept[IllegalArgumentException] {
      GraftMaintenance.clone(spark, renamed, s"$base/renamed-clone")
    }
    val widened = s"$base/widened"
    spark.range(0, 10).selectExpr("id", "CAST(id AS INT) AS n")
      .write.format(Fmt).mode("append").save(widened)
    SegmentLog.widenColumn(SegmentLog.fs(widened, conf), widened, "n",
      org.apache.spark.sql.types.LongType)
    intercept[IllegalArgumentException] {
      GraftMaintenance.clone(spark, widened, s"$base/widened-clone")
    }
    // target-exists refusal
    intercept[IllegalArgumentException] {
      GraftMaintenance.clone(spark, s"$base/deep", s"$base/shallow")
    }

    // a STREAM over a clone is a plain stream over a fresh table
    // (ids re-assigned at the v0 commit): one AvailableNow pass
    // delivers the cloned snapshot exactly-once
    val q = spark.readStream.format(Fmt).load(s"$base/deep")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("graft-clone-ckpt"))
      .format("memory").queryName("clone_stream").start()
    q.awaitTermination()
    assert(spark.sql("SELECT count(*), sum(v) FROM clone_stream").head()
      .getLong(0) == 500)

    // SQL face through the catalog
    val wh = tmp("graft-clone-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.a (k BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='2')")
      spark.sql(s"INSERT INTO $cat.db.a SELECT id FROM range(0, 100)")
      val res = spark.sql(s"CALL $cat.system.clone('db.a', 'db.b', false)").head()
      assert(res.getInt(0) == 2 && res.getLong(1) == 100L)
      assert(spark.sql(s"SELECT sum(k) FROM $cat.db.b").head().getLong(0) ==
        (0L until 100L).sum)
    }
  }

  test("z-order by struct fields: nested predicates prune the rewritten layout") {
    val dir = tmp("graft-seg-nestzorder")
    spark.range(0, 2000).selectExpr("id",
      "named_struct('x', CAST(id % 40 AS INT), 'y', CAST((id * 13) % 40 AS INT)) AS m")
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "8")
      .mode("append").save(dir)
    graft.sources.segment.GraftMaintenance
      .compactZOrder(spark, dir, Seq("m.x", "m.y"), numPartitions = 8)
    GraftSegmentSource.lastScanEvent = None
    val n = spark.read.format(Fmt).load(dir)
      .filter(col("m.x").between(0, 9) && col("m.y").between(0, 9)).count()
    assert(n == (0L until 2000L).count(i => i % 40 < 10 && (i * 13) % 40 < 10))
    val (p, t) = GraftSegmentSource.lastScanEvent.get
    assert(p < t, s"z-order on nested fields should prune: planned $p of $t")
  }

  test("blooms on struct fields: bloomFor='st.b' decides point lookups " +
      "the layout scatters") {
    val dir = tmp("graft-seg-nestbloom")
    // b is SCATTERED relative to the id clustering: every segment's
    // zone maps cover nearly the full b range, so only the per-field
    // bloom can prove a point value absent
    spark.range(0, 1000).selectExpr("id",
      "named_struct('a', id, 'b', concat('v', CAST((id * 7919) % 1000 AS STRING))) AS st")
      .write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "8")
      .option("bloomFor", "st.b")
      .mode("append").save(dir)
    GraftSegmentSource.lastScanEvent = None
    val rows = spark.read.format(Fmt).load(dir)
      .filter(col("st.b") === "v123").collect()
    assert(rows.length == 1)
    val (p, t) = GraftSegmentSource.lastScanEvent.get
    assert(t >= 8 && p * 2 <= t,
      s"nested bloom should prune scattered point lookups: planned $p of $t")
    // validation: an unresolvable dotted declaration refuses loudly
    intercept[Exception] {
      spark.range(0, 5).selectExpr("id", "named_struct('a', id) AS st")
        .write.format(Fmt).option("bloomFor", "st.nope")
        .mode("append").save(tmp("graft-seg-nestbloom-bad"))
    }
  }

  test("deflate body compression: smaller files, exact reads on every " +
      "path, per-table declaration inherited by inserts and compaction") {
    import spark.implicits._
    val mkDocs = spark.range(0, 2000).selectExpr("id",
      "concat('the quick brown fox jumps over the lazy dog ', " +
        "repeat(concat('token', CAST(id % 7 AS STRING), ' '), 40)) AS text",
      "array(CAST(id AS FLOAT), CAST(id+1 AS FLOAT)) AS vec")

    // write-option face: same rows, raw vs deflate — deflate is
    // materially smaller and reads back bit-identical (columnar scan)
    val rawDir = tmp("graft-seg-raw")
    val defDir = tmp("graft-seg-def")
    mkDocs.coalesce(2).write.format(Fmt).mode("append").save(rawDir)
    mkDocs.coalesce(2).write.format(Fmt)
      .option("compress", "deflate").mode("append").save(defDir)
    def tableBytes(dir: String): Long = {
      val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
      SegmentLog.read(f, dir).get.segments.map(_.bytes).sum
    }
    val (rawB, defB) = (tableBytes(rawDir), tableBytes(defDir))
    assert(defB * 2 < rawB,
      s"deflate should at least halve this text table: raw=$rawB deflate=$defB")
    val a = spark.read.format(Fmt).load(rawDir).orderBy("id").collect()
    val b = spark.read.format(Fmt).load(defDir).orderBy("id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(spark.read.format(Fmt).load(defDir)
      .queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "compressed segments read columnar")
    // zone maps / pruning live in the manifest — untouched by the codec
    GraftSegmentSource.lastScanEvent = None
    assert(spark.read.format(Fmt).load(defDir)
      .filter(col("id") === 5L).count() == 1)

    // table-property face: every later INSERT inherits, mixed tables
    // (raw then compressed generations) read seamlessly, and an
    // explicit compress=none write overrides for one bulk load
    val wh = tmp("graft-segcomp-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, s STRING) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='2', 'compress'='deflate')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, repeat('abcdef ', 50) " +
        "FROM range(0, 1000)")
      val dir = s"$wh/db/t"
      val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
      val perRow = tableBytes(dir).toDouble / 1000
      assert(perRow < 60, s"deflate rows should be far under the ~360 B raw: $perRow")
      assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.db.t").head()
        .getLong(1) == (0L until 1000L).sum)
      // compaction output inherits the declaration
      graft.sources.segment.GraftMaintenance.compact(spark, dir, "k", 1)
      assert(tableBytes(dir).toDouble / 1000 < 60, "compacted segments stay deflate")
      assert(spark.sql(s"SELECT sum(k) FROM $cat.db.t").head()
        .getLong(0) == (0L until 1000L).sum)
      // merge-on-read DELETE over compressed segments: dv filtering
      // consumes dead rows through the inflater exactly
      graft.sources.segment.GraftMaintenance.deleteMark(spark, dir,
        col("k") % 10 === 0)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 900)

      // SQL MERGE on a compressed merge-on-read table: the delta
      // writer's inserted versions inherit the declaration, dv-filtered
      // reads stay exact through the inflater
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('rowLevelMode'='mor')")
      spark.sql(s"MERGE INTO $cat.db.t t USING " +
        "(SELECT id AS k FROM range(0, 50)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET s = 'merged' " +
        "WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, 'inserted')")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE s = 'merged'")
        .head().getLong(0) == 45, "50 keys minus the 5 dv-deleted multiples of 10... " +
        "45 live matched rows updated")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE s = 'inserted'")
        .head().getLong(0) == 5, "dv-deleted keys are NOT MATCHED and re-insert")

      // the STREAMING source reads deflate segments through the same
      // factory: one AvailableNow pass over the dv'd, merged table
      val qs = spark.readStream.format(Fmt).load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("graft-segcomp-ckpt"))
        .format("memory").queryName("comp_stream").start()
      qs.awaitTermination()
      assert(spark.sql("SELECT count(*) FROM comp_stream").head().getLong(0) ==
        spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0))

      // property validation + off-switch
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('compress'='zstd')")
      }
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('compress'='none')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, 'x' FROM range(5000, 5010)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 915,
        "900 live + 5 merge-inserted + 10 raw-appended")
    }
  }

  test("DESCRIBE HISTORY exposes the manifest commit wall-clock as commit_ts") {
    val dir = tmp("graft-seg-histts")
    import spark.implicits._
    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir)   // v0
    (10L until 20L).toDF("id").write.format(Fmt).mode("append").save(dir)  // v1
    val f = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val h = graft.sources.segment.GraftMaintenance.history(spark, dir)
      .orderBy("version").collect()
    assert(h.length == 2)
    assert(h.head.schema.fieldNames.contains("commit_ts"))
    // the column round-trips the manifest's recorded ts — the same
    // wall-clock TIMESTAMP AS OF binds to — for every version
    (0L until 2L).foreach { v =>
      val want = SegmentLog.readVersion(f, dir, v).ts
      assert(want > 0L, "manifests record commit time")
      val got = h(v.toInt).getTimestamp(h.head.fieldIndex("commit_ts"))
      assert(got.getTime == want,
        s"commit_ts must equal the manifest ts for v$v")
    }
  }

  test("malformed numeric/boolean options are rejected naming the option") {
    // the option surface parses through SegmentOpts so a malformed
    // value names WHICH option was bad — a bare NumberFormatException
    // ("For input string: ...") on a dozen-option surface is the kind
    // of rejection that costs a round-trip through the stack trace
    val dir = tmp("graft-seg-opts")
    import spark.implicits._
    (0L until 10L).toDF("id").write.format(Fmt).mode("append").save(dir)
    def msgOf(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msgOf(spark.read.format(Fmt).option("versionAsOf", "v1")
      .load(dir).collect()).contains("versionAsOf"))
    assert(msgOf(spark.read.format(Fmt).option("sinceVersion", "x")
      .load(dir).collect()).contains("sinceVersion"))
    assert(msgOf(spark.read.format(Fmt).option("timestampAsOf", "yesterday")
      .load(dir).collect()).contains("timestampAsOf"))
    assert(msgOf(spark.read.format(Fmt).option("readChangeFeed", "yes")
      .load(dir).collect()).contains("readChangeFeed"))
    assert(msgOf((10L until 20L).toDF("id").write.format(Fmt)
      .option("txnAppId", "a").option("txnVersion", "one")
      .mode("append").save(dir)).contains("txnVersion"))
    assert(msgOf((10L until 20L).toDF("id").write.format(Fmt)
      .option("mergeSchema", "1").mode("append").save(dir))
      .contains("mergeSchema"))
    // the valid spellings still parse (and the writes above were
    // correctly refused before committing anything)
    assert(spark.read.format(Fmt).option("versionAsOf", "0")
      .load(dir).count() === 10)
  }
}
