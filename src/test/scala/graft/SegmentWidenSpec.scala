package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.segment.{GraftCatalog, GraftMaintenance, GraftSegmentSource, SegmentLog}

/** Metadata-only type widening (`ALTER COLUMN … TYPE`) on the
  * graft-segment format: `int→bigint` / `float→double` (and their
  * array element forms) commit as ONE manifest edit — no segment is
  * read or rewritten at any table size. Old segments decode as
  * written and up-cast at read; zone maps and blooms stay sound by
  * construction (long-domain bound parsing, `mix64(i.toLong)` hash
  * coincidence). Everything lossy is refused with a rewrite recipe. */
class SegmentWidenSpec extends SparkSpec {

  private val Fmt = "graft-segment"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def fs(dir: String) =
    SegmentLog.fs(dir, spark.sessionState.newHadoopConf())

  /** One row per id: every widenable shape at once. */
  private def narrow(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong, i, i * 0.5f, Seq(i, i + 1), Seq(i * 1.5f, i * 2.5f))
    }.toDF("id", "n", "x", "ns", "xs")
  }

  test("widen int/float/array columns: one manifest commit, old bytes up-cast, new bytes native") {
    val dir = tmp("graft-widen-rt")
    narrow(0 until 100).coalesce(1).write.format(Fmt).mode("append").save(dir) // v0
    val f = fs(dir)
    val v0 = SegmentLog.read(f, dir).get
    // ONE multi-change ALTER: all four widenings land as a single commit
    SegmentLog.alterSchema(f, dir, Seq(
      SegmentLog.widenTransform("n", LongType),
      SegmentLog.widenTransform("x", DoubleType),
      SegmentLog.widenTransform("ns", ArrayType(LongType, containsNull = false)),
      SegmentLog.widenTransform("xs", ArrayType(DoubleType, containsNull = false))))
    val m = SegmentLog.read(f, dir).get
    assert(m.version == v0.version + 1, "widening must be ONE metadata commit")
    assert(m.segments.map(_.path) == v0.segments.map(_.path),
      "no segment may be rewritten by a widen")
    // post-widen appends encode natively wide
    import spark.implicits._
    (100 until 110).map(i => (i.toLong, i.toLong, i * 0.5d,
        Seq(i.toLong, i + 1L), Seq(i * 1.5d, i * 2.5d)))
      .toDF("id", "n", "x", "ns", "xs")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v2
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("n").dataType == LongType)
    assert(back.schema("x").dataType == DoubleType)
    assert(back.schema("ns").dataType.asInstanceOf[ArrayType].elementType == LongType)
    assert(back.schema("xs").dataType.asInstanceOf[ArrayType].elementType == DoubleType)
    val got = back.orderBy("id")
      .as[(Long, Long, Double, Seq[Long], Seq[Double])].collect().toSeq
    val want = (0 until 110).map(i => (i.toLong, i.toLong, i * 0.5d,
      Seq(i.toLong, i + 1L), Seq(i * 1.5d, i * 2.5d)))
    assert(got == want, "pre-widen rows must up-cast exactly; float→double via (double)f")
    // aggregate sanity across the widen boundary
    assert(back.agg(sum("n")).head().getLong(0) == (0 until 110).map(_.toLong).sum)
  }

  test("SQL ALTER COLUMN TYPE through the catalog; lossy and hash-cluster widens refused") {
    val warehouse = Files.createTempDirectory("graft-widen-wh").toString
    GraftCatalog.withCatalog(spark, warehouse) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.w (k BIGINT, n INT, x FLOAT) PARTITIONED BY (bucket(4, k))")
      spark.sql(s"INSERT INTO $cat.db.w SELECT id, CAST(id AS INT), CAST(id AS FLOAT) FROM range(0, 50)")
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN n TYPE BIGINT")
      val back = spark.sql(s"SELECT k, n FROM $cat.db.w ORDER BY k").collect()
      assert(back.length == 50 && back(7).getLong(1) == 7L)
      assert(spark.table(s"$cat.db.w").schema("n").dataType == LongType)
      // outright lossy retype: Spark's own analyzer refuses upstream
      val lossy = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN x TYPE INT")
      }
      assert(lossy.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), lossy.getMessage)
      // an upcast Spark's analyzer ALLOWS (bigint→double is a legal
      // Cast.canUpCast) but that is NOT value-lossless (longs past 2^53
      // round): our lattice refuses with the rewrite recipe
      val notMeta = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN n TYPE DOUBLE")
      }
      assert(notMeta.getMessage.contains("lossless widenings"), notMeta.getMessage)
      // hash-clustering column: frozen bucket labels hash the OLD type —
      // murmur3(int) != murmur3(long) — refuse until re-clustered
      spark.sql(s"CREATE TABLE $cat.db.h (k INT, v STRING) PARTITIONED BY (bucket(4, k))")
      spark.sql(s"INSERT INTO $cat.db.h SELECT CAST(id AS INT), concat('v', id) FROM range(0, 10)")
      val hashed = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.h ALTER COLUMN k TYPE BIGINT")
      }
      assert(hashed.getMessage.contains("re-cluster"), hashed.getMessage)
    }
  }

  test("zone maps and blooms on a widened column keep pruning with long-typed literals") {
    val dir = tmp("graft-widen-prune")
    import spark.implicits._
    // 10 segments clustered by n, blooms declared on n
    (0 until 1000).map(i => (i.toLong, i)).toDF("id", "n")
      .write.format(Fmt)
      .option("clusterBy", "n").option("numPartitions", "10")
      .option("bloomFor", "n")
      .mode("append").save(dir)
    SegmentLog.widenColumn(fs(dir), dir, "n", LongType)
    // range pushdown: bounds were written from ints, parsed in long domain
    GraftSegmentSource.lastScanEvent = None
    val hi = spark.read.format(Fmt).load(dir).filter(col("n") >= 900L)
    assert(hi.count() == 100)
    val (planned, total) = GraftSegmentSource.lastScanEvent.get
    assert(total >= 5 && planned * 2 <= total,
      s"zone maps must keep skipping after the widen: $planned/$total")
    // bloom equality: mix64(long literal) must coincide with the
    // int-written row hashes — exactly one segment admits id=777
    GraftSegmentSource.lastScanEvent = None
    val one = spark.read.format(Fmt).load(dir).filter(col("n") === 777L)
    assert(one.select("id").as[Long].collect().toSeq == Seq(777L))
    val (p2, t2) = GraftSegmentSource.lastScanEvent.get
    assert(p2 == 1, s"bloom + zone pruning must plan one segment, planned $p2/$t2")
  }

  test("time travel up-casts old lineages into the current schema; a rollback across a widen refuses the orphaned branch") {
    val dir = tmp("graft-widen-tt")
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v0: n INT
    val f = fs(dir)
    SegmentLog.widenColumn(f, dir, "n", LongType) // v1
    (10 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v2: long bytes
    // time travel serves old data under the CURRENT schema (same
    // contract as renames/drops): VERSION AS OF 0 types n BIGINT and
    // up-casts the int bytes via the version-disagreement overlay
    val at0 = spark.read.format(Fmt).option("versionAsOf", "0").load(dir)
    assert(at0.schema("n").dataType == LongType)
    assert(at0.select("n").as[Long].collect().sorted.toSeq ==
      (0 until 10).map(_.toLong))
    // VERSION AS OF 2: old segment up-casts via the registry, new is native
    val at2 = spark.read.format(Fmt).option("versionAsOf", "2").load(dir)
    assert(at2.schema("n").dataType == LongType)
    assert(at2.select("n").as[Long].collect().sorted.toSeq ==
      (0 until 20).map(_.toLong))
    // rollback to v0: schema narrows, the long-byte segment is orphaned
    assert(SegmentLog.rollback(f, dir, 0L) == 3L)
    val now = spark.read.format(Fmt).load(dir)
    assert(now.schema("n").dataType == IntegerType)
    assert(now.select("n").as[Int].collect().sorted.toSeq == (0 until 10))
    // time travel INTO the orphaned wide branch would have to serve
    // long bytes under the now-int schema — narrowing, not widening:
    // refuse loudly instead of mis-decoding
    def rootMsgs(t: Throwable): String =
      if (t == null) "" else String.valueOf(t.getMessage) + rootMsgs(t.getCause)
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("versionAsOf", "2").load(dir).collect()
    }
    assert(rootMsgs(e).contains("orphaned by a rollback"), rootMsgs(e))
    // RE-widen after the rollback: the registry gains a second entry;
    // both narrow generations (pre-first-widen AND post-rollback
    // appends) resolve to int bytes, the fresh appends are long
    (20 until 25).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v4: int bytes
    SegmentLog.widenColumn(f, dir, "n", LongType) // v5
    (25 until 30).map(i => (i.toLong, i.toLong)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir) // v6
    assert(spark.read.format(Fmt).load(dir).select("n").as[Long]
      .collect().sorted.toSeq == ((0 until 10) ++ (20 until 30)).map(_.toLong))
  }

  test("change feed across a widen emits every row under the current type") {
    val dir = tmp("graft-widen-cdc")
    import spark.implicits._
    (0 until 5).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir) // v0
    SegmentLog.widenColumn(fs(dir), dir, "n", LongType) // v1
    (5 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "n")
      .coalesce(1).write.format(Fmt)
      .option("clusterBy", "id").option("numPartitions", "1")
      .mode("append").save(dir) // v2
    val feed = spark.read.format(Fmt)
      .option("readChangeFeed", "true")
      .option("startingVersion", "-1").option("endingVersion", "2")
      .load(dir)
    assert(feed.schema("n").dataType == LongType)
    val rows = feed.select(col("id"), col("n"), col("_change_type"), col("_commit_version"))
      .as[(Long, Long, String, Long)].collect().sorted.toSeq
    assert(rows == (0 until 10).map(i =>
      (i.toLong, i.toLong, "insert", if (i < 5) 0L else 2L)))
  }

  test("a widen under a RUNNING stream fails fast; a restart re-resolves and up-casts") {
    val dir = tmp("graft-widen-stream")
    val ckpt = tmp("graft-widen-stream-ck")
    import spark.implicits._
    (0 until 5).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    // exactly-once positioning first: drain the int generation through
    // a parquet sink, so the later RESUME must deliver only the
    // post-widen rows
    val out1 = tmp("graft-widen-stream-out1")
    val qa = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out1)
      .trigger(Trigger.AvailableNow()).start()
    qa.awaitTermination()
    assert(spark.read.parquet(out1).count() == 5)
    // ONE long-running stream: the init-time schema types n INT; a
    // widen landing mid-flight must fail the stream loudly (the new
    // long bytes cannot be served under the pinned int schema), never
    // mis-type
    val q = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("memory").queryName("widen_guard").start()
    q.processAllAvailable()
    assert(spark.table("widen_guard").count() == 5)
    SegmentLog.widenColumn(fs(dir), dir, "n", LongType)
    (5 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    def rootMsgs(t: Throwable): String =
      if (t == null) "" else String.valueOf(t.getMessage) + rootMsgs(t.getCause)
    val e = intercept[Exception] { q.processAllAvailable(); q.awaitTermination() }
    assert(rootMsgs(e).contains("restart the stream"), rootMsgs(e))
    // the RESTART (same checkpoint — exactly-once resumes) re-resolves
    // the table schema: only the new rows arrive, typed long (a fresh
    // output dir; glob past the file-sink metadata index)
    val out2 = tmp("graft-widen-stream-out2")
    val q2 = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out2/part-*").select("n").as[Long]
      .collect().sorted.toSeq == (5 until 10).map(_.toLong))
    val out3 = tmp("graft-widen-stream-out3")
    val ck3 = tmp("graft-widen-stream-ck3")
    val q3 = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ck3).option("path", out3)
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(spark.read.parquet(out3).select("n").as[Long].collect().sorted.toSeq ==
      (0 until 10).map(_.toLong))
  }

  test("a widen under a RUNNING change-feed stream fails fast too") {
    val dir = tmp("graft-widen-cdcstream")
    import spark.implicits._
    (0 until 5).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    val q = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir)
      .writeStream.format("memory").queryName("widen_cdf_guard").start()
    q.processAllAvailable()
    assert(spark.table("widen_cdf_guard").count() == 5)
    SegmentLog.widenColumn(fs(dir), dir, "n", LongType)
    (5 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    def rootMsgs(t: Throwable): String =
      if (t == null) "" else String.valueOf(t.getMessage) + rootMsgs(t.getCause)
    val e = intercept[Exception] { q.processAllAvailable(); q.awaitTermination() }
    assert(rootMsgs(e).contains("restart the stream"), rootMsgs(e))
    // the fresh feed from the start serves BOTH generations long —
    // registry up-cast for the int segment, native for the new one
    val q2 = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .load(dir)
      .writeStream.format("memory").queryName("widen_cdf_fresh").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.table("widen_cdf_fresh").select("n").as[Long]
      .collect().sorted.toSeq == (0 until 10).map(_.toLong))
  }

  test("merge-on-read DELETE + compaction keep up-cast fidelity on pre-widen segments") {
    val dir = tmp("graft-widen-mor")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, i)).toDF("id", "n")
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    SegmentLog.widenColumn(fs(dir), dir, "n", LongType)
    // dv-marked delete on the WIDENED column's predicate (long literal
    // against int bytes) — the scan up-casts before the filter runs
    GraftMaintenance.deleteMark(spark, dir, col("n") >= 90L)
    assert(spark.read.format(Fmt).load(dir).count() == 90)
    // compaction rewrites through the current schema: bytes become
    // natively long, the registry entry stops matching the new ids
    GraftMaintenance.compact(spark, dir, "id", 1)
    val m = SegmentLog.read(fs(dir), dir).get
    assert(m.segments.forall(s =>
      SegmentLog.widenOverridesFor(m, m.schema, s.id).isEmpty),
      "compacted segments are post-widen ids — no override may apply")
    assert(spark.read.format(Fmt).load(dir).select("n").as[Long]
      .collect().sorted.toSeq == (0 until 90).map(_.toLong))
  }

  test("widen int→double and decimal precision growth; scale change and " +
      "precision shrink refused") {
    val dir = tmp("graft-widen-newpairs")
    val df = spark.range(0, 50).select(
      col("id"),
      col("id").cast("int").as("n"),
      col("id").cast("decimal(10,2)").as("m"))
    df.coalesce(1).write.format(Fmt).mode("append").save(dir)
    val f = fs(dir)
    val v0 = SegmentLog.read(f, dir).get
    SegmentLog.alterSchema(f, dir, Seq(
      SegmentLog.widenTransform("n", DoubleType),
      SegmentLog.widenTransform("m", DecimalType(20, 2))))
    val m1 = SegmentLog.read(f, dir).get
    assert(m1.version == v0.version + 1, "both widenings in ONE metadata commit")
    assert(m1.segments.map(_.path) == v0.segments.map(_.path),
      "no segment rewritten")
    // post-widen append: natively wide, including a decimal value only
    // the grown precision can hold (> 18 digits → big-int byte form)
    spark.range(50, 60).select(
      col("id"),
      (col("id").cast("double") * lit(1.5)).as("n"),
      (col("id").cast("decimal(20,2)") +
        expr("CAST('123456789012345678.25' AS DECIMAL(20,2))"))
        .cast("decimal(20,2)").as("m"))
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    val back = spark.read.format(Fmt).load(dir)
    assert(back.schema("n").dataType == DoubleType)
    assert(back.schema("m").dataType == DecimalType(20, 2))
    val got = back.orderBy("id").collect()
    assert(got.length == 60)
    assert(got(7).getDouble(1) == 7.0, "pre-widen int up-casts exactly")
    assert(got(7).getDecimal(2) == new java.math.BigDecimal("7.00"),
      "pre-widen compact decimal re-containers at the grown precision")
    assert(got(55).getDouble(1) == 82.5)
    assert(got(55).getDecimal(2) == new java.math.BigDecimal("123456789012345733.25"))
    // zone maps survive: int-written bounds parse in the double domain
    import graft.sources.segment.GraftSegmentSource
    GraftSegmentSource.lastScanEvent = None
    assert(back.filter(col("n") >= lit(82.0)).count() == 5)
    // decimal bounds compare as BigDecimal
    assert(back.filter(col("m") <
      expr("CAST('25.00' AS DECIMAL(20,2))")).count() == 25)
    // refusals: scale change and precision shrink are rewrites, not
    // widenings
    intercept[IllegalArgumentException] {
      SegmentLog.alterSchema(f, dir,
        Seq(SegmentLog.widenTransform("m", DecimalType(20, 4))))
    }
    intercept[IllegalArgumentException] {
      SegmentLog.alterSchema(f, dir,
        Seq(SegmentLog.widenTransform("m", DecimalType(12, 2))))
    }
    // SQL face through the catalog
    val wh = tmp("graft-widen-newpairs-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, n INT, m DECIMAL(10,2))")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, CAST(id AS INT), " +
        "CAST(id AS DECIMAL(10,2)) FROM range(0, 20)")
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE DOUBLE")
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN m TYPE DECIMAL(24,2)")
      val r = spark.sql(s"SELECT sum(n) AS sn, sum(m) AS sm FROM $cat.db.t").head()
      assert(r.getDouble(0) == 190.0)
      assert(r.getDecimal(1) == new java.math.BigDecimal("190.00"))
    }
  }

  test("widening an NDV column out of the hashable family retires the declaration; int→long keeps it") {
    val wh = tmp("graft-widen-ndv")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k INT, n INT, s STRING) " +
        "TBLPROPERTIES ('ndvFor' = 'k,n,s')")
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT CAST(id % 40 AS INT), CAST(id AS INT), CAST(id % 5 AS STRING) " +
        "FROM range(0, 500)")
      val f = fs(s"$wh/db/t")
      def m() = SegmentLog.read(f, s"$wh/db/t").get
      assert(m().props("ndvFor").split(",").toSet == Set("k", "n", "s"))
      assert(m().ndvMerged.keySet == Set("k", "n", "s"))
      // int→long: the canonical string (decimal digits) is type-invariant,
      // so old sketches stay exact — the declaration survives
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN k TYPE BIGINT")
      assert(m().props("ndvFor").split(",").toSet == Set("k", "n", "s"))
      // int→double: unhashable — silently dead sketch collection is the
      // failure mode, so the widen RETIRES the declaration (and the
      // pre-merged entry follows at the next data commit)
      spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n TYPE DOUBLE")
      assert(m().props("ndvFor").split(",").toSet == Set("k", "s"),
        s"widen must drop n from ndvFor, got ${m().props.get("ndvFor")}")
      // post-widen writes keep sketching the surviving declarations and
      // the table still serves their distinctCount
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT CAST(id % 40 AS BIGINT), CAST(id AS DOUBLE), " +
        "CAST(id % 5 AS STRING) FROM range(500, 600)")
      val schema = spark.read.format(Fmt).load(s"$wh/db/t").schema
      val stats = new graft.sources.segment.GraftScanBuilder(s"$wh/db/t", schema,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
        .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      def ndvOf(c: String) = stats.columnStats()
        .get(org.apache.spark.sql.connector.expressions.Expressions.column(c))
        .distinctCount()
      assert(ndvOf("k").getAsLong == 40L, "int→long keeps exact NDV across the widen")
      assert(ndvOf("s").getAsLong == 5L)
      assert(!ndvOf("n").isPresent, "the retired column reports no distinctCount")
      // the SQL face: CALL graft.system.ndv reads the same table-level
      // sketches — estimates + the exact/estimator arm flag, zero scans
      val nd = spark.sql(s"CALL $cat.system.ndv('db.t')").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2))).toSeq
      assert(nd.map(_._1) == Seq("k", "s"), s"got $nd")
      assert(nd == Seq(("k", 40.0, true), ("s", 5.0, true)), s"got $nd")
      // dropping the LAST declared column removes the property entirely
      spark.sql(s"CREATE TABLE $cat.db.one (a INT, b STRING) " +
        "TBLPROPERTIES ('ndvFor' = 'a')")
      spark.sql(s"INSERT INTO $cat.db.one VALUES (1, 'x')")
      spark.sql(s"ALTER TABLE $cat.db.one ALTER COLUMN a TYPE DOUBLE")
      assert(!SegmentLog.read(fs(s"$wh/db/one"), s"$wh/db/one").get
        .props.contains("ndvFor"))
    }
  }
}
