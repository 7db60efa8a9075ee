package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.segment.{GraftCatalog, SegmentLog}

/** The graft catalog plugin: SQL DDL/DML over segment tables, declared
  * bucket layouts preserved by plain INSERTs, and the payoff —
  * storage-partitioned joins between co-bucketed tables planning with
  * ZERO exchanges. */
class GraftCatalogSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val warehouse = Files.createTempDirectory("graft-warehouse").toString

  private def initCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
  }

  test("SQL DDL + INSERT + SELECT round-trip through the catalog") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.kv (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.kv SELECT id AS k, concat('v', id) AS v FROM range(0, 100)")
    val back = spark.sql("SELECT k, v FROM graft.db.kv ORDER BY k").collect()
    assert(back.length == 100)
    assert(back(42).getLong(0) == 42L && back(42).getString(1) == "v42")

    // the declared layout flowed into the write: segments are labeled,
    // the manifest carries the spec
    val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, s"$warehouse/db/kv").get
    assert(m.bucketing.exists(b => b.cols == Seq("k") && b.n == 4))
    assert(m.segments.nonEmpty && m.segments.forall(_.bucket.isDefined))
    assert(m.segments.flatMap(_.bucket).distinct.size > 1)

    assert(spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).contains("kv"))
  }

  test("storage-partitioned join: co-bucketed tables join with zero exchanges") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.spj_a (k BIGINT, a STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graft.db.spj_b (k BIGINT, b STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.spj_a SELECT id AS k, concat('a', id) FROM range(0, 500)")
    spark.sql("INSERT INTO graft.db.spj_b SELECT id AS k, concat('b', id) FROM range(0, 500)")

    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      def q() = spark.sql(
        "SELECT a.k, a.a, b.b FROM graft.db.spj_a a JOIN graft.db.spj_b b ON a.k = b.k")
      val j = q()
      assert(j.count() == 500)
      val shuffles = collect(j.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join must plan no exchange:\n${j.queryExecution.executedPlan}")
      // SORT-FREE too (r15): bucket-labeled segments were written
      // sorted by the cluster key and the scan reports that ordering
      // (one InputPartition per segment), so the SortMergeJoin plans
      // with no SortExec either — at scale that deletes the last
      // O(N log N) term the exchange-free join still paid
      val sorts = collect(j.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.SortExec => s
      }
      assert(sorts.isEmpty,
        s"single-segment buckets must join sort-free:\n${j.queryExecution.executedPlan}")

      // a SECOND append puts two segments in each bucket: per-group
      // concatenation voids per-partition order, Spark itself drops
      // the reported ordering (the DataSourceV2ScanExecBase guard),
      // sorts reappear, and the answer stays exact
      spark.sql("INSERT INTO graft.db.spj_a SELECT id AS k, concat('x', id) FROM range(500, 600)")
      val j2 = q()
      assert(j2.count() == 500) // keys 500..599 have no match in spj_b
      assert(collect(j2.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s }.isEmpty,
        "the exchange-free plan must survive the second append")
      assert(collect(j2.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.SortExec => s }.nonEmpty,
        "two segments per bucket concatenate: the ordering claim must drop")
    }
  }

  test("bucketed aggregation: group-by on the bucket key plans without a shuffle") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.agg_t (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.agg_t SELECT id % 50 AS k, id AS v FROM range(0, 1000)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false") {
      val a = spark.sql("SELECT k, count(*) AS n, sum(v) AS s FROM graft.db.agg_t GROUP BY k")
      assert(a.count() == 50)
      assert(a.filter(col("k") === 7).head().getLong(1) == 20)
      val shuffles = collect(a.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"bucket-clustered group-by must plan no exchange:\n${a.queryExecution.executedPlan}")
    }
  }

  test("SQL UPDATE is group-based copy-on-write: only matched segments rewrite") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.upd (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
    spark.sql("INSERT INTO graft.db.upd SELECT id, id * 10 FROM range(0, 400)")
    val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val before = SegmentLog.read(fs, s"$warehouse/db/upd").get.segments.map(_.path)
    assert(before.size >= 3)

    spark.sql("UPDATE graft.db.upd SET v = v + 1000000 WHERE k < 50")
    val t = spark.sql("SELECT k, v FROM graft.db.upd ORDER BY k").collect()
    assert(t.length == 400)
    assert(t(10).getLong(1) == 100 + 1000000)
    assert(t(399).getLong(1) == 3990)
    // range layout: k < 50 touches only the first segment(s); the rest
    // must survive BY REFERENCE (same file paths in the new manifest)
    val after = SegmentLog.read(fs, s"$warehouse/db/upd").get.segments.map(_.path)
    val keptOriginals = before.toSet.intersect(after.toSet)
    assert(keptOriginals.nonEmpty,
      s"untouched segments must pass through by reference: before=$before after=$after")
    assert(!after.toSet.subsetOf(before.toSet), "matched segments must be rewritten")
  }

  test("SQL MERGE INTO applies delete/update/insert branches") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.mrg (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
    spark.sql("INSERT INTO graft.db.mrg SELECT id, id FROM range(0, 100)")
    // source: delete evens < 10, update 10..19 to v=-1, insert 100..109
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW mrg_src AS
        |SELECT id AS k, CAST(-1 AS BIGINT) AS v, 'D' AS op FROM range(0, 10) WHERE id % 2 = 0
        |UNION ALL SELECT id, -1L, 'U' FROM range(10, 20)
        |UNION ALL SELECT id, -1L, 'I' FROM range(100, 110)
        |""".stripMargin)
    spark.sql(
      """MERGE INTO graft.db.mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM graft.db.mrg ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 100 - 5 deleted + 10 inserted
    assert(rows.length == 105)
    assert(!rows.exists(r => r._1 < 10 && r._1 % 2 == 0), "evens < 10 deleted")
    assert((10L until 20L).forall(k => rows.contains((k, -1L))), "10..19 updated")
    assert((100L until 110L).forall(k => rows.contains((k, -1L))), "100..109 inserted")
    assert(rows.contains((25L, 25L)), "unmatched target rows untouched")
  }

  test("SELECT _segment metadata column attributes each row to its file") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.meta_t (k BIGINT) " +
      "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='3')")
    spark.sql("INSERT INTO graft.db.meta_t SELECT id FROM range(0, 300)")
    val segs = spark.sql("SELECT DISTINCT _segment FROM graft.db.meta_t").collect()
    assert(segs.length >= 2, "several segments, each attributed")
    assert(segs.forall(_.getString(0).contains("data/seg-")))
    val one = spark.sql(
      "SELECT count(DISTINCT _segment) FROM graft.db.meta_t WHERE k < 5").head().getLong(0)
    assert(one == 1, "a narrow range lives in one segment under range clustering")
  }

  test("bucket function agrees with physical placement for every row (the SPJ invariant)") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.place_t (k BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.db.place_t SELECT id * 7919 FROM range(0, 500)")
    // physical placement: which segment (→ manifest bucket label) holds each row
    val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, s"$warehouse/db/place_t").get
    val bucketByFile = m.segments.map(s => s"$warehouse/db/place_t/${s.path}" -> s.bucket.get).toMap
    val rows = spark.sql("SELECT k, _segment FROM graft.db.place_t").collect()
    assert(rows.length == 500)
    // the function the catalog serves for SPJ shuffles must compute the
    // SAME bucket the write physically placed the row in
    val bound = graft.sources.segment.GraftBucketFunction
      .bind(new org.apache.spark.sql.types.StructType()
        .add("n", org.apache.spark.sql.types.IntegerType)
        .add("k", org.apache.spark.sql.types.LongType))
      .asInstanceOf[graft.sources.segment.GraftBoundBucket]
    rows.foreach { r =>
      val k = r.getLong(0)
      val placed = bucketByFile(r.getString(1))
      val computed = bound.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(4, k))
      assert(computed == placed,
        s"k=$k placed in bucket $placed but bucket(4, k) computes $computed")
    }
  }

  test("catalog maintenance: drop and rename") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tmpns")
    spark.sql("CREATE TABLE graft.tmpns.t1 (x INT)")
    spark.sql("INSERT INTO graft.tmpns.t1 VALUES (1), (2)")
    // the RENAME target resolves within the same catalog: no prefix
    spark.sql("ALTER TABLE graft.tmpns.t1 RENAME TO tmpns.t2")
    assert(spark.sql("SELECT sum(x) FROM graft.tmpns.t2").head().getLong(0) == 3L)
    spark.sql("DROP TABLE graft.tmpns.t2")
    assert(spark.sql("SHOW TABLES IN graft.tmpns").collect().isEmpty)
  }

  test("CTAS and REPLACE TABLE AS SELECT work through the catalog") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctasns")
    spark.sql("CREATE TABLE graft.ctasns.t AS SELECT id AS k, id * 2 AS v FROM range(100)")
    assert(spark.sql("SELECT sum(v) FROM graft.ctasns.t").head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
    // CTAS onto an existing table refuses; REPLACE is ATOMIC — one
    // manifest commit on the SAME log (StagingTableCatalog), so the
    // pre-replace definition stays time-travelable
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ctasns.t AS SELECT id FROM range(5)")
    }
    val fsA = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val vBefore = SegmentLog.read(fsA, s"$warehouse/ctasns/t").get.version
    spark.sql("REPLACE TABLE graft.ctasns.t AS SELECT id AS k FROM range(5)")
    assert(spark.sql("SELECT * FROM graft.ctasns.t").schema.fieldNames.toSeq == Seq("k"))
    assert(spark.sql("SELECT count(*) FROM graft.ctasns.t").head().getLong(0) == 5)
    val mR = SegmentLog.read(fsA, s"$warehouse/ctasns/t").get
    assert(mR.version == vBefore + 1,
      "atomic REPLACE is ONE commit on the same log, not drop+recreate")
    assert(spark.read.format("graft-segment")
      .option("versionAsOf", vBefore.toString)
      .load(s"$warehouse/ctasns/t").count() == 100,
      "the pre-replace definition stays time-travelable")
    // CTAS carries TBLPROPERTIES: a declared layout lands in the
    // manifest and labels the written segments
    spark.sql("CREATE TABLE graft.ctasns.t2 " +
      "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4') " +
      "AS SELECT id AS k FROM range(1000)")
    val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val m = SegmentLog.read(fs, s"$warehouse/ctasns/t2").get
    assert(m.bucketing.exists(b => b.cols == Seq("k") && b.mode == "range"),
      s"CTAS must install the declared layout, got ${m.bucketing}")
    assert(spark.sql("SELECT count(*) FROM graft.ctasns.t2").head().getLong(0) == 1000)
    // SHOW TBLPROPERTIES surfaces declarations and the layout
    val shown = spark.sql("SHOW TBLPROPERTIES graft.ctasns.t2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("clusterBy").contains("k") &&
      shown.get("clusterMode").contains("range"), s"got $shown")
    // SQL time travel across the atomic REPLACE: VERSION AS OF binds
    // through the catalog to the versionAsOf read path
    assert(spark.sql(s"SELECT count(*) FROM graft.ctasns.t VERSION AS OF $vBefore")
      .head().getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM graft.ctasns.t").head().getLong(0) == 5)
    intercept[Exception] {
      spark.sql("INSERT INTO graft.ctasns.t VERSION AS OF 0 VALUES (1)")
    }
    intercept[Exception] { // predates every stamped commit: loud error
      spark.sql("SELECT * FROM graft.ctasns.t TIMESTAMP AS OF '2026-01-01'").collect()
    }
    spark.sql("DROP TABLE graft.ctasns.t")
    spark.sql("DROP TABLE graft.ctasns.t2")
  }

  test("TIMESTAMP AS OF binds each commit's stamp to its snapshot") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ttns")
    spark.sql("CREATE TABLE graft.ttns.t (k BIGINT)")
    spark.sql("INSERT INTO graft.ttns.t SELECT id FROM range(0, 10)")
    val fs = SegmentLog.fs(warehouse, spark.sessionState.newHadoopConf())
    val ts0 = SegmentLog.read(fs, s"$warehouse/ttns/t").get.ts
    assert(ts0 > 0, "commits must carry a wall-clock stamp")
    spark.sql("INSERT INTO graft.ttns.t SELECT id FROM range(100, 105)")
    val ts1 = SegmentLog.read(fs, s"$warehouse/ttns/t").get.ts
    assert(ts1 > ts0, "stamps are monotonized across commits")
    def litOf(ms: Long): String = {
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochMilli(ms), zone)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    }
    def countAt(ms: Long): Long =
      spark.sql(s"SELECT count(*) FROM graft.ttns.t TIMESTAMP AS OF '${litOf(ms)}'")
        .head().getLong(0)
    assert(countAt(ts0) == 10, "a commit's own stamp replays its snapshot")
    assert(countAt(ts1) == 15)
    // between commits: binds DOWN to the newest version at or before t
    assert(countAt(ts1 - 1) == 10)
    // a future timestamp IS the latest table
    assert(countAt(ts1 + 60000) == 15)
    // before the oldest stamped commit: loud error, never a guess
    val e = intercept[Exception] { countAt(ts0 - 3600000) }
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("precedes the oldest retained commit"))
    // the read-option face shares the binder
    assert(spark.read.format("graft-segment")
      .option("timestampAsOf", ts0.toString).load(s"$warehouse/ttns/t").count() == 10)
    spark.sql("DROP TABLE graft.ttns.t")
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("numPartitions is validated at CREATE, not at the first INSERT") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    // a persisted bad count would otherwise fail far from its cause,
    // inside the first INSERT's repartition — reject the REQUEST,
    // with the same clear-message contract as the sibling properties
    for (bad <- Seq("eight", "0", "-4")) {
      val e = intercept[IllegalArgumentException] {
        spark.sql("CREATE TABLE graft.db.np_bad (k BIGINT, v BIGINT) " +
          s"TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='$bad')")
      }
      assert(e.getMessage.contains("numPartitions"), s"got: ${e.getMessage}")
    }
    spark.sql("CREATE TABLE graft.db.np_ok (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='3')")
    spark.sql("INSERT INTO graft.db.np_ok SELECT id, id * 2 FROM range(0, 30)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.np_ok")
      .collect().head.getLong(0) === 30L)
  }

  test("withCatalog mints a fresh name per call and unsets its confs however the body exits") {
    val wh = Files.createTempDirectory("graft-scoped-wh").toString
    val before = spark.conf.getAll
    var names = Seq.empty[String]
    val rows = GraftCatalog.withCatalog(spark, wh) { cat =>
      names :+= cat
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2)")
      // a frame analyzed in the scope stays executable after it
      spark.sql(s"SELECT k FROM $cat.db.t")
    }
    assert(spark.conf.getAll === before)
    assert(rows.count() === 2L)
    intercept[IllegalStateException] {
      GraftCatalog.withCatalog(spark, wh) { cat =>
        names :+= cat
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) === 2L)
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll === before)
    assert(names.distinct.size === 2 && names.forall(_.startsWith("graft_")))
  }

  test("store_segment_call and store_segment_spj_join leave spark.conf as they found it") {
    // the smallest scale listed in TESTDATA.md
    val sf = "/root/testdata/sf0.001"
    Seq("store_segment_call", "store_segment_spj_join").foreach { name =>
      val before = spark.conf.getAll
      assert(SparkEntry.queries(name)(spark, sf).collect().nonEmpty, name)
      assert(spark.conf.getAll === before, name)
    }
  }
}
