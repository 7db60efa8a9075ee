package graft

import java.io.DataInputStream
import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.segment.{GraftCatalog, SegmentCodec, SegmentLog, SegmentMeta}

/** Every write route inherits a table's declarations: one catalog
  * table declares a bloom, an NDV sketch and a histogram on `v`,
  * deflate bodies, a CHECK constraint and a generated column, and each
  * route (INSERT, a streaming-sink epoch, copy-on-write and
  * merge-on-read UPDATE, a MERGE insert, CTAS, `CALL ...compact`) must
  * land segments that carry all of them. */
class SegmentWriteRoutesSpec extends SparkSpec {

  private val Fmt = "graft-segment"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val Decls = "'bloomFor'='v', 'ndvFor'='v', 'histFor'='v', " +
    "'compress'='deflate', 'check.v_pos'='v > 0'"

  private def messageChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** `body(catalog, tableDir)` over a fresh catalog holding `db.t`
    * (declared as above, plus `extraProps`) with three rows. */
  private def withTable[T](extraProps: String = "")(body: (String, String) => T): T = {
    val wh = tmp("graft-routes-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT, " +
        s"d BIGINT GENERATED ALWAYS AS (v * 2)) TBLPROPERTIES ($Decls$extraProps)")
      spark.sql(s"INSERT INTO $cat.db.t (k, v) VALUES (1, 10), (2, 20), (3, 30)")
      body(cat, s"$wh/db/t")
    }
  }

  private def segments(dir: String): Seq[SegmentMeta] =
    SegmentLog.read(SegmentLog.fs(dir, spark.sessionState.newHadoopConf()), dir)
      .map(_.segments).getOrElse(Nil)

  /** Runs `route` and returns the live segments it added. */
  private def added(dir: String)(route: => Unit): Seq[SegmentMeta] = {
    val before = segments(dir).map(_.path).toSet
    route
    val out = segments(dir).filterNot(s => before.contains(s.path))
    assert(out.nonEmpty, "the route added no segment")
    out
  }

  private def headerVersion(dir: String, seg: SegmentMeta): Int = {
    val fs = SegmentLog.fs(dir, spark.sessionState.newHadoopConf())
    val in = new DataInputStream(fs.open(new Path(s"$dir/${seg.path}")))
    try SegmentCodec.readHeader(in, seg.cols.size) finally in.close()
  }

  private def assertDeclared(route: String, dir: String, segs: Seq[SegmentMeta]): Unit =
    segs.foreach { s =>
      val v = s.stats("v")
      assert(v.bloom.isDefined, s"$route: bloom(v) missing on ${s.path}")
      assert(v.kmv.isDefined, s"$route: ndv(v) missing on ${s.path}")
      assert(v.hist.isDefined || v.shist.isDefined, s"$route: hist(v) missing on ${s.path}")
      assert(headerVersion(dir, s) == SegmentCodec.VersionDeflate,
        s"$route: ${s.path} is not deflate-encoded")
    }

  private def assertGenerated(table: String): Unit =
    assert(spark.sql(s"SELECT count(*) FROM $table WHERE d IS NULL OR d <> v * 2")
      .head().getLong(0) == 0L, s"$table: a stored d differs from v * 2")

  private def assertRefused(route: String)(write: => Unit): Unit = {
    val e = intercept[Exception](write)
    assert(messageChain(e).contains("CHECK constraint v_pos"),
      s"$route: got ${messageChain(e)}")
  }

  test("INSERT inherits every declaration") {
    withTable() { (cat, dir) =>
      val segs = added(dir)(spark.sql(s"INSERT INTO $cat.db.t (k, v) VALUES (4, 40)"))
      assertDeclared("insert", dir, segs)
      assertGenerated(s"$cat.db.t")
      assertRefused("insert")(spark.sql(s"INSERT INTO $cat.db.t (k, v) VALUES (5, -1)"))
    }
  }

  test("a streaming-sink epoch inherits every declaration") {
    withTable() { (cat, dir) =>
      import spark.implicits._
      def epoch(rows: Seq[(Long, Long)]): Unit = {
        val src = s"${tmp("graft-routes-src")}/in"
        rows.toDF("k", "v").selectExpr("k", "v", "CAST(NULL AS BIGINT) AS d")
          .write.parquet(src)
        val q = spark.readStream.schema("k BIGINT, v BIGINT, d BIGINT").parquet(src)
          .writeStream.format(Fmt)
          .option("path", dir).option("checkpointLocation", tmp("graft-routes-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try {
          q.awaitTermination(120000)
          q.exception.foreach(throw _)
        } finally q.stop()
      }
      val segs = added(dir)(epoch(Seq(4L -> 40L, 5L -> 50L)))
      assertDeclared("stream", dir, segs)
      assertGenerated(s"$cat.db.t")
      assertRefused("stream")(epoch(Seq(6L -> -1L)))
    }
  }

  test("a copy-on-write UPDATE inherits every declaration") {
    withTable() { (cat, dir) =>
      val segs = added(dir)(spark.sql(s"UPDATE $cat.db.t SET v = v + 100, d = NULL WHERE k = 1"))
      assertDeclared("cow update", dir, segs)
      assertGenerated(s"$cat.db.t")
      assertRefused("cow update")(spark.sql(s"UPDATE $cat.db.t SET v = -v, d = NULL WHERE k = 2"))
    }
  }

  test("a merge-on-read UPDATE inherits every declaration") {
    withTable(", 'rowLevelMode'='mor'") { (cat, dir) =>
      val segs = added(dir)(spark.sql(s"UPDATE $cat.db.t SET v = v + 100, d = NULL WHERE k = 1"))
      assertDeclared("mor update", dir, segs)
      assertGenerated(s"$cat.db.t")
      assertRefused("mor update")(spark.sql(s"UPDATE $cat.db.t SET v = -v, d = NULL WHERE k = 2"))
    }
  }

  test("a MERGE insert inherits every declaration") {
    withTable() { (cat, dir) =>
      def merge(rows: String): Unit = spark.sql(
        s"""MERGE INTO $cat.db.t t USING (SELECT * FROM VALUES $rows AS s(k, v)) s
           |ON t.k = s.k WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      val segs = added(dir)(merge("(CAST(4 AS BIGINT), CAST(40 AS BIGINT))"))
      assertDeclared("merge insert", dir, segs)
      assertGenerated(s"$cat.db.t")
      assertRefused("merge insert")(merge("(CAST(5 AS BIGINT), CAST(-1 AS BIGINT))"))
    }
  }

  test("CTAS with TBLPROPERTIES inherits every declaration") {
    val wh = tmp("graft-routes-ctas-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      def ctas(name: String, sign: Int): Unit = spark.sql(
        s"CREATE TABLE $cat.db.$name TBLPROPERTIES ($Decls, 'gen.d'='v * 2') " +
          s"AS SELECT id AS k, $sign * (id + 1) AS v, CAST(NULL AS BIGINT) AS d " +
          "FROM range(0, 10)")
      ctas("c", 1)
      assertDeclared("ctas", s"$wh/db/c", segments(s"$wh/db/c"))
      assertGenerated(s"$cat.db.c")
      assertRefused("ctas")(ctas("bad", -1))
    }
  }

  test("CALL compact inherits every declaration") {
    withTable() { (cat, dir) =>
      spark.sql(s"INSERT INTO $cat.db.t (k, v) VALUES (4, 40)")
      // compaction rewrites rows that already passed the constraint,
      // so only the segments' declared shape is observable here
      val segs = added(dir)(spark.sql(s"CALL $cat.system.compact('db.t', 'k', 1)").collect())
      assertDeclared("compact", dir, segs)
      assertGenerated(s"$cat.db.t")
    }
  }

  test("maxRowsPerSegment rolls segments by row count; 0 is refused by name") {
    val dir = tmp("graft-seg-maxrows")
    spark.range(0, 1000).coalesce(1).write.format(Fmt)
      .option("maxRowsPerSegment", "100").mode("append").save(dir)
    val segs = segments(dir)
    assert(segs.size == 10, s"1000 rows at 100 per segment, got ${segs.size} segments")
    assert(segs.forall(_.rows == 100L))
    val e = intercept[Exception] {
      spark.range(0, 5).write.format(Fmt)
        .option("maxRowsPerSegment", "0").mode("append").save(dir)
    }
    assert(messageChain(e).contains("maxRowsPerSegment"), s"got: ${messageChain(e)}")
  }
}
