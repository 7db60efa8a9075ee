package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.functions._

import graft.sources.segment.{DeletionVector, GraftCatalog, GraftMaintenance, Manifest,
  SegmentLog, SegmentMeta}

/** `SegmentLog.commitRewrite`, the one commit of every operation that
  * replaces, re-vectors or drops live segments. Called with a stale
  * base, it must keep a concurrent append in every shape, refuse a
  * rival vector on a target and a target the base does not hold, and
  * drop a segment whose vector covers every row. The route cases pin
  * its layout rule on one range-clustered table: only a commit that
  * replaces and appends nothing keeps the declared layout. */
class SegmentRewriteCommitSpec extends SparkSpec {

  private val Fmt = "graft-segment"
  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString
  private def hconf = spark.sessionState.newHadoopConf()

  /** A two-segment path table, its manifest before a rival append, and
    * the rival's appended segment. */
  private def staleBase(prefix: String): (String, Manifest, SegmentMeta) = {
    val dir = tmp(prefix)
    spark.range(200).select(col("id"), (col("id") % 7).as("k")).repartition(2)
      .write.format(Fmt).mode("append").save(dir)
    val fs = SegmentLog.fs(dir, hconf)
    val m0 = SegmentLog.read(fs, dir).get
    assert(m0.segments.size == 2)
    spark.range(1000, 1010).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.format(Fmt).mode("append").save(dir)
    val rival = SegmentLog.read(fs, dir).get.segments.last
    (dir, m0, rival)
  }

  private def vector(dir: String, rows: Long*): (String, Long) =
    DeletionVector.writeUnion(SegmentLog.fs(dir, hconf), dir, None,
      DeletionVector.fromPositions(rows), Long.MaxValue)

  test("commitRewrite over a stale base keeps a concurrent append in every shape") {
    case class Shape(name: String, replace: Boolean, vectors: Boolean, append: Boolean,
        dataChange: Boolean = true)
    Seq(Shape("replace", replace = true, vectors = false, append = true),
      Shape("vectors only", replace = false, vectors = true, append = false),
      Shape("vectors plus append", replace = false, vectors = true, append = true),
      Shape("dataChange=false replace plus append", replace = true, vectors = false,
        append = true, dataChange = false)).foreach { shape =>
      val (dir, m0, rival) = staleBase("graft-rewrite-shape")
      val fs = SegmentLog.fs(dir, hconf)
      val Seq(s0, s1) = m0.segments
      val vecs: Map[String, (String, Long)] =
        if (shape.vectors) Map(s1.path -> vector(dir, 0L, 1L, 2L)) else Map.empty
      val out = if (shape.append) Seq(s0.copy(id = -1L, dv = None, dvRows = 0L)) else Nil
      val v = SegmentLog.commitRewrite(fs, dir, Some(m0),
        if (shape.replace) Set(s0.path) else Set.empty, vecs, out, "test rewrite",
        dataChange = shape.dataChange)
      val m = SegmentLog.read(fs, dir).get
      assert(m.version == v)
      assert(m.segments.exists(_.id == rival.id),
        s"${shape.name}: the concurrent append must survive")
      assert(m.segments.exists(_.id == s0.id) != shape.replace,
        s"${shape.name}: a replaced target leaves, a kept one stays")
      if (shape.vectors)
        assert(m.segments.find(_.id == s1.id).map(_.dvRows).contains(3L),
          s"${shape.name}: the vector is swapped in")
      assert(m.segments.count(_.id > rival.id) == out.size,
        s"${shape.name}: the output is appended once")
      if (!shape.dataChange) {
        assert(m.compactedThrough == rival.id && m.truncateWatermark == m0.truncateWatermark,
          s"${shape.name}: a dataChange=false rewrite marks compaction, not a truncate")
        assert(m.segments.filter(_.id > rival.id).forall(!_.dataChange))
      } else assert(m.truncateWatermark == rival.id)
    }
  }

  test("commitRewrite: a rival vector on a target throws and commits nothing") {
    val (dir, m0, _) = staleBase("graft-rewrite-rival")
    val fs = SegmentLog.fs(dir, hconf)
    val s0 = m0.segments.head
    val live = SegmentLog.read(fs, dir).get
    val (rivalDv, n) = vector(dir, 5L)
    val rivalV = SegmentLog.commit(fs, dir, live.schema,
      live.segments.map(s => if (s.id == s0.id) s.copy(dv = Some(rivalDv), dvRows = n) else s),
      truncate = true)
    val e = intercept[ConcurrentModificationException] {
      SegmentLog.commitRewrite(fs, dir, Some(m0), Set.empty,
        Map(s0.path -> vector(dir, 0L)), Nil, "test rewrite")
    }
    assert(e.getMessage.contains("row visibility"))
    assert(SegmentLog.latestVersion(fs, dir) == rivalV)
  }

  test("commitRewrite refuses a target absent from the base") {
    val (dir, m0, rival) = staleBase("graft-rewrite-absent")
    val fs = SegmentLog.fs(dir, hconf)
    val before = SegmentLog.latestVersion(fs, dir)
    // the rival's segment is live now, but the base never held it
    val e = intercept[IllegalArgumentException] {
      SegmentLog.commitRewrite(fs, dir, Some(m0), Set(rival.path), Map.empty, Nil,
        "test rewrite")
    }
    assert(e.getMessage.contains("not live in the planned manifest") &&
      e.getMessage.contains(rival.path), e.getMessage)
    assert(SegmentLog.latestVersion(fs, dir) == before)
  }

  test("commitRewrite drops a segment whose vector covers every row") {
    val (dir, m0, rival) = staleBase("graft-rewrite-dead")
    val fs = SegmentLog.fs(dir, hconf)
    val Seq(s0, s1) = m0.segments
    SegmentLog.commitRewrite(fs, dir, Some(m0), Set.empty,
      Map(s0.path -> vector(dir, 0L until s0.rows: _*)), Nil, "test rewrite")
    val m = SegmentLog.read(fs, dir).get
    assert(m.segments.map(_.id) == Seq(s1.id, rival.id))
    assert(spark.read.format(Fmt).load(dir).count() == s1.rows + rival.rows)
  }

  test("deleteMark of every row of a segment drops it and writes no sidecar") {
    val dir = tmp("graft-rewrite-dead-mark")
    Seq((0L, 100L), (100L, 200L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).coalesce(1).write.format(Fmt).mode("append").save(dir)
    }
    assert(GraftMaintenance.deleteMark(spark, dir, col("id") < 100L) == 100L)
    val m = manifest(dir)
    assert(m.segments.size == 1 && m.segments.forall(_.dv.isEmpty))
    val dvs = new java.io.File(s"$dir/${SegmentLog.DataDir}").list().filter(_.endsWith(".dv"))
    assert(dvs.isEmpty, s"unreferenced sidecars: ${dvs.mkString(", ")}")
    assert(spark.read.format(Fmt).load(dir).count() == 100L)
  }

  /** `body(catalog, tableDir)` over a catalog table range-clustered on
    * `k` into four segments of 100 rows each. */
  private def withRangeTable[T](body: (String, String) => T): T = {
    val wh = tmp("graft-rewrite-routes")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('clusterBy'='k', 'numPartitions'='4')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 10 FROM range(0, 400)")
      val dir = s"$wh/db/t"
      assert(manifest(dir).bucketing.exists(_.mode == "range"), "declared range layout")
      body(cat, dir)
    }
  }

  private def manifest(dir: String): Manifest =
    SegmentLog.read(SegmentLog.fs(dir, hconf), dir).get

  test("deleteMark keeps the declared layout and its vectors, even at 70% deleted") {
    withRangeTable { (cat, dir) =>
      val before = manifest(dir).segments.map(_.path).toSet
      assert(GraftMaintenance.deleteMark(spark, dir, col("k") % 10 < 7) == 280L)
      val m = manifest(dir)
      assert(m.bucketing.isDefined, "a vectors-only commit keeps the declared layout")
      // the explicit vector tier is never purged: compactDeletes cleans it
      assert(m.segments.map(_.path).toSet == before && m.segments.forall(_.dv.isDefined),
        "a 70% deleteMark keeps its vectors")
      assert(m.segments.map(_.dvRows).sum == 280L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0) == 120L)
    }
  }

  test("updateMark, compactSegments and a copy-on-write UPDATE drop the declared layout") {
    withRangeTable { (_, dir) =>
      GraftMaintenance.updateMark(spark, dir, col("k") === 3L, Map("v" -> lit(-1L)))
      assert(manifest(dir).bucketing.isEmpty, "updateMark appends unlabeled versions")
    }
    withRangeTable { (_, dir) =>
      GraftMaintenance.compactSegments(spark, dir, manifest(dir).segments.take(1).map(_.path))
      assert(manifest(dir).bucketing.isEmpty, "a partial compaction replaces segments")
    }
    withRangeTable { (cat, dir) =>
      spark.sql(s"UPDATE $cat.db.t SET v = -1 WHERE k = 3")
      assert(manifest(dir).bucketing.isEmpty, "a copy-on-write UPDATE replaces segments")
      assert(spark.sql(s"SELECT v FROM $cat.db.t WHERE k = 3").head().getLong(0) == -1L)
    }
  }

  test("compactDeletes on an empty directory names the missing table") {
    val dir = tmp("graft-rewrite-empty")
    val e = intercept[IllegalArgumentException](GraftMaintenance.compactDeletes(spark, dir))
    assert(e.getMessage == s"no graft-segment table at $dir")
  }
}
