package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.functions._

import graft.sources.segment.{GraftCatalog, GraftMaintenance, SegmentLog}

/** Conflict-checked rebase commits on the graft-segment log: a
  * replace-style commit (compaction, merge-on-read patch, copy-on-write
  * rewrite, metadata DELETE) that loses the version slot re-derives its
  * carried-over segment list from the fresh manifest — a concurrent
  * append SURVIVES the rewrite instead of silently vanishing — and a
  * rival row-level change to a planned target fails loudly
  * (ConcurrentModificationException) instead of resurrecting deleted
  * rows. The Delta conflict-rebase shape, built on the log's
  * exclusive-create optimistic protocol. */
class ConcurrentCommitSpec extends SparkSpec {

  private val Fmt = "graft-segment"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def hconf = spark.sessionState.newHadoopConf()

  test("rebase: a concurrent append that steals the slot survives a replace-style commit") {
    val dir = tmp("graft-cc-rebase")
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .write.format(Fmt).mode("append").save(dir)
    val fs = SegmentLog.fs(dir, hconf)
    val m0 = SegmentLog.read(fs, dir).get
    val seg0 = m0.segments.head

    var calls = 0
    val v = SegmentLog.commitRebase(fs, dir) { mOpt =>
      calls += 1
      if (calls == 1) {
        // a rival append lands between our manifest read and our slot
        // claim (same thread — commitLock is re-entrant; cross-driver
        // this is the FileAlreadyExists race): it references the same
        // data file under a fresh segment id, stealing our version slot
        SegmentLog.commit(fs, dir, m0.schema,
          Seq(seg0.copy(id = -1L)), truncate = false)
      }
      val mm = mOpt.get
      // our operation: a keep-everything maintenance rewrite — on the
      // stale first attempt it would have carried ONE segment; the
      // rebased retry must carry the rival's append too
      Some(SegmentLog.CommitPlan(mm.schema, mm.segments,
        truncate = true, dataChange = false))
    }

    assert(calls == 2, "the lost slot must force a re-derivation")
    val mF = SegmentLog.read(fs, dir).get
    assert(mF.version == v)
    assert(mF.segments.size == m0.segments.size + 1,
      "the concurrent append must survive the rebased replace commit")
    assert(spark.read.format(Fmt).load(dir).count() == 100 + seg0.rows)
  }

  test("conflict: a rival deletion vector on a planned target fails the rebase loudly") {
    val dir = tmp("graft-cc-conflict")
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .write.format(Fmt).mode("append").save(dir)
    val fs = SegmentLog.fs(dir, hconf)
    val m0 = SegmentLog.read(fs, dir).get
    val seg0 = m0.segments.head
    // the operation planned its output against seg0's current visibility
    val expect = SegmentLog.visibilityOf(m0.segments, Set(seg0.path))

    var calls = 0
    val e = intercept[ConcurrentModificationException] {
      SegmentLog.commitRebase(fs, dir) { mOpt =>
        calls += 1
        if (calls == 1) {
          // rival merge-on-read DELETE patches the target's dv while we
          // race for the slot
          SegmentLog.commit(fs, dir, m0.schema,
            Seq(seg0.copy(dv = Some("data/rival.dv"), dvRows = 1L)),
            truncate = true)
        }
        SegmentLog.requireTargetsUnchanged(mOpt, expect, "test rewrite")
        val mm = mOpt.get
        Some(SegmentLog.CommitPlan(mm.schema,
          mm.segments.filterNot(_.path == seg0.path), truncate = true))
      }
    }
    assert(calls == 2)
    assert(e.getMessage.contains("row visibility"))
    // nothing was committed past the rival's version: the target's rows
    // were not resurrected and the kept list was not clobbered
    val mF = SegmentLog.read(fs, dir).get
    assert(mF.segments.exists(s => s.path == seg0.path && s.dvRows == 1L))
  }

  test("conflict: a planned target removed by a rival commit fails the rebase loudly") {
    val m = Some(graft.sources.segment.Manifest(0L,
      new org.apache.spark.sql.types.StructType(), Nil))
    val e = intercept[ConcurrentModificationException] {
      SegmentLog.requireTargetsUnchanged(m,
        Map("data/gone.seg" -> ((None, 0L))), "test rewrite")
    }
    assert(e.getMessage.contains("removed or rewrote"))
    // identical fingerprints pass
    SegmentLog.requireTargetsUnchanged(None, Map.empty, "noop")
  }

  test("no lost appends: concurrent appenders race repeated full compactions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global

    val dir = tmp("graft-cc-stress")
    spark.range(0, 400).select(col("id"), (col("id") % 5).as("k"))
      .repartition(4)
      .write.format(Fmt).mode("append").save(dir)
    val fs = SegmentLog.fs(dir, hconf)

    val appends = 10
    val appender = Future {
      (0 until appends).foreach { i =>
        spark.range(1000L + i, 1001L + i)
          .select(col("id"), (col("id") % 5).as("k"))
          .write.format(Fmt).mode("append").save(dir)
      }
    }
    val compactor = Future {
      (0 until 5).foreach { _ =>
        val live = SegmentLog.read(fs, dir).map(_.segments.map(_.path)).getOrElse(Nil)
        // rebase makes rival APPENDS survive; a concurrent visibility
        // change on a target would CME (none here — appends only), and
        // vanished targets can only be this thread's own prior work
        if (live.nonEmpty) GraftMaintenance.compactSegments(spark, dir, live)
      }
    }
    Await.result(appender, 120.seconds)
    Await.result(compactor, 120.seconds)

    val back = spark.read.format(Fmt).load(dir)
    assert(back.count() == 400L + appends,
      "every concurrent append must survive the compactions")
    assert(back.filter(col("id") >= 1000).count() == appends)
  }

  test("ndvMerged under contention: racing appenders + compactions leave the table sketch == full recompute") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    import graft.sources.segment.SegmentNdv

    // a catalog table so ndvFor PERSISTS — compaction rewrites then
    // re-sketch from the manifest property
    val wh = tmp("graft-cc-ndv-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, k STRING) " +
        "TBLPROPERTIES ('ndvFor' = 'id,k')")
      val dir = s"$wh/db/t"
      spark.sql(s"INSERT INTO $cat.db.t " +
        "SELECT id, CAST(id % 5 AS STRING) FROM range(0, 400)")
      val fs = SegmentLog.fs(dir, hconf)

      // two appender threads interleave the incremental fast path; the
      // compactor forces full recomputes mid-chain (truncate-style
      // commits); every commit re-derives against the manifest it
      // actually raced, so the stored merge can never go stale
      val a1 = Future {
        (0 until 8).foreach { i =>
          spark.sql(s"INSERT INTO $cat.db.t VALUES " +
            s"(${1000 + i}, CAST(${1000 + i} AS STRING))")
        }
      }
      val a2 = Future {
        (0 until 8).foreach { i =>
          spark.sql(s"INSERT INTO $cat.db.t VALUES " +
            s"(${2000 + i}, CAST(${2000 + i} AS STRING))")
        }
      }
      val compactor = Future {
        (0 until 4).foreach { _ =>
          val live = SegmentLog.read(fs, dir).map(_.segments.map(_.path)).getOrElse(Nil)
          if (live.nonEmpty) GraftMaintenance.compactSegments(spark, dir, live)
        }
      }
      Await.result(a1, 120.seconds)
      Await.result(a2, 120.seconds)
      Await.result(compactor, 120.seconds)

      val m = SegmentLog.read(fs, dir).get
      for (c <- Seq("id", "k")) {
        val recomputed = SegmentNdv.merge(
          m.segments.map(s => SegmentNdv.decode(s.stats(c).kmv.get)))
        assert(m.ndvMerged(c) == SegmentNdv.encode(recomputed),
          s"table sketch for $c diverged from the per-segment merge under contention")
      }
      // and the estimate is sane: 416 distinct ids (saturated arm),
      // 21 distinct k (exact arm)
      assert(math.round(SegmentNdv.estimateMerged(
        SegmentNdv.decode(m.ndvMerged("k")))) == 21L)
      val idNdv = math.round(SegmentNdv.estimateMerged(
        SegmentNdv.decode(m.ndvMerged("id"))))
      assert(idNdv > 300 && idNdv < 550, s"id NDV estimate $idNdv (true 416)")
    }
  }

  test("histMerged/shistMerged under contention: table maps == per-segment merge == exact GROUP BY") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    import graft.sources.segment.SegmentHistogram

    val wh = tmp("graft-cc-hist-wh")
    GraftCatalog.withCatalog(spark, wh) { cat =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.t (k INT, tag STRING) " +
        "TBLPROPERTIES ('histFor' = 'k,tag')")
      val dir = s"$wh/db/t"
      spark.sql(s"INSERT INTO $cat.db.t SELECT CAST(id % 7 AS INT), " +
        "concat('t', id % 5) FROM range(0, 400)")
      val fs = SegmentLog.fs(dir, hconf)

      // both map arms ride the same incremental fast path the appenders
      // interleave and the same full recompute the compactor forces —
      // frequency addition must stay exact through every rebase
      val a1 = Future {
        (0 until 8).foreach(i => spark.sql(
          s"INSERT INTO $cat.db.t VALUES (${i % 7}, concat('t', ${i % 5}))"))
      }
      val a2 = Future {
        (0 until 8).foreach(i => spark.sql(
          s"INSERT INTO $cat.db.t VALUES (${(i + 3) % 7}, concat('t', ${(i + 2) % 5}))"))
      }
      val compactor = Future {
        (0 until 4).foreach { _ =>
          val live = SegmentLog.read(fs, dir).map(_.segments.map(_.path)).getOrElse(Nil)
          if (live.nonEmpty) GraftMaintenance.compactSegments(spark, dir, live)
        }
      }
      Await.result(a1, 120.seconds)
      Await.result(a2, 120.seconds)
      Await.result(compactor, 120.seconds)

      val m = SegmentLog.read(fs, dir).get
      // stored merges == from-scratch per-segment merges
      assert(m.histMerged("k") == SegmentHistogram.encode(SegmentHistogram.merge(
        m.segments.map(s => SegmentHistogram.decode(s.stats("k").hist.get))).get))
      assert(m.shistMerged("tag") == SegmentHistogram.encodeStr(SegmentHistogram.mergeStr(
        m.segments.map(s => SegmentHistogram.decodeStr(s.stats("tag").shist.get))).get))
      // and both equal the exact GROUP BY over the final table
      val rows = spark.sql(s"SELECT k, tag FROM $cat.db.t").collect()
      val kTruth = rows.groupBy(_.getInt(0)).view
        .map { case (k, rs) => k.toLong -> rs.length.toLong }.toMap
      assert(SegmentHistogram.decode(m.histMerged("k")).toMap == kTruth)
      val tagTruth = rows.groupBy(_.getString(1)).view
        .map { case (t, rs) => t -> rs.length.toLong }.toMap
      assert(SegmentHistogram.decodeStr(m.shistMerged("tag"))
        .map { case (v, n) => v.toString -> n }.toMap == tagTruth)
      assert(rows.length == 416)
    }
  }
}
