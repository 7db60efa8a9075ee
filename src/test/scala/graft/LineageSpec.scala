package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CheckpointDirBridge.withCheckpointDir
import org.apache.spark.sql.graftbridge.RddBridge

import graft.ops.Lineage

/** The one lineage-cut policy: the SparkContext's checkpoint dir (the
  * deployment's `spark.checkpoint.dir`) picks reliable cuts, and its
  * absence picks local ones. */
class LineageSpec extends SparkSpec {

  private def frame: DataFrame = spark.range(0L, 40L, 1L, 4).selectExpr("id", "id * 3 AS v")

  private def rows(df: DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.as[(Long, Long)].collect().toSeq.sorted
  }

  private def files(dir: Path): Long =
    Files.walk(dir).filter(Files.isRegularFile(_)).count()

  test("with no checkpoint dir, cut pins local blocks and writes no checkpoint files") {
    assert(spark.sparkContext.getCheckpointDir === None)
    val cut = Lineage.cut(frame)
    val rdd = RddBridge.checkpointedRdd(cut).get
    assert(rdd.getCheckpointFile === None)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(rows(cut) === rows(frame))
    Lineage.free(cut)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("under a scoped checkpoint dir, cut and cutLazy write checkpoint files and return equal rows") {
    val dir = Files.createTempDirectory("graft-lineage-ckpt")
    val (eager, lazyCut) = withCheckpointDir(spark, dir.toString) {
      val eager = Lineage.cut(frame)
      val eagerFiles = files(dir)
      assert(eagerFiles > 0, s"no checkpoint files under $dir")
      // a reliable cut is always eager: the files exist before any action
      val lazyCut = Lineage.cutLazy(frame)
      assert(files(dir) > eagerFiles)
      (eager, lazyCut)
    }
    Seq(eager, lazyCut).foreach { c =>
      val file = RddBridge.checkpointedRdd(c).flatMap(_.getCheckpointFile)
      assert(file.exists(_.contains(dir.getFileName.toString)), file)
      assert(rows(c) === rows(frame))
    }
    assert(spark.sparkContext.getCheckpointDir === None)
  }

  test("the scoped checkpoint dir is unset however its block exits") {
    val dir = Files.createTempDirectory("graft-lineage-throw")
    val e = intercept[IllegalStateException] {
      withCheckpointDir(spark, dir.toString) {
        assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dir.getFileName.toString)))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.sparkContext.getCheckpointDir === None)
  }
}
