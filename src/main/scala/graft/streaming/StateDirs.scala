package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Hadoop-FS state-directory discovery shared by the state-dir
  * streaming drivers: the digest and claim sets of [[DedupIngest]],
  * [[NearDupIngest]] and [[CurationIngest]], the staged increments of
  * [[AnnIngest]], and the bucket tables of
  * [[SegmentStateIngest.runBucketed]]. Fold state itself lives in
  * graft-segment tables ([[SegmentStateIngest]]).
  *
  * These drivers' exactly-once merge contract hinges on each batch
  * SEEING the prior batches' state dirs ("strictly before my
  * batchId"). A `java.io.File` listing sees only the driver-local
  * filesystem: on HDFS/S3/abfs it silently returns nothing, every
  * batch believes it is the first, and the contract breaks with no
  * error. Routing discovery (and dir creation) through the path's own
  * `FileSystem` — exactly like the drivers' delete/prune paths already
  * do — makes `file:`, `hdfs:`, `s3a:` and plain local paths behave
  * identically.
  */
object StateDirs {

  /** `prefix`-keyed state dirs directly under `stateDir` whose numeric
    * suffix is strictly below `beforeBatch`, as (key, qualified path),
    * unsorted. Missing `stateDir` lists as empty (first batch ever). */
  def list(
      conf: Configuration,
      stateDir: String,
      prefix: String,
      beforeBatch: Long): Seq[(Long, String)] = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix))
          scala.util.Try(name.stripPrefix(prefix).toLong).toOption
            .filter(_ < beforeBatch)
            .map(_ -> st.getPath.toString)
        else None
      }
  }

  /** The union of the `prefix`-keyed dirs under `stateDir` whose key
    * is strictly below `beforeBatch`, read with `schema`; `None` when
    * there are none. Reading only earlier batches' dirs is the retry
    * contract: a failed attempt's own dir (keyed `beforeBatch`) must
    * not filter its replay. */
  def readBefore(
      spark: SparkSession,
      stateDir: String,
      prefix: String,
      schema: StructType,
      beforeBatch: Long): Option[DataFrame] = {
    val dirs = list(spark.sparkContext.hadoopConfiguration, stateDir, prefix, beforeBatch)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(schema).parquet(dirs.map(_._2): _*))
  }

  /** mkdir -p through the path's FileSystem (idempotent). */
  def ensure(conf: Configuration, stateDir: String): Unit = {
    val p = new Path(stateDir)
    p.getFileSystem(conf).mkdirs(p)
    ()
  }

  /** Recursive delete through the path's FileSystem. */
  def delete(conf: Configuration, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(conf).delete(p, true)
    ()
  }

  /** Fold all `prefix`-keyed state dirs into ONE, keyed by the
    * MINIMUM existing key — the claim/digest tables are SETS (their
    * consumers are semi/anti joins insensitive to duplicates), so the
    * union-distinct preserves semantics exactly while the read path
    * drops from O(batches) dirs to one. The min key (not 0) keeps a
    * bootstrap seed dir (`${prefix}-1`, strictly below every real
    * batchId) visible to batch 0 after compaction. MUST run between
    * streaming runs, never concurrently with one; crash after the
    * overwrite but mid-delete leaves stale dirs whose rows the target
    * already holds — harmless, next compaction sweeps them. Returns
    * the number of dirs folded away. */
  def compactPrefix(
      spark: SparkSession,
      stateDir: String,
      prefix: String,
      schema: StructType): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keyed = list(conf, stateDir, prefix, Long.MaxValue)
    if (keyed.size <= 1) 0
    else {
      val dirs = keyed.map(_._2)
      val target = s"$stateDir/$prefix${keyed.map(_._1).min}"
      // materialize BEFORE overwriting — the union's lineage reads the
      // very dirs the overwrite replaces
      val rows = spark.read.schema(schema).parquet(dirs: _*)
        .distinct().localCheckpoint()
      rows.write.mode("overwrite").parquet(target)
      val targetPath = new Path(target)
      dirs.filterNot(d => new Path(d).getName == targetPath.getName)
        .foreach(delete(conf, _))
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(rows)
      dirs.size - 1
    }
  }
}
