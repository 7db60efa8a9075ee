package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test-side bridge to the SparkContext's checkpoint dir, which picks
  * reliable over local cuts in [[graft.ops.Lineage]]. The public
  * `setCheckpointDir` can set it but never unset it; the
  * `private[spark]` field can, so a test turns reliable cuts on for one
  * block without leaving them on for every suite that runs after it.
  * Lives inside the org.apache.spark package tree for access, same
  * pattern as [[RddBridge]]. */
object CheckpointDirBridge {

  /** Run `body` with the context's checkpoint dir under `dir`, then
    * restore the prior value however `body` exits. */
  def withCheckpointDir[T](spark: SparkSession, dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prior
  }
}
