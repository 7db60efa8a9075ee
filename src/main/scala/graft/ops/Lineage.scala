package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage-cut discipline for iterative loops (star-contraction CC,
  * BPE merge rounds, Lloyd iterations) and for frames read by several
  * consumers: each cut must materialize its frame AND cut the logical
  * plan, or planning cost doubles per round (measured minutes at 20
  * rounds on 500 docs with a persist-only formulation). Every operator
  * under `graft.ops` checkpoints through here, so one policy covers
  * the whole library.
  *
  * Two materializations, chosen by the deployment's
  * `spark.checkpoint.dir` (read by the SparkContext at start-up):
  *
  *  - unset → `localCheckpoint`: blocks live on executors, no
  *    filesystem round-trip — the fast path, and correct on `local[n]`
  *    where executor loss means JVM death anyway.
  *  - set → RELIABLE `checkpoint` under that dir: survives executor
  *    loss, which on a 1000-executor cluster mid-20-round-loop is an
  *    expectation, not an edge case — a lost localCheckpoint block
  *    there aborts the whole job because the truncated lineage cannot
  *    recompute it.
  *
  * Reliable checkpoint files accumulate one dir per cut; they belong
  * to the deployment (delete the dir after the job, or set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to GC them
  * with the RDDs).
  */
object Lineage {

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Materialize `df` eagerly and cut its lineage. */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(true) else df.localCheckpoint(true)

  /** Cut lineage LAZILY: the caller's next FULL-FRAME action (a
    * count()) materializes the blocks and truncates the plan in ONE
    * job where [[cut]]-then-count pays two — per round, in a loop that
    * is scheduler-bound rather than data-bound, that is the dominant
    * fixed cost. Local-checkpoint only: a lazy RELIABLE checkpoint
    * recomputes its whole lineage when writing the checkpoint files
    * (the classic rdd.checkpoint() double-compute), so reliable cuts
    * stay eager. The materializing action must cover every partition —
    * a limit()/take() would checkpoint only the partitions it touched. */
  def cutLazy(df: DataFrame): DataFrame =
    if (reliable(df)) cut(df) else df.localCheckpoint(false)

  /** Free the blocks pinned by a previous [[cut]]. Local-checkpoint
    * blocks are unpersisted immediately (leaving them for driver GC
    * strands rounds × partitions blocks); reliable checkpoints live in
    * files, for which this is a harmless no-op. */
  def free(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(df)
}
