package graft.streaming

/** Overlap a batch's INDEPENDENT Spark actions (guide §2.6): inside a
  * foreachBatch, each output/state write is its own job, and run
  * serially each pays a scheduler round-trip while the cluster sits in
  * the previous job's tail. Callers pass actions that are mutually
  * independent — disjoint output dirs, inputs already materialized —
  * and this runs them from a small pool, waits for EVERY action, then
  * rethrows the first failure, so the batch (and the stream checkpoint
  * that only commits after foreachBatch returns) still fails atomically
  * and no sibling write is still running when the caller sees it. */
object Overlap {

  /** Run every action and wait for all of them; if any failed, rethrow
    * the first failure (in action order) with the others attached via
    * `addSuppressed`.
    *
    * The pool is per call, and that is deliberate. Actions may nest
    * calls. And SparkContext local properties are inheritable
    * thread-locals, cloned when a thread is created: a per-call pool's
    * threads are created by the caller, so the overlapped jobs carry
    * the caller's job group (which `StreamingQuery.stop` cancels), its
    * `streaming.sql.batchId` (which [[graft.WorkCounters]] attributes
    * jobs by) and its SQL execution id. A shared pool's threads would
    * keep whatever properties they were first created under. */
  def awaitAll(actions: Seq[() => Unit]): Unit = {
    if (actions.size <= 1) { actions.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, actions.size))
    val failures = try
      actions
        .map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = a()
        }))
        .flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
    finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }
}
