package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Per-query physical-plan fingerprints → `plans/fingerprints.json`:
  * `runMain graft.PlanAudit [sfDir]` (default: the sf0.01 dataset).
  *
  * Every certified query runs (sorted by name) in one session of
  * [[Cores]] threads: its build, then a `noop` write of its result.
  * [[WorkCounters.observe]] collects the plan of every SQL execution
  * those run — the final write, and the `localCheckpoint`s, counts and
  * writes inside the build — and the query's fingerprint counts the executed
  * physical nodes over all of them, subqueries included:
  * `executions`, the query's work counters (`jobs`, `stages`, `tasks`,
  * `input_records`, `batches`), then one entry per node class
  * (`ShuffleExchangeExec(HashPartitioning)` names its partitioning).
  * The file holds one line per query, so `git diff` names every query
  * whose plan or work moved. Shuffle bytes stay out: they drift by
  * under 1% between two runs at one commit.
  *
  * AQE is off in this session: with it on, a query's final plan
  * depends on which of its shuffle stages finishes first (four queries
  * flipped between two runs at one commit), so the file would not
  * reproduce. */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** Fixed, so the file does not depend on the box that writes it. */
  val Cores = 4

  val Out = "plans/fingerprints.json"

  private def nodeName(p: SparkPlan): String = p match {
    case e: ShuffleExchangeExec =>
      s"ShuffleExchangeExec(${e.outputPartitioning.getClass.getSimpleName.stripSuffix("$")})"
    case _ => p.getClass.getSimpleName.stripSuffix("$")
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.build(Cores)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
      val (failed, work) = WorkCounters.observe(spark) {
        try { build(spark, d).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      }
      failed.foreach(e => System.err.println(s"[planaudit] $name failed: $e"))
      val counts = work.plans.flatMap(p => collectWithSubqueries(p) { case n => nodeName(n) })
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sorted
      val t = work.totals
      val fields = Seq("executions" -> work.plans.size.toLong, "jobs" -> t.jobs,
        "stages" -> t.stages, "tasks" -> t.tasks, "input_records" -> t.inputRecords,
        "batches" -> t.batches) ++ failed.map(_ => "failed" -> 1L) ++ counts
      s"\"$name\": " + fields.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}")
    }
    Files.createDirectories(Paths.get(Out).getParent)
    Files.writeString(Paths.get(Out), lines.mkString("{\n", ",\n", "\n}\n"))
    println(s"PLANAUDIT ${lines.size} queries -> $Out")
    spark.stop()
  }
}
