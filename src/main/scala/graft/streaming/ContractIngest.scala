package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-contract enforcement at the ingest edge: every micro-batch is
  * split by ROW-LOCAL contract checks — passing rows flow to the
  * output, failing rows land in a quarantine table tagged with the
  * FIRST failing check's name (first-failing-wins keeps the reason
  * deterministic and the tag single-valued). The streaming form of
  * [[graft.ops.Expect]]'s row-local checks; cross-row contracts
  * (uniqueness, FK) stay batch audits ([[graft.ops.Expect.report]])
  * or join against a static dimension the caller bakes into a
  * predicate.
  *
  * The reference anchor is its 202/400 ingress split
  * (src/ingest_order/app.py:13-74) generalized from "parses and
  * validates" to arbitrary named contract predicates — the
  * quarantine-with-reason pattern every production ingest runs so
  * bad rows are INSPECTABLE, not dropped.
  *
  * Scale/retry shape: completely stateless — the split is one
  * codegen'd conditional projection per batch, outputs are per-batch
  * overwrite dirs keyed by batchId (retry rewrites, never
  * double-appends), and there is nothing to discover or merge. The
  * quarantined fraction of a healthy pipeline is ~0, so the
  * quarantine writes are small files by nature; compact downstream
  * if a bad upstream floods them. */
object ContractIngest {

  /** Drain `inDir` with AvailableNow semantics, splitting every batch
    * by `checks` (name → must-hold predicate, evaluated in order).
    * Returns the micro-batch count. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      quarantineDir: String,
      checkpoint: String,
      checks: Seq[(String, Column)]): Int = {
    require(checks.nonEmpty, "need at least one contract check")
    val reason = checks.foldLeft(lit(null).cast("string")) {
      case (acc, (name, pred)) => coalesce(acc, when(!pred, name))
    }
    Drain.eachBatch(Drain.files(spark, schema, inDir), checkpoint) { (batch, batchId) =>
      val tagged = batch.withColumn("quarantine_reason", reason)
        .localCheckpoint()
      // the admitted and quarantine writes are independent once
      // tagged is materialized (disjoint dirs) — overlap them,
      // guide §2.6
      Overlap.awaitAll(Seq(
        () => tagged.filter(col("quarantine_reason").isNull).drop("quarantine_reason")
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId"),
        () => tagged.filter(col("quarantine_reason").isNotNull)
          .write.mode("overwrite").parquet(s"$quarantineDir/batch_$batchId")))
      org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(tagged)
    }
  }
}
