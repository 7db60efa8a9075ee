package graft

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.streaming.CheckoutStream

/** Ingest-edge parity with the reference's validation scenarios
  * (reference src/ingest_order/app.py:64-92; FIXTURES.md A.1/A.6). */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val validJson =
    """{"order_id":"o-1","customer_id":"cust-12345","items":[{"product_id":"prod-101","quantity":2}],"timestamp":"2026-02-13T10:00:00Z"}"""

  private def rawDf(rows: String*) = rows.toDF("body")

  test("P1: valid payload parses, malformed JSON is split out (400 path)") {
    val (valid, rejected) = CheckoutStream.parseOrderStream(
      rawDf(validJson, """{not json"""), "body")
    assert(valid.count() === 1)
    val rej = rejected.collect()
    assert(rej.length === 1 && rej(0).getAs[String]("reason") === "malformed_json")
  }

  test("V1: missing customer_id and empty items are rejected") {
    val noCust = """{"order_id":"o-2","items":[{"product_id":"p","quantity":1}]}"""
    val emptyItems = """{"order_id":"o-3","customer_id":"c","items":[]}"""
    val (valid, rejected) = CheckoutStream.parseOrderStream(rawDf(noCust, emptyItems), "body")
    assert(valid.count() === 0)
    assert(rejected.collect().map(_.getAs[String]("reason")).forall(_ == "invalid_order"))
  }

  test("V2: non-positive quantity rejected (reference scenario 3, quantity -5)") {
    val negQty =
      """{"order_id":"o-4","customer_id":"c","items":[{"product_id":"p","quantity":-5}]}"""
    val (valid, rejected) = CheckoutStream.parseOrderStream(rawDf(negQty, validJson), "body")
    assert(valid.count() === 1)
    val rej = rejected.collect()
    assert(rej.length === 1 && rej(0).getAs[String]("reason") === "invalid_items")
  }

  /** `from_json` expressions in the executed plan: each one parses every
    * row that reaches its operator. */
  private def jsonParses(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan
      .collect { case p => p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum }
      .sum

  test("P1: from_json runs once per row under a caller's filter and the valid/rejected split") {
    // a file scan, not a local Seq: the optimizer would fold a filter
    // over a local relation into constants and leave nothing to count
    val dir = java.nio.file.Files.createTempDirectory("graft-parse-once").toString
    rawDf(validJson, """{not json""").coalesce(1).write.mode("overwrite").text(dir)
    val raw = spark.read.text(dir).toDF("body")
    // the ingest composition a streaming caller builds on parseOrders:
    // validity filter, then a field select
    val parsed = Ingest.parseOrders(raw, "body")
    val composed = parsed
      .filter(parsed("parse_ok") && Ingest.validOrder(parsed("order")) &&
        Ingest.validItems(parsed("order.items")))
      .select(col("order.order_id"), col("order.items"),
        col("order.timestamp").cast("timestamp").as("event_time"))
    val (valid, rejected) = CheckoutStream.parseOrderStream(raw, "body")
    for ((name, df) <- Seq("composed" -> composed, "valid" -> valid, "rejected" -> rejected))
      assert(jsonParses(df) === 1, s"$name:\n${df.queryExecution.executedPlan}")
    assert(composed.collect().map(_.getString(0)).toSeq === Seq("o-1"))
  }

  test("K1: same payload => same key; different payload => different key; UUID shape") {
    val df = Seq(("cust-1", "a"), ("cust-1", "a"), ("cust-2", "b")).toDF("cust", "payload")
      .select(Ingest.idempotencyKey(col("cust"), col("payload")).as("k"))
    val keys = df.collect().map(_.getString(0))
    assert(keys(0) === keys(1))
    assert(keys(0) !== keys(2))
    assert(keys.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
  }

  test("K1 canonical-JSON variant is deterministic and field-order pinned") {
    val df = Seq(("cust-1", Seq(("prod-101", 2)))).toDF("customer_id", "raw_items")
      .select(Ingest.idempotencyKeyJson(
        col("customer_id"),
        transform(col("raw_items"),
          i => struct(i.getField("_1").as("product_id"), i.getField("_2").as("quantity"))))
        .as("k"))
    val k1 = df.collect()(0).getString(0)
    val k2 = df.collect()(0).getString(0)
    assert(k1 === k2)
  }
}
