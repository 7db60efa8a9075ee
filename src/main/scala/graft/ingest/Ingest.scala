package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.model.Model

/** Ingest-edge operators: parse (P1), validate (V1/V2), idempotency key
  * (K1), enrich (E1) — the reference's front door
  * (reference src/ingest_order/app.py:13-92).
  *
  * All operators are pure `Column` expressions / declarative DataFrame
  * transforms (no UDFs) and run identically in batch and streaming plans.
  * Nothing here shuffles — the whole ingest edge is a narrow map stage,
  * which is exactly what you want in front of 100 TB: validation and
  * key-derivation cost scales linearly with input and never repartitions.
  */
object Ingest {

  // ---------------------------------------------------------------------
  // P1 — JSON parse with malformed-input split (the 202-vs-400 contract,
  // reference src/ingest_order/app.py:19,64-68).
  // ---------------------------------------------------------------------

  /** Parse a raw-JSON column against the OrderCreated schema. PERMISSIVE
    * `from_json` yields an all-null struct for malformed input (not a
    * null struct), so parse failure is detected via an explicit
    * corrupt-record field — the streaming analog of the reference's
    * HTTP 400. No inference: the schema is the declared contract
    * (SURVEY.md §1.3). */
  def parseOrders(raw: DataFrame, jsonCol: String): DataFrame = {
    val schemaWithCorrupt = Model.orderEventSchema.add("_corrupt_record", StringType)
    raw
      // a Generate: Catalyst pushes no filter on its output below it, so
      // a caller's filter and select read `order` and parse once per row
      .withColumn("order",
        explode(array(from_json(col(jsonCol), schemaWithCorrupt,
          Map("columnNameOfCorruptRecord" -> "_corrupt_record")))))
      .withColumn("parse_ok",
        col("order").isNotNull && col("order._corrupt_record").isNull)
  }

  // ---------------------------------------------------------------------
  // V1 — order-level validation (reference src/ingest_order/app.py:80-83):
  // customer_id present (string-ness is free from the schema), items
  // present and non-empty.
  // ---------------------------------------------------------------------
  def validOrder(order: Column): Column =
    order.getField("customer_id").isNotNull &&
      order.getField("items").isNotNull &&
      size(order.getField("items")) > 0

  // ---------------------------------------------------------------------
  // V2 — per-item validation (reference src/ingest_order/app.py:85-90):
  // every item has product_id and an int quantity > 0. Expressed with the
  // `forall` higher-order function — no UDF, but interpreted: ArrayForAll
  // has no codegen in Spark 4.1 and evaluates its input per row, which is
  // why parseOrders hands it a generated column rather than the parse.
  // ---------------------------------------------------------------------
  def validItems(items: Column): Column =
    forall(items, i =>
      i.getField("product_id").isNotNull &&
        i.getField("quantity").isNotNull &&
        i.getField("quantity") > 0)

  // ---------------------------------------------------------------------
  // K1 — deterministic idempotency key (reference
  // src/ingest_order/app.py:28-32): md5 of the canonical payload,
  // formatted as a UUID. Canonical form here is the pipe-joined field
  // list (engine-internal contract; byte-level divergence from Python's
  // json.dumps documented in SURVEY.md §7.4.3). Same payload ⇒ same key,
  // which is what makes redelivery dedup (A3) and the double-charge guard
  // work end-to-end.
  // ---------------------------------------------------------------------

  /** Format 32 hex chars as 8-4-4-4-12 UUID. */
  def uuidFromHex(h: Column): Column =
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))

  /** md5 over a canonical pipe-joined rendering of the key fields.
    * Field order is pinned by the caller (SURVEY.md §2.2-K1: canonical
    * order must be fixed for hash parity). */
  def idempotencyKey(cols: Column*): Column =
    uuidFromHex(md5(concat_ws("|", cols: _*)))

  /** Canonical-JSON variant for full reference parity of shape:
    * md5(to_json(struct(c, i))) — matches the reference's
    * {"c": customer_id, "i": items} canonicalization modulo whitespace. */
  def idempotencyKeyJson(customerId: Column, items: Column): Column =
    uuidFromHex(md5(to_json(struct(customerId.as("c"), items.as("i")))))

  // ---------------------------------------------------------------------
  // Adapters over the driver's `events` table (TESTDATA.md) — the same
  // operators applied to the generic event stream: parse the `props` JSON
  // payload, validate, key, dedup. These back the oracle-checked queries
  // in SparkEntry.
  // ---------------------------------------------------------------------

  /** P1+V1 on events: extract props.k, stamp a validity verdict.
    * Validation semantics mirror the reference's `quantity > 0` check
    * (src/ingest_order/app.py:89-90): a positive measure and a known
    * event type are required. */
  def parseAndValidateEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      (col("user_id").isNotNull &&
        col("event_type").isNotNull &&
        get_json_object(col("props"), "$.k").isNotNull &&
        col("value") >= 1.0).as("is_valid"))

  /** The 202/400 split as counts per verdict class. */
  def rejectSplit(events: DataFrame): DataFrame =
    parseAndValidateEvents(events)
      .groupBy(col("is_valid"))
      .agg(count(lit(1)).as("n"))

  /** K1 on events: deterministic UUID-shaped key from the canonical
    * (user_id, event_type, event_id) triple. */
  def eventKeys(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      idempotencyKey(col("user_id"), col("event_type"), col("event_id"))
        .as("order_id"))

  /** E1 analog on events: enrich with a formatted customer id and the
    * parsed payload field. */
  def enrichEvents(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      // NULL-in/NULL-out: java.util.Formatter would render a NULL arg as
      // the string "null"; pin SQL semantics instead
      when(col("user_id").isNull, lit(null))
        .otherwise(format_string("cust-%05d", col("user_id"))).as("customer_id"),
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
}
