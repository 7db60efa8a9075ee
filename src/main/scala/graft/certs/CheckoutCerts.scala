package graft
package certs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.notify.Notify
import graft.process.Checkout
import graft.sources.Tables

/** Checkout-parity certificates: the ingest edge (parse, validate, key,
  * enrich, dedup), order verdicts, inventory and notifications. */
object CheckoutCerts {

  lazy val certs: Seq[Cert] = Seq(
    // ----- ingest edge: P1/V1/V2 parse+validate, K1 key, E1 enrich, A3 dedup
    Cert("ingest_parse_validate", (s, d) =>
      Ingest.parseAndValidateEvents(Tables.events(s, d)).orderBy(col("event_id")),
      ("SELECT event_id, user_id, event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k, " +
        s"$validSql AS is_valid FROM events ORDER BY event_id")),
    Cert("ingest_reject_split", (s, d) =>
      Ingest.rejectSplit(Tables.events(s, d)).orderBy(col("is_valid")),
      (s"SELECT $validSql AS is_valid, CAST(count(*) AS BIGINT) AS n " +
        "FROM events GROUP BY 1 ORDER BY is_valid")),
    Cert("ingest_idempotency_key", (s, d) =>
      Ingest.eventKeys(Tables.events(s, d)).orderBy(col("event_id")),
      ("SELECT event_id, concat_ws('-', substr(h,1,8), substr(h,9,4), substr(h,13,4), substr(h,17,4), substr(h,21,12)) AS order_id " +
        "FROM (SELECT event_id, md5(concat_ws('|', user_id, event_type, event_id)) AS h FROM events) " +
        "ORDER BY event_id")),
    Cert("ingest_enrich", (s, d) =>
      Ingest.enrichEvents(Tables.events(s, d)).orderBy(col("event_id")),
      ("SELECT event_id, printf('cust-%05d', user_id) AS customer_id, event_type, " +
        "CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events ORDER BY event_id")),
    Cert("ingest_dedup_first", (s, d) =>
      Checkout.dedupFirstBy(
        Tables.events(s, d).select(col("user_id"), col("event_type"), col("event_id")),
        Seq("user_id", "event_type"), "event_id")
        .orderBy(col("user_id"), col("event_type")),
      ("SELECT user_id, event_type, event_id FROM events " +
        "QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1 " +
        "ORDER BY user_id, event_type")),

    // ----- checkout core: G1 explode, J1/J1a join, A1/A2 verdicts, A4/A5 upsert
    Cert("checkout_items_roundtrip", (s, d) =>
      Checkout.explodeItems(Checkout.ordersWithItems(Tables.lineitem(s, d)))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("quantity")).as("total_qty"))
        .orderBy(col("l_orderkey")),
      ("SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey")),
    Cert("checkout_line_verdict", (s, d) =>
      lineVerdicts(s, d).orderBy(col("l_orderkey"), col("l_linenumber")),
      s"$lvSql ORDER BY l_orderkey, l_linenumber"),
    Cert("checkout_order_verdict", (s, d) =>
      orderVerdicts(s, d).orderBy(col("l_orderkey")),
      s"$ovSql ORDER BY l_orderkey"),
    Cert("checkout_unknown_products", (s, d) =>
      Checkout.unknownProducts(
        Tables.lineitem(s, d),
        Checkout.inventoryFromParts(
          Tables.part(s, d).filter(col("p_partkey") % 7 =!= 0)))
        .orderBy(col("l_partkey")),
      ("SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines FROM lineitem " +
        "WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 7 <> 0) " +
        "GROUP BY l_partkey ORDER BY l_partkey")),
    Cert("checkout_final_inventory", (s, d) =>
      Checkout.finalInventory(
        Checkout.inventoryFromParts(Tables.part(s, d)),
        lineVerdicts(s, d), orderVerdicts(s, d))
        .orderBy(col("product_id")),
      (s"WITH lv AS ($lvSql), " +
        "ov AS (SELECT l_orderkey FROM lv GROUP BY l_orderkey HAVING bool_and(sufficient)), " +
        "dem AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS demand FROM lv JOIN ov USING (l_orderkey) GROUP BY l_partkey) " +
        "SELECT p_partkey AS product_id, p_size*10 AS stock, COALESCE(demand, 0) AS demand, " +
        "CAST(p_size*10 - COALESCE(demand, 0) AS BIGINT) AS remaining " +
        "FROM part LEFT JOIN dem ON p_partkey = l_partkey ORDER BY product_id")),
    Cert("checkout_status_upsert", (s, d) =>
      Checkout.statusUpsert(Tables.orders(s, d), orderVerdicts(s, d))
        .orderBy(col("o_orderkey")),
      (s"WITH ov AS ($ovSql) " +
        "SELECT o_orderkey, o_custkey, COALESCE(status, 'PENDING') AS final_status " +
        "FROM orders LEFT JOIN ov ON o_orderkey = l_orderkey ORDER BY o_orderkey")),
    Cert("checkout_idempotent_consume", (s, d) =>
      Checkout.idempotentConsume(Tables.orders(s, d)),
      ("WITH d AS (SELECT o_orderkey, CAST(count(*) AS BIGINT) AS deliveries FROM " +
        "(SELECT o_orderkey FROM orders UNION ALL SELECT o_orderkey FROM orders) GROUP BY o_orderkey) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_orders, CAST(sum(deliveries) AS BIGINT) AS n_deliveries, " +
        "CAST(sum(deliveries) - count(*) AS BIGINT) AS n_skipped FROM d")),
    Cert("notify_messages", (s, d) =>
      Notify.notifications(orderVerdicts(s, d), Tables.orders(s, d))
        .orderBy(col("o_orderkey")),
      (s"WITH ov AS ($ovSql) " +
        "SELECT o_orderkey, printf('Notification sent for Order ID: %d to Customer ID: %d', o_orderkey, o_custkey) AS message " +
        "FROM ov JOIN orders ON l_orderkey = o_orderkey WHERE status = 'PROCESSED' ORDER BY o_orderkey"))
  )

  // Checkout building blocks shared by several queries.
  private def lineVerdicts(s: SparkSession, d: String): DataFrame =
    Checkout.lineVerdicts(
      Tables.lineitem(s, d),
      Checkout.inventoryFromParts(Tables.part(s, d)))

  private[certs] def orderVerdicts(s: SparkSession, d: String): DataFrame =
    Checkout.orderVerdicts(lineVerdicts(s, d))

  // Shared SQL fragments for the checkout oracle (kept identical across
  // the queries that build on line verdicts).
  private val lvSql =
    "SELECT l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS INT) AS qty, " +
      "COALESCE(p_size*10, 0) AS stock, " +
      "(COALESCE(p_size*10, 0) >= CAST(l_quantity AS INT)) AS sufficient " +
      "FROM lineitem LEFT JOIN part ON l_partkey = p_partkey"

  private val ovSql =
    "SELECT l_orderkey, CASE WHEN bool_and(sufficient) THEN 'PROCESSED' ELSE 'FAILED' END AS status, " +
      s"CAST(count(*) AS BIGINT) AS n_items FROM ($lvSql) GROUP BY l_orderkey"

  private[certs] val validSql =
    "(user_id IS NOT NULL AND event_type IS NOT NULL AND " +
      "json_extract_string(props, '$.k') IS NOT NULL AND value >= 1.0)"
}
