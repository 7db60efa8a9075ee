package graft.notify

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Model

/** Notification read path — filter (F1), format (E3), log sink (S8):
  * reference src/notification_sender/app.py:7-28.
  *
  * Stateless narrow operators; at scale this is a pure map stage over the
  * processed stream with no shuffle. The reference's at-most-once
  * error-swallowing branch (ST3) has no counterpart: no sink here
  * swallows an error, so a failing notification fails its job.
  */
object Notify {

  /** F1 — notify only PROCESSED orders (reference app.py:19). */
  def processedOnly(df: DataFrame): DataFrame =
    df.filter(col("status") === Model.StatusProcessed)

  /** E3 — the notification body (reference app.py:20 f-string). */
  def formatMessages(processed: DataFrame): DataFrame =
    processed.select(
      col("order_id"),
      format_string(
        "Notification sent for Order ID: %s to Customer ID: %s",
        col("order_id"), col("customer_id")).as("message"))

  /** The oracle-checked composition over checkout verdicts joined with
    * orders (order ids and customer ids are numeric keys there). */
  def notifications(orderVerdicts: DataFrame, orders: DataFrame): DataFrame =
    processedOnly(orderVerdicts)
      .join(orders, col("l_orderkey") === orders("o_orderkey"))
      .select(
        col("o_orderkey"),
        format_string(
          "Notification sent for Order ID: %d to Customer ID: %d",
          col("o_orderkey"), col("o_custkey")).as("message"))
}
