package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten cascade: given a (small) set of subject keys
  * to erase, remove the subjects and everything reachable from them
  * through the schema's foreign keys — customer → their orders →
  * those orders' line items — and report an audit summary per table.
  * This is the GDPR/CCPA erasure primitive a 100 TB pipeline must
  * support: deletion requests arrive continuously, each touching a
  * vanishingly small fraction of the corpus, and the engine must
  * prove (auditably) that every derived row is gone.
  *
  * Plan shape at 100 TB:
  *  - the forget set BROADCASTS (thousands of keys against billions
  *    of rows), so the customer and orders passes are broadcast
  *    semi/anti joins — no shuffle of the big tables;
  *  - the lineitem cascade keys on the purged ORDER keys, which are
  *    data-proportional to the forget set but not bounded by it (one
  *    hot customer can own millions of orders) — that hop is a
  *    shuffle semi/anti join on l_orderkey, the safe default; AQE
  *    demotes it back to broadcast when the purged-order set turns
  *    out small;
  *  - the physical delete should rewrite only the storage buckets the
  *    forget keys hash into (sources.Bucketing layout + the
  *    bucket-targeted rewrite discipline of
  *    streaming.SegmentStateIngest.runBucketed), not the whole table —
  *    the frames returned here are the bucket-rewrite inputs.
  */
object Forget {

  /** The surviving frames plus the per-table audit summary
    * (tbl, n_before, n_purged, n_after). */
  final case class Cascade(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      summary: DataFrame)

  /** Erase `keys` (single column `c_custkey`) from `customer` and
    * cascade through `orders` (o_custkey) to `lineitem`
    * (l_orderkey). Anti-joins keep survivors; the summary counts are
    * exact and the purged count is derived before/after from the same
    * plans, so the audit can't drift from the data. */
  def cascade(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      keys: DataFrame): Cascade = {
    val k = broadcast(keys.select(col("c_custkey")).distinct())
    val keptCustomer = customer.join(k, Seq("c_custkey"), "left_anti")
    val keptOrders = orders
      .join(k.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"), "left_anti")
    // order keys being purged: data-proportional, NOT broadcast by
    // default (see scaladoc) — semi-join then project the join key
    val purgedOrderKeys = orders
      .join(k.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"), "left_semi")
      .select(col("o_orderkey").as("l_orderkey"))
    val keptLineitem = lineitem.join(purgedOrderKeys, Seq("l_orderkey"), "left_anti")

    def row(tbl: String, before: DataFrame, after: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("n_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_after")))
        .select(lit(tbl).as("tbl"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_purged"), col("n_after"))

    val summary = row("customer", customer, keptCustomer)
      .unionByName(row("orders", orders, keptOrders))
      .unionByName(row("lineitem", lineitem, keptLineitem))

    Cascade(keptCustomer, keptOrders, keptLineitem, summary)
  }
}
