package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink-side semantics. The certified dead-letter path is
  * [[RetryLoop]]; this holds the upsert sink. */
object Sinks {

  /** S5's optional external-DB half (SURVEY §2 S5): a generic upsert
    * (MERGE) sink for `writeStream.foreachBatch` — each batch's rows
    * REPLACE the table's same-key rows, all other rows pass through,
    * mirroring the reference's per-order `INSERT ... / UPDATE orders
    * SET status=...` transaction (reference src/order_processor/
    * app.py:66-118). Engine-native target: a graft-segment state table
    * folded by [[SegmentStateIngest.foldBatch]] (read the live table,
    * overwrite it under the query's id and batchId, so a replayed batch
    * is a no-op); read it back with
    * [[SegmentStateIngest.finalState]].
    *
    * Against a live external DB, the swap is the fold body only:
    * `(b, _) => b.write.mode("append").jdbc(url, table, props)` onto a
    * PRIMARY-KEY table with an upsert handler (MySQL `ON DUPLICATE KEY
    * UPDATE`, Postgres `ON CONFLICT DO UPDATE`), which is then
    * idempotent under batch retry BY KEY the same way this table is.
    * No MySQL ships with this repo, so the graft-segment analog is the
    * certified path.
    *
    * Rows are replaced per KEY; if one batch carries several rows of a
    * key, all survive — pre-aggregate the batch (e.g. newest per key)
    * when last-write-wins within a batch is wanted, exactly as a JDBC
    * upsert loop would need. */
  def upsertSink(stateDir: String, keys: Seq[String]): (DataFrame, Long) => Unit =
    SegmentStateIngest.foldBatch(stateDir) {
      case (None, batch) => batch
      case (Some(table), batch) =>
        table
          .join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(batch)
    }
}
