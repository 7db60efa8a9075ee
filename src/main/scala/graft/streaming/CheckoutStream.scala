package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.ingest.Ingest
import graft.model.Model

/** Streaming checkout core (SURVEY.md §7.2-M3) — the reference pipeline
  * (ingest → dedup → transactional inventory → processed/failed routing)
  * as a Structured Streaming job.
  *
  * Design (SURVEY.md §2.4-A2, v1): the all-or-nothing multi-product
  * transaction has no single Spark primitive. We process each micro-batch
  * as one "transaction batch" in `foreachBatch` against a parquet-backed
  * single-writer inventory table: exact reference parity (per-batch
  * serialization replaces the MySQL transaction; Structured Streaming's
  * checkpointed retry gives at-least-once, and the idempotent admission
  * makes it effectively exactly-once). Admission *within* a batch is the
  * distributed fixpoint in [[admitOrders]] — no driver-side row loop.
  *
  * Scale: within a batch every step is declarative (explode → broadcast
  * join → window cumsum → aggregate), so the plan is the same shape as
  * the batch path and distributes over executors; the only serialized
  * resource is the inventory table swap, exactly like the reference's DB.
  * The v2 upgrade path (Spark 4 `transformWithState` keyed by product,
  * two-phase reserve/compensate) removes the per-batch barrier.
  */
object CheckoutStream {

  /** P1+V1/V2 on a raw-JSON stream: parse, split valid/rejected —
    * the 202-vs-400 contract. Works identically on batch and streaming
    * DataFrames (pure Column expressions). */
  def parseOrderStream(raw: DataFrame, jsonCol: String): (DataFrame, DataFrame) = {
    val parsed = Ingest.parseOrders(raw, jsonCol)
    val ok = parsed("parse_ok") &&
      Ingest.validOrder(parsed("order")) &&
      Ingest.validItems(parsed("order.items"))
    val valid = parsed.filter(ok).select(
      col("order.order_id").as("order_id"),
      col("order.customer_id").as("customer_id"),
      col("order.items").as("items"))
    val rejected = parsed.filter(!ok).select(
      col(jsonCol).as("raw"),
      when(!parsed("parse_ok"), "malformed_json")
        .when(!Ingest.validOrder(parsed("order")), "invalid_order")
        .otherwise("invalid_items").as("reason"))
    (valid, rejected)
  }

  /** A3 — streaming dedup with bounded state: watermark + key dedup
    * (reference INSERT IGNORE, src/order_processor/app.py:66-75).
    * State is bounded by the watermark horizon — the 100 TB answer to
    * unbounded exact dedup. */
  def dedupStream(orders: DataFrame, eventTimeCol: String, watermark: String): DataFrame =
    orders
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("order_id")

  /** Distributed admission of a batch of orders against current
    * inventory — the all-or-nothing transaction semantics (A2) without a
    * driver-side loop.
    *
    * Declared batch semantics (SURVEY.md §7.4.2): orders are serialized
    * by `order_id`; an order is admitted iff every line fits in stock
    * after charging the running demand (window cumsum per product) of
    * ALL orders ordered before it. Admission is *pessimistic*: an order
    * that fails under full charge stays failed even though later
    * failures free their stock. That makes admission a single
    * distributed pass — a fixpoint iteration that releases failed
    * orders' demand would only re-confirm the same set (survivors of
    * the full-charge round still fit with less contention, and failed
    * orders are never re-charged), so there is nothing to iterate.
    * All-or-nothing and conservation hold by construction; under
    * contention the reference's outcome is arrival-order dependent
    * anyway (ST5 — standard SQS guarantees no order), so any
    * deterministic serialization is a valid refinement. A greedy
    * re-fill serialization (re-admitting after releases) is the v2
    * `transformWithState` upgrade path. One window-cumsum + one
    * aggregate, fully distributed — no collect(), no driver loop.
    *
    * Input: (order_id, product_id, quantity) lines; inventory:
    * (product_id, stock). Returns (order_id, status) verdicts.
    */
  def admitOrders(lines: DataFrame, inventory: DataFrame): DataFrame = {
    // explicit ROWS frame + quantity tiebreak: the default RANGE frame
    // would let peer rows (same order_id) see the full group sum, which
    // diverges from the declared per-line running charge when an order
    // repeats a product; after (order_id, quantity) any remaining ties
    // are identical rows, so the cumsum multiset is deterministic
    val w = Window.partitionBy(col("product_id"))
      .orderBy(col("order_id"), col("quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("cum_demand", sum(col("quantity")).over(w))
      .join(broadcast(inventory), Seq("product_id"), "left")
      .groupBy(col("order_id"))
      .agg(bool_and(col("cum_demand") <= coalesce(col("stock"), lit(0))).as("ok"))
      .select(
        col("order_id"),
        when(col("ok"), Model.StatusProcessed)
          .otherwise(Model.StatusFailed).as("status"))
  }

  /** Single-writer parquet-backed inventory table — the engine-native
    * stand-in for the reference's MySQL `inventory` (db/init_schema.sql:2-6).
    * Writes go to a fresh versioned directory then the pointer swaps:
    * readers never see a partial write (poor man's MVCC commit).
    * Directory listing goes through Hadoop's FileSystem (resolved from
    * the table path's scheme), so this v1 parity path runs against any
    * storage — local disk in tests, HDFS/object stores on a cluster —
    * not just driver-local java.io. */
  final class InventoryTable(spark: SparkSession, dir: String) {
    private val root = new org.apache.hadoop.fs.Path(dir)
    private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)

    private def versions: Seq[Long] =
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
        .map(_.getPath.getName.drop(1).toLong).sorted

    // every version has the table's declared schema, so reads skip
    // parquet schema inference (one footer-reading job per read)
    private def read(version: Long): DataFrame =
      spark.read.schema(InventoryTable.Schema).parquet(s"$dir/v$version")

    def initialize(seed: DataFrame): Unit =
      seed.select(
        col("product_id").cast(StringType).as("product_id"),
        col("stock").cast(IntegerType).as("stock"))
        .write.mode("overwrite").parquet(s"$dir/v0")

    def current(): DataFrame = read(versions.last)

    /** Apply one micro-batch transactionally: admit orders against the
      * latest version at or before `batchId`, persist the decremented
      * inventory as version batchId+1. A batch without lines skips
      * admission and writes no version, so versions are sparse:
      * initialize() writes v0, a batch b with lines writes v(b+1), and
      * batch b reads the latest version <= b. Keying the written version
      * by batchId (instead of "latest + 1") makes the write idempotent
      * under Structured Streaming's micro-batch retry: only batch b
      * writes v(b+1) and no later batch runs before b commits, so a
      * retried batch re-reads the SAME pre-batch version it read the
      * first time and overwrites the same target directory — a failure
      * between write and checkpoint commit never double-decrements
      * stock.
      *
      * Pass `lines` materialized (the streaming driver local-checkpoints
      * them): they are read by the emptiness probe, admission and the
      * demand join. */
    def applyBatch(lines: DataFrame, batchId: Long): DataFrame =
      if (!InventoryTable.hasRows(lines)) InventoryTable.noVerdicts(spark)
      else {
        val inv = read(versions.takeWhile(_ <= batchId).last)
        // materialized once: the demand join below and the caller's
        // verdict write both read it, so the admission window runs once;
        // the new version goes to a fresh directory, so the pre-batch
        // version this lineage read stays valid
        val verdicts = admitOrders(lines, inv).localCheckpoint()
        val processedDemand = lines
          .join(verdicts.filter(col("status") === Model.StatusProcessed), Seq("order_id"))
          .groupBy(col("product_id"))
          .agg(sum(col("quantity")).as("demand"))
        val next = inv
          .join(processedDemand, Seq("product_id"), "left")
          .select(
            col("product_id"),
            (col("stock") - coalesce(col("demand"), lit(0L))).cast("int").as("stock"))
        next.write.mode("overwrite").parquet(s"$dir/v${batchId + 1}")
        verdicts
      }
  }

  object InventoryTable {
    private val Schema: StructType = StructType(Seq(
      StructField("product_id", StringType), StructField("stock", IntegerType)))

    /** One single-stage job reading at most one row per partition
      * (`Dataset.isEmpty` takes a job per widening round to find none). */
    private def hasRows(df: DataFrame): Boolean =
      df.rdd.mapPartitions(rows => Iterator.single(rows.hasNext)).fold(false)(_ || _)

    /** The (order_id, status) verdicts of a batch without lines. */
    private def noVerdicts(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(
        StructField("order_id", StringType), StructField("status", StringType, nullable = false))))
  }

  /** Wire the full streaming pipeline: valid orders → watermarked dedup →
    * per-batch transactional inventory via foreachBatch → processed/failed
    * events appended to parquet sinks (A4/A5 upsert semantics: last status
    * wins keyed by order_id, resolved at read with dedupFirstBy). */
  def start(
      orders: DataFrame,
      inventory: InventoryTable,
      verdictsPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    orders.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // materialized once: every action on `batch` would re-run the
        // upstream dedup state operator (load, update and commit the same
        // state version again), so admission reads the checkpoint instead
        val lines = batch
          .select(col("order_id"), col("customer_id"), explode(col("items")).as("item"))
          .select(
            col("order_id"), col("customer_id"),
            col("item.product_id").as("product_id"),
            col("item.quantity").cast("long").as("quantity"))
          .localCheckpoint()
        val verdicts = inventory.applyBatch(lines, batchId)
        // E2 projection on the success path; FAILED is recorded too (A4).
        // Per-batch partition dir + overwrite (not a blind append) keeps
        // the sink idempotent under micro-batch retry, matching the
        // inventory versioning above.
        verdicts
          .withColumn("processed_at", current_timestamp())
          .write.mode("overwrite").parquet(s"$verdictsPath/batch_id=$batchId")
        // the batch's writes have returned: free its checkpoint blocks
        // now instead of leaving them pinned until the driver GCs them
        org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(verdicts)
        org.apache.spark.sql.graftbridge.RddBridge.freeCheckpoint(lines)
      }
}
