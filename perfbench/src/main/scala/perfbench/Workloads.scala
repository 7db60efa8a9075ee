package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ingest.Ingest
import graft.notify.Notify
import graft.sources.Queues
import graft.streaming.{CheckoutStream, InventoryProcessor, SagaLoop}

/** Named, timed steps of one round, in the order they ran. */
final class Phases {
  val recs = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def apply[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally recs += ((name, s, System.currentTimeMillis()))
  }
  def ms(name: String): Double = recs.filter(_._1 == name).map(r => (r._3 - r._2).toDouble).sum
}

/** Everything one round measured. Times are epoch milliseconds; every
  * queue file of the round is due at `t0`. */
final case class RoundResult(
    name: String,
    phases: Phases,
    t0: Long,
    windowEnd: Double,             // last verdict visible (backlog: notify done)
    latenciesMs: Vector[Double],   // due -> verdict visible, of orders with a verdict in time
    attempted: Int,
    check: CheckReport,
    threw: Int,                    // stream runs that ended in an exception
    messages: Long,
    genLateMs: Vector[Double],
    queue: Path,
    payloads: (Long, Long),        // (valid, invalid) lines in the queue
    queueFiles: Set[String],
    checkpoint: Path,              // the file-source query's checkpoint
    counters: Map[String, Double]) {
  def failed: Int = check.failed + threw
  def ordersPerS: Double = latenciesMs.size * 1000.0 / math.max(windowEnd - t0, 1.0)
}

/** The two workloads. Each run is a number of independent rounds on one
  * session; each round sets up from scratch (fresh queue, checkpoint,
  * inventory and sink directories), offers its whole traffic at once,
  * then checks every verdict against the reference replay. */
final class Workloads(spark: SparkSession, work: Path, seed: Long) {
  import spark.implicits._

  private val Watermark = "1 minute"
  private val DeadlineMs = 30000L

  // backlog: mostly in stock, split over 16 queue files (README.md gives
  // the reason for every share)
  val backlog = TrafficParams(
    orders = 0, files = 16, itemsMax = 3, products = 2000, zipfS = 0.6, stock = 600,
    quantityMax = 3, overStockShare = 0.005, unknownShare = 0.01, dupShare = 0.05,
    invalidShare = 0.03)
  val BacklogNominalPerS = 8000
  // saga: Zipf-hot catalogue with tight stock, so many orders fail and
  // their granted lines flow back as compensation credits
  val saga = backlog.copy(files = 8, products = 1000, zipfS = 0.8, quantityMax = 4)
  val SagaNominalPerS = 6000

  /** One round sized to drain in about `seconds` at the nominal rate.
    * `notify` adds the notify read side (always part of backlog's window;
    * for saga it runs only when traced). */
  def round(workload: String, tag: String, seconds: Double, notify: Boolean): RoundResult = workload match {
    case "backlog" => backlogRound(tag, backlog.copy(orders = (BacklogNominalPerS * seconds).toInt))
    case "saga" => sagaRound(tag, saga.copy(orders = (SagaNominalPerS * seconds).toInt), notify)
  }

  private def dirs(round: String): (Path, Path, Path) = {
    val base = work.resolve(round)
    val queue = base.resolve("queue")
    Files.createDirectories(queue)
    (base, base.resolve("stage"), queue)
  }

  /** Generate a round's traffic and stage its files (not yet visible);
    * also builds the (order_id, customer_id) frame notify joins to. */
  private def inputs(ph: Phases, params: TrafficParams, tag: String, stage: Path): (Plan, DataFrame) = {
    val (plan, customers) = ph("generate") {
      val plan = Traffic.generate(params, seed, tag)
      (plan, plan.orders.map(o => (o.id, o.customer)).toDF("order_id", "customer_id"))
    }
    ph("stage") { Traffic.stage(plan, stage) }
    (plan, customers)
  }

  /** Visible time of every batch directory under `sink`: the mtime of the
    * `_SUCCESS` marker its writer commits last. */
  private def visible(sink: Path): Map[String, Double] =
    if (!Files.isDirectory(sink)) Map.empty
    else Files.list(sink).iterator().asScala.flatMap { d =>
      val ok = d.resolve("_SUCCESS")
      if (Files.exists(ok))
        Some(d.getFileName.toString -> Files.getLastModifiedTime(ok).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
      else None
    }.toMap

  private def deliver(plan: Plan, stage: Path, queue: Path, t0: Long): Traffic.Generator = {
    val g = new Traffic.Generator(plan, stage, queue, t0)
    g.start()
    g.finish()
  }

  /** ingest: parse + validate the raw queue lines, keeping the event time
    * so the dedup stage can watermark it. */
  private def validOrders(raw: DataFrame): DataFrame = {
    val parsed = Ingest.parseOrders(raw, "value")
    val ok = parsed("parse_ok") && Ingest.validOrder(parsed("order")) && Ingest.validItems(parsed("order.items"))
    parsed.filter(ok).select(
      col("order.order_id").as("order_id"),
      col("order.customer_id").as("customer_id"),
      col("order.items").as("items"),
      col("order.timestamp").cast("timestamp").as("event_time"))
  }

  /** sources -> ingest -> dedup -> v1 inventory transaction -> verdict sink. */
  private def v1Stream(queue: Path, inv: CheckoutStream.InventoryTable, base: Path): DataStreamWriter[Row] =
    CheckoutStream.start(
      CheckoutStream.dedupStream(validOrders(Queues.fileJson(spark, queue.toString)), "event_time", Watermark),
      inv, base.resolve("verdicts").toString, base.resolve("ckpt").toString)

  /** notify: PROCESSED verdicts joined to their customers, formatted. The
    * verdict sink does not carry customers, so they come from the
    * generator's plan. Returns the number of messages. */
  private def notifyRead(statuses: DataFrame, customers: DataFrame): Long = {
    val obs = Observation("notify")
    Notify.formatMessages(Notify.processedOnly(statuses).join(customers, "order_id"))
      .observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  private def runQuery(start: => org.apache.spark.sql.streaming.StreamingQuery)(drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): Int =
    try { val q = start; try drive(q) finally q.stop(); 0 }
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
      System.err.println(s"stream failed: ${e.getMessage}"); 1 }

  private def v1Check(plan: Plan, base: Path, inv: CheckoutStream.InventoryTable): (CheckReport, Map[String, Double]) = {
    val sink = base.resolve("verdicts")
    val rows =
      if (!Files.isDirectory(sink)) Seq.empty
      else spark.read.parquet(sink.toString).select("order_id", "status", "batch_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSeq
    val finalStock = inv.current().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val vis = visible(sink)
    val seen = rows.map(r => r._1 -> vis.getOrElse(s"batch_id=${r._3}", Double.NaN)).toMap
    (Checker.v1(plan.byId, plan.stock.toMap, rows, finalStock), seen)
  }

  /** Latency of every order with a verdict in time, and how many verdicts
    * came after the deadline. */
  private def latencies(plan: Plan, t0: Long, seen: Map[String, Double]): (Vector[Double], Int) = {
    val lat = plan.orders.flatMap(o => seen.get(o.id).map(_ - t0))
    (lat.filter(_ <= DeadlineMs), lat.count(_ > DeadlineMs))
  }

  private def checkMessages(messages: Long, c: CheckReport): CheckReport =
    if (messages < 0 || messages == c.processed) c
    else c.copy(wrong = c.wrong + 1).note(s"notify sent $messages messages for ${c.processed} PROCESSED orders")

  /** The traffic shares the round drew, and the FAILED share of its
    * verdicts (which the stock sets). */
  private def shares(plan: Plan, check: CheckReport): Map[String, Double] = {
    val decided = plan.orders.size - check.missing
    plan.shares.map { case (n, v) => s"gen.$n" -> v }.toMap +
      ("checker.failed_share" -> (decided - check.processed).toDouble / math.max(decided, 1))
  }

  private def result(tag: String, ph: Phases, plan: Plan, t0: Long, end: Double, seen: Map[String, Double],
      check: CheckReport, threw: Int, messages: Long, gen: Traffic.Generator, queue: Path, ckpt: Path,
      counters: Map[String, Double]): RoundResult = {
    val (lat, late) = latencies(plan, t0, seen)
    val rep = checkMessages(messages, check.copy(late = late))
    RoundResult(tag, ph, t0, end, lat, plan.offered, rep, threw, messages, gen.lateMs.toVector, queue,
      ((plan.orders.size + plan.duplicates).toLong, plan.invalid.toLong), plan.files.map(_.name).toSet, ckpt,
      shares(plan, rep) ++ counters)
  }

  /** backlog: the whole round lands at once; a fresh query drains it with
    * AvailableNow, then the notify read side runs. */
  def backlogRound(tag: String, params: TrafficParams): RoundResult = {
    val (base, stage, queue) = dirs(tag)
    val ph = new Phases
    val (plan, customers) = inputs(ph, params, tag, stage)
    val inv = new CheckoutStream.InventoryTable(spark, base.resolve("inv").toString)
    ph("seed") { inv.initialize(plan.stock.toDF("product_id", "stock")) }
    val t0 = System.currentTimeMillis()
    val gen = deliver(plan, stage, queue, t0)
    val threw = ph("drain") { runQuery(v1Stream(queue, inv, base).start())(_.awaitTermination()) }
    val messages = ph("notify") { notifyRead(spark.read.parquet(base.resolve("verdicts").toString), customers) }
    val end = System.currentTimeMillis()
    val (check, seen) = ph("verify") { v1Check(plan, base, inv) }
    result(tag, ph, plan, t0, end.toDouble, seen, check, threw, messages, gen, queue, base.resolve("ckpt"), Map.empty)
  }

  /** The ingest hop in front of the saga: queue -> parse/validate -> dedup
    * -> order lines enqueued as LineRequest parquet under `inDir`. */
  private def sagaIngest(queue: Path, inDir: Path, ckpt: Path): Int =
    runQuery(CheckoutStream.dedupStream(validOrders(Queues.fileJson(spark, queue.toString)), "event_time", Watermark)
      .writeStream.option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.select(col("order_id"), explode(col("items")).as("i"))
          .select(col("order_id"), col("i.product_id").as("product_id"), col("i.quantity").cast("long").as("quantity"))
          .write.mode("overwrite").parquet(inDir.resolve(s"orders_$batchId").toString)
        ()
      }.start())(_.awaitTermination())

  private def sagaLines(verdicts: Path): Seq[(String, String, Long, Boolean, Long)] =
    if (!Files.isDirectory(verdicts)) Seq.empty
    else Files.list(verdicts).iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("batch_")).flatMap { d =>
      val b = d.getFileName.toString.stripPrefix("batch_").toLong
      spark.read.parquet(d.toString).select("order_id", "product_id", "quantity", "granted").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3), b))
    }

  /** The stock the saga's keyed state holds after its last pass, read
    * from the checkpoint with the state data source. */
  private def sagaStock(ckpt: Path): Map[String, Long] =
    if (!Files.isDirectory(ckpt)) Map.empty
    else spark.read.format("statestore").option("path", ckpt.toString).option("stateVarName", "stock").load()
      .select(col("key").getField("value"), col("value").getField("value")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** saga: the ingest hop, then SagaLoop's keyed-state reserve and
    * compensation passes until no credits are left. */
  def sagaRound(tag: String, params: TrafficParams, notify: Boolean): RoundResult = {
    val (base, stage, queue) = dirs(tag)
    val ph = new Phases
    val (plan, customers) = inputs(ph, params, tag, stage)
    val stock = ph("seed") {
      spark.createDataset(plan.stock.map { case (p, s) => InventoryProcessor.ProductStock(p, s.toLong) })
    }
    val t0 = System.currentTimeMillis()
    val gen = deliver(plan, stage, queue, t0)
    val ckpt = base.resolve("ckpt")
    val (passes, threw) = ph("drain") {
      val threw = sagaIngest(queue, base.resolve("in"), base.resolve("ckpt-ingest"))
      (SagaLoop.run(spark, base.resolve("in").toString, base.resolve("verdicts").toString, ckpt.toString, stock), threw)
    }
    val verdicts = base.resolve("verdicts")
    val (check, lines) = ph("verify") {
      val lines = sagaLines(verdicts)
      (Checker.saga(plan.byId, plan.stock.toMap, lines, sagaStock(ckpt)), lines)
    }
    val vis = visible(verdicts)
    val requests = lines.filter(_._3 > 0)
    val seen = requests.map(l => l._1 -> vis.getOrElse(s"batch_${l._5}", Double.NaN)).toMap
    val statuses = requests.groupMapReduce(_._1)(_._4)(_ && _).toSeq
      .map { case (id, ok) => (id, if (ok) "PROCESSED" else "FAILED") }.toDF("order_id", "status")
    val messages = if (notify) ph("notify") { notifyRead(statuses, customers) } else -1L
    val credits = lines.count(_._3 < 0)
    result(tag, ph, plan, t0, vis.values.maxOption.getOrElse(t0.toDouble), seen, check, threw, messages, gen,
      queue, base.resolve("ckpt-ingest"), Map(
        "streaming.saga_passes" -> passes.toDouble,
        "streaming.saga_credit_lines" -> credits.toDouble,
        "streaming.saga_credit_line_share" -> credits.toDouble / math.max(requests.size, 1),
        "streaming.saga_granted_ratio" -> requests.count(_._4).toDouble / math.max(requests.size, 1)))
  }
}

object Workloads {
  /** Every counter a round can carry, with its unit. A counter the
    * workload does not produce reads 0. */
  val Counters: Seq[(String, String)] = Seq(
    "gen.dup_share" -> "ratio",
    "gen.invalid_share" -> "ratio",
    "gen.unknown_line_share" -> "ratio",
    "gen.overstock_line_share" -> "ratio",
    "checker.failed_share" -> "ratio",
    "streaming.saga_passes" -> "count",
    "streaming.saga_credit_lines" -> "count",
    "streaming.saga_credit_line_share" -> "ratio",
    "streaming.saga_granted_ratio" -> "ratio")
}
