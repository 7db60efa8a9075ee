package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** The traffic one workload offers in one round. Every field is part of
  * the workload's definition (see README.md); the seed picks the draw. */
final case class TrafficParams(
    orders: Int,          // distinct orders offered
    files: Int,           // queue files the round is split into
    itemsMax: Int,        // items per order, uniform in 1..itemsMax, distinct products
    products: Int,        // catalogue size
    zipfS: Double,        // product popularity skew (0 = uniform)
    stock: Int,           // seeded stock per product
    quantityMax: Int,     // ordinary line quantity, uniform in 1..quantityMax
    overStockShare: Double, // lines asking for more than the whole stock
    unknownShare: Double,   // lines naming a product absent from the catalogue
    dupShare: Double,       // orders redelivered once more
    invalidShare: Double)   // extra payloads that fail ingest validation

/** One valid order as the generator made it. */
final case class OrderSpec(id: String, customer: String, items: Vector[(String, Int)])

/** One queue file and its lines. */
final case class QueueFile(name: String, lines: Vector[String])

/** A generated round: the seeded catalogue, the valid orders, and the
  * files that carry them (plus redeliveries and invalid payloads). */
final case class Plan(
    stock: Vector[(String, Int)],
    orders: Vector[OrderSpec],
    files: Vector[QueueFile],
    invalid: Int,
    duplicates: Int) {
  def offered: Int = orders.size + invalid + duplicates
  lazy val byId: Map[String, OrderSpec] = orders.iterator.map(o => o.id -> o).toMap

  /** The shares the round actually drew, next to the parameters that
    * aim at them: (name, measured share). */
  def shares: Seq[(String, Double)] = {
    val lines = orders.flatMap(_.items)
    val unknown = lines.count(_._1.startsWith("u-"))
    val have = stock.toMap
    val overStock = lines.count { case (p, q) => have.get(p).exists(_ < q) }
    Seq(
      "dup_share" -> duplicates.toDouble / math.max(orders.size, 1),
      "invalid_share" -> invalid.toDouble / math.max(orders.size, 1),
      "unknown_line_share" -> unknown.toDouble / math.max(lines.size, 1),
      "overstock_line_share" -> overStock.toDouble / math.max(lines.size, 1))
  }
}

/** Seeded generator: the same (params, seed, tag) always yields the same
  * plan. Payloads follow the reference's OrderCreated shape and carry one
  * fixed event time, so they too are seed-determined. */
object Traffic {
  private val EventTime = "2024-01-01T00:00:00Z"

  def product(i: Int): String = f"p-$i%05d"

  def generate(p: TrafficParams, seed: Long, tag: String): Plan = {
    val rnd = new SplittableRandom(seed * 1000003L + tag.hashCode)
    val cdf = {
      val w = Array.tabulate(p.products)(i => 1.0 / math.pow(i + 1.0, p.zipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def pick(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, p.products - 1)
    }
    val orders = Vector.tabulate(p.orders) { n =>
      val k = 1 + rnd.nextInt(p.itemsMax)
      val prods = Iterator.continually(pick()).distinct.take(k).toVector
      val items = prods.map { pi =>
        val u = rnd.nextDouble()
        if (u < p.unknownShare) (f"u-$pi%05d", 1 + rnd.nextInt(p.quantityMax))
        else if (u < p.unknownShare + p.overStockShare) (product(pi), p.stock + 1 + rnd.nextInt(p.stock + 1))
        else (product(pi), 1 + rnd.nextInt(p.quantityMax))
      }
      OrderSpec(f"$tag-o$n%08d", f"c-${rnd.nextInt(1 << 16)}%05d", items)
    }
    val dupOf = orders.filter(_ => rnd.nextDouble() < p.dupShare)
    val nInvalid = math.round(p.orders * p.invalidShare).toInt
    val lines = orders.map(json) ++ dupOf.map(json) ++
      Vector.tabulate(nInvalid)(n => invalidPayload(n % 4, f"$tag-x$n%08d"))
    val shuffled = lines.map(l => (rnd.nextLong(), l)).sortBy(_._1).map(_._2)
    val per = (shuffled.size + p.files - 1) / p.files
    val files = shuffled.grouped(per).zipWithIndex.map { case (ls, i) => QueueFile(f"$tag-f$i%06d.json", ls) }.toVector
    Plan(Vector.tabulate(p.products)(i => product(i) -> p.stock), orders, files, nInvalid, dupOf.size)
  }

  private def json(o: OrderSpec): String = {
    val items = o.items.map { case (pid, q) => s"""{"product_id":"$pid","quantity":$q}""" }
    s"""{"order_id":"${o.id}","customer_id":"${o.customer}","items":[${items.mkString(",")}],"timestamp":"$EventTime"}"""
  }

  /** The four ways a payload fails ingest (reference ingest_order 400s):
    * malformed JSON, no customer, no items, a non-positive quantity. */
  private def invalidPayload(kind: Int, id: String): String = kind match {
    case 0 => s"""{"order_id":"$id","customer_id":"c-1","items":[{"product_id":"""
    case 1 => s"""{"order_id":"$id","items":[{"product_id":"p-00000","quantity":1}],"timestamp":"$EventTime"}"""
    case 2 => s"""{"order_id":"$id","customer_id":"c-1","items":[],"timestamp":"$EventTime"}"""
    case _ => s"""{"order_id":"$id","customer_id":"c-1","items":[{"product_id":"p-00000","quantity":0}],"timestamp":"$EventTime"}"""
  }

  /** Write every file of the plan under `stageDir` (not yet visible). */
  def stage(plan: Plan, stageDir: Path): Unit = {
    Files.createDirectories(stageDir)
    plan.files.foreach { f =>
      Files.write(stageDir.resolve(f.name), f.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Delivery on one thread: every staged file is due at `t0` and is
    * renamed into `queueDir` from then on, whatever the system under test
    * is doing. Records how late each rename landed. */
  final class Generator(plan: Plan, stageDir: Path, queueDir: Path, t0: Long) extends Thread("perfbench-generator") {
    setDaemon(true)
    val lateMs = new Array[Double](plan.files.size)
    @volatile var error: Option[Throwable] = None

    override def run(): Unit =
      try plan.files.zipWithIndex.foreach { case (f, i) =>
        Files.move(stageDir.resolve(f.name), queueDir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
        lateMs(i) = (System.currentTimeMillis() - t0).toDouble
      } catch { case e: Throwable => error = Some(e) }

    /** Wait for the last file, then surface any delivery failure. */
    def finish(): this.type = { join(); error.foreach(e => throw e); this }
  }
}
