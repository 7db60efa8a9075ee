package perfbench

import scala.collection.mutable

/** What the reference replay found wrong in one round. `missing` orders
  * had no verdict and `late` ones missed the deadline: both count as
  * failed operations. `duplicate`, `unexpected` and `wrong` verdicts and
  * broken conservation make the run incorrect. */
final case class CheckReport(
    missing: Int = 0,
    duplicate: Int = 0,
    unexpected: Int = 0,
    wrong: Int = 0,
    late: Int = 0,
    conservationBroken: Int = 0,
    processed: Int = 0,
    notes: Vector[String] = Vector.empty) {
  def correct: Boolean = duplicate == 0 && unexpected == 0 && wrong == 0 && conservationBroken == 0
  def failed: Int = missing + late
  def note(s: String): CheckReport = if (notes.size < 8) copy(notes = notes :+ s) else this
}

/** Plain-Scala replays of the pipeline's declared semantics, fed with the
  * batch membership read back from the sinks. */
object Checker {

  /** v1 (CheckoutStream.InventoryTable): within each micro-batch orders
    * are serialized by order_id and admitted pessimistically — an order
    * passes iff every line fits under the running demand of all orders
    * before it in the batch (lines of one product ordered by
    * (order_id, quantity)); batches apply in batch-id order.
    *
    * `verdicts` are (order_id, status, batch_id) sink rows, `finalStock`
    * is `InventoryTable.current()` after the run. */
  def v1(
      orders: Map[String, OrderSpec],
      seed: Map[String, Int],
      verdicts: Seq[(String, String, Long)],
      finalStock: Map[String, Int]): CheckReport = {
    var rep = CheckReport()
    val seen = mutable.HashSet.empty[String]
    val firstRows = verdicts.sortBy(_._3).filter { case (id, _, _) =>
      if (!orders.contains(id)) { rep = rep.copy(unexpected = rep.unexpected + 1).note(s"verdict for non-order $id"); false }
      else if (!seen.add(id)) { rep = rep.copy(duplicate = rep.duplicate + 1).note(s"second verdict for $id"); false }
      else true
    }
    rep = rep.copy(missing = orders.size - seen.size)
    val stock = mutable.HashMap.from(seed.view.mapValues(_.toLong))
    firstRows.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      val lines = rows.flatMap { case (id, _, _) => orders(id).items.map { case (p, q) => (p, id, q.toLong) } }
      val denied = mutable.HashSet.empty[String]
      lines.groupBy(_._1).foreach { case (p, ls) =>
        val have = stock.getOrElse(p, 0L)
        var cum = 0L
        ls.sortBy(l => (l._2, l._3)).foreach { case (_, id, q) => cum += q; if (cum > have) denied += id }
      }
      rows.foreach { case (id, status, b) =>
        val expect = if (denied(id)) "FAILED" else "PROCESSED"
        if (status != expect) rep = rep.copy(wrong = rep.wrong + 1).note(s"batch $b: $id is $status, replay says $expect")
        if (status == "PROCESSED") orders(id).items.foreach { case (p, q) => stock.updateWith(p)(_.map(_ - q)) }
      }
    }
    rep = rep.copy(processed = firstRows.count(_._2 == "PROCESSED"))
    conservation(rep, stock, finalStock.view.mapValues(_.toLong).toMap)
  }

  /** v2 (SagaLoop over InventoryProcessor): each verdict batch serves, per
    * product, compensation credits first and then requests in order_id
    * order, granting greedily while stock lasts; an order is PROCESSED iff
    * every line was granted, and every granted line of a FAILED order must
    * come back as exactly one credit.
    *
    * `lines` are (order_id, product_id, quantity, granted, batch) sink rows;
    * `finalStock` is the keyed state after the last pass. */
  def saga(
      orders: Map[String, OrderSpec],
      seed: Map[String, Int],
      lines: Seq[(String, String, Long, Boolean, Long)],
      finalStock: Map[String, Long]): CheckReport = {
    var rep = CheckReport()
    val stock = mutable.HashMap.from(seed.view.mapValues(_.toLong))
    lines.groupBy(_._5).toSeq.sortBy(_._1).foreach { case (b, rows) =>
      rows.groupBy(_._2).foreach { case (p, ls) =>
        var have = stock.getOrElse(p, 0L)
        ls.sortBy(l => (l._3 >= 0, l._1)).foreach { case (id, _, q, granted, _) =>
          val expect = q < 0 || have >= q
          if (expect) have -= q
          if (granted != expect) rep = rep.copy(wrong = rep.wrong + 1).note(s"batch $b: $id/$p granted=$granted, replay says $expect")
        }
        if (stock.contains(p)) stock(p) = have
      }
    }
    val requests = lines.filter(_._3 > 0)
    val byOrder = requests.groupBy(_._1)
    byOrder.keys.filterNot(orders.contains).foreach { id =>
      rep = rep.copy(unexpected = rep.unexpected + 1).note(s"verdict lines for non-order $id")
    }
    val processed = mutable.ArrayBuffer.empty[OrderSpec]
    val wantCredits = mutable.ArrayBuffer.empty[(String, String, Long)]
    orders.values.foreach { o =>
      val got = byOrder.getOrElse(o.id, Seq.empty)
      if (got.isEmpty) rep = rep.copy(missing = rep.missing + 1)
      else if (got.map(l => (l._2, l._3)).sorted != o.items.map { case (p, q) => (p, q.toLong) }.sorted) {
        val kind = if (got.size > o.items.size) "duplicate" else "wrong"
        rep = if (kind == "duplicate") rep.copy(duplicate = rep.duplicate + 1) else rep.copy(wrong = rep.wrong + 1)
        rep = rep.note(s"$kind verdict lines for ${o.id}")
      } else if (got.forall(_._4)) processed += o
      else got.filter(_._4).foreach(l => wantCredits += ((l._1, l._2, -l._3)))
    }
    val credits = lines.filter(_._3 < 0).map(l => (l._1, l._2, l._3))
    if (credits.sorted != wantCredits.sorted) {
      rep = rep.copy(wrong = rep.wrong + 1).note(s"${credits.size} credits, replay wants ${wantCredits.size}")
    }
    rep = rep.copy(processed = processed.size)
    // what is left on the shelves is the seed minus what PROCESSED orders
    // took; products outside the catalogue hold nothing
    val demand = processed.iterator.flatMap(_.items).toSeq.groupMapReduce(_._1)(_._2.toLong)(_ + _)
    val expected = seed.map { case (p, s) => p -> (s - demand.getOrElse(p, 0L)) } ++
      finalStock.keys.filterNot(seed.contains).map(_ -> 0L)
    conservation(rep, expected, finalStock)
  }

  /** Final stock must equal the replayed stock, and never go negative. */
  private def conservation(rep: CheckReport, replayed: collection.Map[String, Long], actual: Map[String, Long]): CheckReport = {
    val bad = replayed.count { case (p, s) => actual.getOrElse(p, Long.MinValue) != s || s < 0 } +
      actual.keys.count(p => !replayed.contains(p))
    if (bad == 0) rep
    else rep.copy(conservationBroken = rep.conservationBroken + bad).note(s"$bad products break conservation")
  }
}
