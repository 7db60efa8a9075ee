package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.types.StructType

/** Per-key token-bucket rate limiting as keyed streaming state — the
  * quota semantics behind API throttling and per-tenant ingestion
  * caps (SURVEY §2.6 ST7's semantic deepened from source pacing to a
  * PER-KEY admission contract). Credit refills with event-time
  * elapsed between a user's consecutive events, capped at `capMs`
  * (the burst allowance); each event needs `costMs` of credit to be
  * admitted and spends it; throttled events spend nothing but DO
  * advance the refill clock (refill measures real elapsed time, not
  * admitted time).
  *
  * Everything is EXACT INTEGER MILLISECONDS — refill, cap, cost,
  * comparisons — so the admit/throttle boundary can never be decided
  * by float accumulation, and the whole per-key chain is replayable
  * by a batch recursive scan (the oracle): sustained rate is
  * 1/costMs, burst is capMs/costMs.
  *
  * State per key is two longs (credit, last event ms); per batch the
  * only work is the shuffle of that batch's events by key. Batches
  * must arrive in nondecreasing event-time order per key (the same
  * staging contract as TimeoutExpiry) for the sequential chain to be
  * event-time pure. */
object RateLimit {

  final case class Req(event_id: Long, user_id: Long, ts: java.sql.Timestamp)
  final case class Credit(credit_ms: Long, last_ms: Long)
  final case class Verdict(event_id: Long, user_id: Long, admitted: Boolean)

  final class Processor(capMs: Long, costMs: Long)
      extends StatefulProcessor[Long, Req, Verdict] {

    // ListState with 0/1 elements: the state is one Credit row; a
    // ValueState would do, ListState keeps the clear/append symmetry
    // with the other processors
    @transient private var st: ListState[Credit] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[Credit]("credit", Encoders.product[Credit], TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[Req], timerValues: TimerValues): Iterator[Verdict] = {
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
      var cur = if (st.exists()) st.get().toSeq.headOption else None
      val out = sorted.map { r =>
        val ms = r.ts.getTime
        val refilled = cur match {
          case Some(c) => math.min(capMs, c.credit_ms + (ms - c.last_ms))
          case None    => capMs // a fresh key starts with full burst
        }
        val admit = refilled >= costMs
        cur = Some(Credit(if (admit) refilled - costMs else refilled, ms))
        Verdict(r.event_id, key, admit)
      }
      st.clear()
      cur.foreach(c => st.appendList(Array(c)))
      out.iterator
    }
  }

  /** Drain ts-ordered staged files with AvailableNow, emitting one
    * admit/throttle verdict per event. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      checkpoint: String,
      capMs: Long,
      costMs: Long): Unit = {
    import spark.implicits._
    graft.Session.withConfs(spark, graft.Session.RocksDbStateStore,
        "spark.sql.shuffle.partitions" -> "8") {
      Drain.toParquet(Drain.files(spark, schema, inDir)
        .select(col("event_id"), col("user_id"), col("ts"))
        .as[Req]
        .groupByKey(_.user_id)
        .transformWithState(new Processor(capMs, costMs), TimeMode.None(), OutputMode.Append()),
        outDir, checkpoint)
    }
  }
}
