package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.types.StructType

/** Event-time TIMER state: abandoned-checkout detection. A start
  * event opens a pending entry per user; a completion arriving within
  * `timeoutMs` of the start closes it as `completed` (with the
  * start-to-completion latency); when the WATERMARK passes
  * start + timeout with no completion seen, a registered event-time
  * timer fires and emits `expired`. This is the streaming semantic
  * none of the other drivers exercise — output produced by TIME
  * passing, not by a row arriving (the reference's order-expiry /
  * SQS visibility-timeout analog: a message nobody completed becomes
  * visible again after its deadline).
  *
  * Certified contract (event-time pure, so a batch engine can oracle
  * it): a start completes iff some completion for the same user lies
  * in `[start, start + timeout]` (millisecond precision — both
  * engines floor their native resolution to ms), with latency
  * `floor(c/1000s) - floor(s/1000s)`; otherwise it expires. The
  * operational race (completion arriving after the timer already
  * fired) CANNOT occur when input batches arrive in nondecreasing
  * event-time order: a qualifying completion's timestamp is below
  * every later watermark, so it is always processed before the timer
  * it beats — the staging contract the driver query follows.
  *
  * Scale shape: state is (event_id, ts) pairs per user — bounded by
  * the starts inside one timeout horizon (timers clear everything
  * older), independent of stream length; keyed by user and sharded
  * across RocksDB stores. Timers of already-completed starts fire as
  * no-ops (cheaper than reference-counted deletion against shared
  * expiry slots, and bounded by the same horizon). The per-batch
  * work is one shuffle of the batch's events by user.
  */
object TimeoutExpiry {

  final case class FunnelEvent(
      event_id: Long, user_id: Long, event_type: String, ts: java.sql.Timestamp)
  final case class PendingStart(event_id: Long, ts_ms: Long)
  final case class Outcome(
      start_id: Long, user_id: Long, outcome: String, latency_sec: Long)

  final class Processor(startType: String, completeType: String, timeoutMs: Long)
      extends StatefulProcessor[Long, FunnelEvent, Outcome] {

    @transient private var pending: ListState[PendingStart] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[PendingStart](
        "pending", Encoders.product[PendingStart], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[Outcome] = {
      // deterministic within-batch replay order (ST5 discipline); a
      // user's events per micro-batch are checkout-shaped (small)
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var pend = if (pending.exists()) pending.get().toVector else Vector.empty
      val out = Vector.newBuilder[Outcome]
      sorted.foreach { e =>
        val ms = e.ts.getTime
        if (e.event_type == startType) {
          // one timer per distinct expiry: a same-ms duplicate start
          // rides the existing timer (handleExpiredTimer drains by
          // deadline, not by identity)
          if (!pend.exists(_.ts_ms == ms)) getHandle.registerTimer(ms + timeoutMs)
          pend :+= PendingStart(e.event_id, ms)
        } else if (e.event_type == completeType) {
          val (done, keep) = pend.partition(s =>
            ms >= s.ts_ms && ms - s.ts_ms <= timeoutMs)
          out ++= done.map(s =>
            Outcome(s.event_id, key, "completed", ms / 1000L - s.ts_ms / 1000L))
          pend = keep
        }
      }
      pending.clear()
      if (pend.nonEmpty) pending.appendList(pend.toArray)
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Outcome] = {
      val deadline = expiredTimerInfo.getExpiryTimeInMs
      val pend = if (pending.exists()) pending.get().toVector else Vector.empty
      val (dead, keep) = pend.partition(s => s.ts_ms + timeoutMs <= deadline)
      pending.clear()
      if (keep.nonEmpty) pending.appendList(keep.toArray)
      dead.sortBy(s => (s.ts_ms, s.event_id))
        .map(s => Outcome(s.event_id, key, "expired", -1L)).iterator
    }
  }

  /** Drain `inDir` (event files staged in nondecreasing event-time
    * order — see class doc) with AvailableNow, writing per-start
    * outcomes to `outDir`. The watermark delay only throttles HOW
    * SOON timers fire, never the outcome, under the in-order staging
    * contract. */
  def run(
      spark: SparkSession,
      schema: StructType,
      inDir: String,
      outDir: String,
      checkpoint: String,
      startType: String,
      completeType: String,
      timeoutMs: Long): Unit = {
    import spark.implicits._
    // size the store count to the key space (150 users here), not
    // the session default — idle stores bill open/commit per batch
    graft.Session.withConfs(spark, graft.Session.RocksDbStateStore,
        "spark.sql.shuffle.partitions" -> "8") {
      // NO pre-stateful event_type filter: Catalyst pushes such a
      // predicate BELOW the EventTimeWatermark node (it doesn't touch
      // the ts column), which would drop the watermark-advancing
      // sentinel rows before their timestamps register — the
      // processor ignores foreign event types itself instead
      Drain.toParquet(Drain.files(spark, schema, inDir)
        .withWatermark("ts", "30 minutes")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .as[FunnelEvent]
        .groupByKey(_.user_id)
        .transformWithState(
          new Processor(startType, completeType, timeoutMs),
          TimeMode.EventTime(), OutputMode.Append()),
        outDir, checkpoint)
    }
  }
}
