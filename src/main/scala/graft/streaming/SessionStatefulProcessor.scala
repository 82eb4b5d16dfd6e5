package graft.streaming

import java.sql.Timestamp

import graft.io.LocalFs
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Running per-user session aggregate (state for
  * [[SessionStatefulProcessor]]). Bounds are exact event-time MICROS —
  * the parquet timestamps carry microseconds and `session_window`'s
  * bounds keep them, so millisecond state would truncate `session_end`
  * by up to 999 µs vs the batch analog (caught by the hash gate). The
  * value sum rides exact micro-unit longs so the sequential fold is
  * bit-identical to the batch `sessionize` aggregate (and its DuckDB
  * oracle) regardless of summation order — the KPI-pane discipline.
  */
case class SessionAgg(startMicros: Long, lastMicros: Long, n: Long,
                      sumMicro: Long)

/** A closed gap-session — same shape and semantics as the
  * `session_window` rows of [[graft.operators.TemporalOps.sessionize]]:
  * `session_end` is last event time + gap, `sum_value` rounded to 4 dp
  * with the cross-engine floor formula.
  */
case class SessionClosed(user_id: Long,
                         session_start: Timestamp,
                         session_end: Timestamp,
                         n_events: Long,
                         sum_value: Double)

/** Gap-based sessionization as a transformWithState processor with
  * EVENT-TIME TIMERS — the piece of the transformWithState API surface
  * ([[AnomalyListStateProcessor]] and friends use none of): a session
  * closes either when a same-key event arrives past the 30-minute gap
  * (emitted inline) or when the WATERMARK passes `last event + gap`
  * with no further events — which only a registered timer can observe
  * ([[handleExpiredTimer]]). This is the Flink
  * `EventTimeSessionWindows` + `onEventTime` trigger pattern 1:1, and
  * the explicit form of what `session_window` + Append mode do
  * internally; parity against the batch sessionize is asserted in
  * StatefulProcessorSpec, and the leg runs under the DuckDB hash gate
  * end-to-end as `stream_session_timer_drain`.
  *
  * One live timer per key: each input batch re-arms the timer to the
  * current session's close instant and deletes the stale one, so timer
  * state is O(active keys), not O(events).
  */
class SessionStatefulProcessor
    extends StatefulProcessor[Long, Event, SessionClosed] {
  import SessionStatefulProcessor._

  @transient private var sess: ValueState[SessionAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[SessionAgg](
      "session", Encoders.product[SessionAgg], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[SessionClosed] = {
    val (cur, closed) = advance(key, Option(sess.get()), inputRows)
    cur.foreach { s =>
      sess.update(s)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      // timers live in MILLIS; round the micro-exact close instant UP so
      // the timer can never fire before the true close (at most 1 ms
      // late — the watermark that trips it is ≥ 10 s past the data)
      getHandle.registerTimer((s.lastMicros + GapMicros + 999L) / 1000L)
    }
    closed.iterator
  }

  override def handleExpiredTimer(
      key: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionClosed] = {
    val s = sess.get()
    // a stale timer (re-armed later by new events) fires before the
    // session's true close instant — ignore it
    if (s != null &&
        expiredTimerInfo.getExpiryTimeInMs() * 1000L >= s.lastMicros + GapMicros) {
      sess.clear()
      Iterator.single(closedRow(key, s))
    } else Iterator.empty
  }
}

object SessionStatefulProcessor {

  /** Session gap — keep in sync with TemporalOps.sessionize. */
  val GapMillis: Long = 30 * 60 * 1000L
  val GapMicros: Long = GapMillis * 1000L

  import EventTime.{micros, tsOfMicros}

  private[streaming] def closedRow(key: Long, s: SessionAgg): SessionClosed =
    SessionClosed(key, tsOfMicros(s.startMicros),
                  tsOfMicros(s.lastMicros + GapMicros), s.n,
                  graft.functions.Rounding
                    .scalar(s.sumMicro.toDouble / 1000000.0, 4))

  /** Pure session fold (sorts its batch internally; state carries
    * across calls) — shared by the processor and the split-invariance
    * property tests.
    */
  private[graft] def advance(
      key: Long,
      init: Option[SessionAgg],
      events: Iterator[Event]): (Option[SessionAgg], Seq[SessionClosed]) = {
    val out = Seq.newBuilder[SessionClosed]
    var cur = init
    events.toSeq
      .sortBy(e => (micros(e.ts), e.event_id))
      .foreach { e =>
        val t = micros(e.ts)
        val micro = graft.functions.Rounding.microUnitsScalar(e.value)
        cur match {
          case Some(s) if t - s.lastMicros > GapMicros =>
            out += closedRow(key, s)
            cur = Some(SessionAgg(t, t, 1L, micro))
          case Some(s) =>
            // min-start: an out-of-order event inside the watermark
            // slack may precede the stored session start; session_window
            // extends the window backwards, so this must too
            cur = Some(SessionAgg(math.min(s.startMicros, t),
                                  math.max(s.lastMicros, t),
                                  s.n + 1, s.sumMicro + micro))
          case None =>
            cur = Some(SessionAgg(t, t, 1L, micro))
        }
      }
    (cur, out.result())
  }

  /** events → closed sessions via transformWithState + event-time
    * timers. Append mode: only final (watermark- or gap-closed) rows.
    */
  def sessionStream(spark: SparkSession,
                    events: Dataset[Event]): Dataset[SessionClosed] = {
    LocalFs.use(spark)
    import spark.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionStatefulProcessor,
                          TimeMode.EventTime(),
                          OutputMode.Append())
  }
}
