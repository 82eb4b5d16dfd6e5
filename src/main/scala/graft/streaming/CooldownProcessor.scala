package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.streaming.GroupState

/** Alert routing + cooldown dedup — the reference alert-service's
  * per-`{source}:{severity}` suppression (`alert-service/main.py:78,
  * 189-202`, SURVEY §2.7 T10) with the *true chained* semantics: an alert
  * fires only if ≥ cooldown has elapsed since the last alert that
  * actually FIRED (not merely the previous alert), and firing updates the
  * state. The batch `lag`-based form in AnomalyOps.alertCooldown is the
  * documented approximation; this processor is exact.
  */
object CooldownProcessor {

  val CooldownMillis: Long = 5 * 60 * 1000L

  case class FiredAlert(
      event_id: Long,
      event_type: String,
      severity: String,
      ts: Timestamp)

  case class LastFired(tsMillis: Long)

  /** Pure gating core shared by [[gate]] and the event-time-expiry
    * [[CooldownStatefulProcessor]].
    */
  def advance(init: Option[Long],
              alerts: Iterator[AnomalyAlert]): (Option[Long], Seq[FiredAlert]) = {
    var last = init
    val out = alerts.toSeq
      .sortBy(a => (EventTime.micros(a.ts), a.event_id))
      .flatMap { a =>
        val t = a.ts.getTime
        if (last.forall(l => t - l >= CooldownMillis)) {
          last = Some(t)
          Some(FiredAlert(a.event_id, a.event_type, a.severity, a.ts))
        } else None
      }
    (last, out)
  }

  def gate(
      key: (String, String),
      alerts: Iterator[AnomalyAlert],
      state: GroupState[LastFired]): Iterator[FiredAlert] = {
    val (last, out) = advance(state.getOption.map(_.tsMillis), alerts)
    last.foreach(l => state.update(LastFired(l)))
    out.iterator
  }
}
