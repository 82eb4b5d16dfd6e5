package graft.streaming

import graft.functions.RollingWindow
import org.apache.spark.sql.streaming.GroupState

/** FUSED detector + cooldown — the single-query form of the full alert
  * path (detect → cooldown-gate), removing the store-then-consume stage
  * boundary the reference draws at its alerts.v1 Kafka topic
  * (`AnomalyDetectionJob.java:279-368` produces; `alert-service/main.py:
  * 121-147,189-202` consumes and gates).
  *
  * Why fusing is legal: Spark forbids chaining two update-mode
  * flatMapGroupsWithState stages in one query, but it never needs two —
  * the cooldown key `(source, severity)` NESTS under the detector key
  * `source`, so one processor keyed by `event_type` can carry both the
  * rolling window and the per-severity `lastFired` map, and
  * gate each alert inline the instant it is scored. No second shuffle,
  * no second state commit, no second trigger interval.
  *
  * Semantic equivalence with the two-query path (hash-gated by
  * `stream_fused_routed_drain` against the SAME recursive-CTE oracle as
  * `stream_routed_drain`): within a micro-batch both paths process a
  * key's events in (ts, event_id) order, and the chained-cooldown
  * decision for a given (source, severity) depends only on that
  * subsequence's order — which is identical whether the gate runs
  * inline (here) or in a downstream keyed stage (the two-query path).
  * Cross-batch, both carry `lastFired` in checkpointed state.
  *
  * Why it exists: the two-query path's user-visible latency pays BOTH
  * queries' trigger machinery (measured `chained` config in
  * THROUGHPUT.json — the handoff gap alone is seconds on micro-batch
  * infrastructure). The fused topology's end-to-end latency is one
  * interval + one execution — the `chained_fused` probe config measures
  * exactly that against the reference's <2 s detection-to-alert bar.
  *
  * Scale posture: state per key is O(100 doubles + #severities longs);
  * the single groupByKey shuffle is the same exchange the plain
  * detector pays. The downstream rule routing stays a stream-static
  * broadcast join (stateless), so fusing adds zero exchanges.
  */
object FusedAlertProcessor {

  /** Both stages' state under the detector's key: the rolling window
    * plus the per-severity last-FIRED epoch-ms map (≤3 entries — the
    * severity alphabet), exactly the union of the two queries' stores.
    */
  case class FusedState(window: RollingWindow.State, lastFired: Map[String, Long])

  /** flatMapGroupsWithState handler: score the batch with the plain
    * detector's fold ([[AnomalyProcessor.scoreBatch]]), then apply the
    * chained cooldown rule ([[CooldownProcessor]] semantics: fire only if
    * ≥ cooldown since the last alert that actually FIRED for this
    * (source, severity); firing updates the state).
    */
  def detectAndGate(
      key: String,
      events: Iterator[Event],
      state: GroupState[FusedState]): Iterator[CooldownProcessor.FiredAlert] = {
    val init = state.getOption
    val window = AnomalyProcessor.restore(init.map(_.window))
    var lastFired = init.fold(Map.empty[String, Long])(_.lastFired)
    val out = AnomalyProcessor.scoreBatch(window, events.toSeq).flatMap { a =>
      val t = a.ts.getTime
      if (a.is_anomaly &&
          lastFired.get(a.severity)
            .forall(l => t - l >= CooldownProcessor.CooldownMillis)) {
        lastFired = lastFired.updated(a.severity, t)
        Some(CooldownProcessor.FiredAlert(a.event_id, a.event_type,
                                          a.severity, a.ts))
      } else None
    }
    state.update(FusedState(window.snapshot, lastFired))
    out.iterator
  }
}
