package graft.streaming

import graft.functions.RollingWindow
import org.apache.spark.sql.streaming.GroupState

/** Streaming anomaly detector — the reference's stateful
  * `RichFlatMapFunction` + `ValueState<RollingStats>` keyed by source
  * (`AnomalyDetectionJob.java:279-368`, SURVEY §2.7 T3-T9), as a
  * `flatMapGroupsWithState` handler keyed by event_type.
  *
  * Per event: add the value to the 100-deep window, gate on ≥10 warm-up
  * samples (T4), score with z (population stddev, T5) and MAD (T6)
  * detectors at threshold 3.0, classify severity (T7) and type (T8).
  *
  * Determinism: events inside one micro-batch are processed in
  * (ts, event_id) order — cross-batch order is arrival order, exactly the
  * reference's semantics (Flink processes in stream order per key).
  *
  * Scale: state is O(100 doubles) per key; the groupByKey shuffle is the
  * only exchange — identical dataflow to the Flink job's keyBy.
  */
object AnomalyProcessor {

  /** Values per key in the rolling window (the reference's ring size). */
  val Window = 100
  val ZThreshold = 3.0
  val MadThreshold = 3.0
  val MinSamples = 10

  def score(e: Event, window: RollingWindow): AnomalyAlert = {
    def r4(x: Double): Double = graft.functions.Rounding.scalar(x, 4)
    val mean = window.mean
    val std = window.stddev
    val med = window.median
    val madV = window.mad
    val z = r4(if (std > 0) (e.value - mean) / std else 0.0)
    val madScore = r4(if (madV > 0) math.abs(e.value - med) / madV else 0.0)
    val zAnomaly = math.abs(z) > ZThreshold
    val madAnomaly = madScore > MadThreshold
    val isAnomaly = zAnomaly || madAnomaly
    val severity =
      if (isAnomaly && (math.abs(z) > 4 || madScore > 4)) "critical"
      else if (isAnomaly && (math.abs(z) > 3.5 || madScore > 3.5)) "warning"
      else "info"
    val anomalyType =
      if (zAnomaly) "z-score" else if (madAnomaly) "mad" else "normal"
    AnomalyAlert(e.event_id, e.event_type, e.ts, e.value,
                 window.size.toLong, r4(mean), r4(std), r4(med), r4(madV),
                 z, madScore, isAnomaly, severity, anomalyType)
  }

  /** A key's window as of its stored state (empty for a new key). */
  def restore(state: Option[RollingWindow.State]): RollingWindow = {
    val window = new RollingWindow(Window)
    state.foreach(window.restore)
    window
  }

  /** The per-key fold every streaming detector runs: the key's batch in
    * (ts, event_id) order, each value added to `window` and each event
    * scored once `MinSamples` values are held. Strict, so `window` is
    * final when this returns.
    */
  def scoreBatch(window: RollingWindow, events: Seq[Event]): Seq[AnomalyAlert] =
    events
      .sortBy(e => (EventTime.micros(e.ts), e.event_id))
      .flatMap { e =>
        window.add(e.value)
        if (window.size >= MinSamples) Some(score(e, window)) else None
      }

  /** flatMapGroupsWithState handler: (key, batchEvents, state) → alerts. */
  def detect(
      key: String,
      events: Iterator[Event],
      state: GroupState[RollingWindow.State]): Iterator[AnomalyAlert] = {
    val window = restore(state.getOption)
    val out = scoreBatch(window, events.toSeq)
    state.update(window.snapshot)
    out.iterator
  }
}
