package graft.streaming

import java.sql.Timestamp

/** Typed in-flight records for the streaming pipeline — the analog of the
  * reference's Flink POJOs (SURVEY §1.1 item 4):
  * EventData (`EventAggregationJob.java:129-152`), AnomalyAlert
  * (`AnomalyDetectionJob.java:160-175`). The reference's RollingStats
  * (`AnomalyDetectionJob.java:178-251`) is [[graft.functions.RollingWindow]].
  */
case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

case class AnomalyAlert(
    event_id: Long,
    event_type: String,
    ts: Timestamp,
    value: Double,
    n_samples: Long,
    mean_value: Double,
    stddev_value: Double,
    median_value: Double,
    mad_value: Double,
    z_score: Double,
    mad_score: Double,
    is_anomaly: Boolean,
    severity: String,
    anomaly_type: String)
