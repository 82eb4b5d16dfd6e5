package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}

/** Session-tunable state TTL for the transformWithState processors
  * (`graft.state.ttl` = positive millisecond count, or `none`).
  *
  * Default `none` is REFERENCE PARITY: the Flink jobs keep their keyed
  * `ValueState` forever (`AnomalyDetectionJob.java:279-305` configures
  * no StateTtlConfig), and the parity specs hold at the default. But
  * per-user state (snapshots, funnels) and per-event-id state (ingest
  * dedup) are unbounded in KEY CARDINALITY — a 100 TB deployment
  * with churning users must bound the store, and processing-time TTL is
  * the standard Flink/Spark answer (`StateTtlConfig` there,
  * `TTLConfig` here).
  *
  * TTL requires `TimeMode.ProcessingTime` in transformWithState, so the
  * stream builders derive the time mode from the resolved config —
  * `TimeMode.None` at the parity default, ProcessingTime when a TTL is
  * set. [[SessionStatefulProcessor]] and [[CooldownStatefulProcessor]]
  * are exempt: they run event-time timers that clear a key's state once
  * the watermark closes it, so their stores are already bounded.
  */
object StateTtl {

  val Key = "graft.state.ttl"

  def of(spark: SparkSession): TTLConfig = {
    val v = spark.conf.get(Key, "none")
    if (v == "none") TTLConfig.NONE
    else {
      val ms =
        try v.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"graft.state.ttl=$v must be a millisecond count or 'none'")
        }
      require(ms > 0, s"graft.state.ttl=$ms must be positive")
      TTLConfig(java.time.Duration.ofMillis(ms))
    }
  }

  def timeMode(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
}
