package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round
import graft.streaming.AnomalyProcessor
import graft.streaming.AnomalyProcessor.{MadThreshold, MinSamples, ZThreshold}

/** Batch analog of the reference anomaly-detection job (SURVEY §2.4
  * A6-A8, §2.7 T4-T9): per-source rolling statistics over the last 100
  * events (ring buffer, `AnomalyDetectionJob.java:178-251`), z-score
  * (population stddev) and MAD detectors with threshold 3.0, warm-up
  * gate of 10 events, severity classification and anomaly-type tag.
  *
  * Re-expressed Spark-first as a window over
  * `Window.partitionBy(event_type).orderBy(ts, event_id).rowsBetween(-99, 0)`
  * — the exact batch equivalent of the keyed 100-deep ring buffer. The
  * streaming form with identical semantics lives in
  * [[graft.streaming.AnomalyProcessor]] (ValueState per key, SURVEY T3).
  *
  * Scale: one shuffle on event_type (the window partition key), then a
  * linear in-partition pass; frame buffers are O(100) regardless of data
  * size. Skewed sources would skew partitions — at cluster scale, salt the
  * partition key or sub-partition by time range first.
  */
object AnomalyOps {

  /** Declarative (stock-Catalyst) formulation of [[anomalyScore]] —
    * kept as a named cross-check query; the default path below uses the
    * custom whole-operator plan, which is bit-identical and ~40% faster.
    *
    * The whole rolling-statistics bundle is ONE window aggregate
    * ([[graft.functions.RollingStatsAgg]]) whose result is a struct
    * attribute, so downstream consumers (alert filters, stats, cooldown)
    * reference cheap struct fields; an expression-valued bundle would be
    * substituted into every consumer by predicate pushdown and re-folded
    * per reference.
    */
  def anomalyScoreWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(AnomalyProcessor.Window - 1), 0)

    val withStats = Tables
      .events(spark, dir)
      .filter(col("value") > 0) // P3 validity filter (AnomalyDetectionJob.java:81-83)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("st", graft.functions.RollingStatsAgg(col("value")).over(w))
    scoreFromStats(withStats)
      .orderBy(col("event_type"), col("ts"), col("event_id"))
  }

  /** Full anomaly scoring: z-score + MAD + severity + type per event —
    * the default path, planned through the custom whole-operator stack
    * ([[graft.plans.RollingStatsPlan]] → RollingStatsExec): one
    * streaming pass with a per-key ring buffer instead of WindowExec's
    * per-row frame re-accumulation. Bit-identical to
    * [[anomalyScoreWindow]] (asserted in CustomPlanSpec and by both
    * sharing one DuckDB oracle); registered via
    * [[graft.plans.GraftExtensions.useStrategy]] so it works on any
    * session.
    */
  def anomalyScore(spark: SparkSession, dir: String): DataFrame =
    scored(spark, dir)
      .orderBy(col("event_type"), col("ts"), col("event_id"))

  /** The scored frame WITHOUT the presentation sort — what every
    * downstream alert query consumes. Only `anomaly_score` itself pays
    * the global range-partition sort; filters/windows/aggregates over
    * this frame re-use the rolling-stats pass's hash partitioning
    * directly (one exchange for the whole family).
    */
  private def scored(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import graft.plans.{GraftExtensions, RollingStatsPlan, RollingStatsStrategy}
    GraftExtensions.useStrategy(spark, RollingStatsStrategy)

    val base = Tables
      .events(spark, dir)
      .filter(col("value") > 0)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val child = GraftSqlBridge.logicalPlan(base)
    val resolve = child.output.map(a => a.name -> a).toMap
    val plan = RollingStatsPlan(
      partitionKey = resolve("event_type"),
      orderKeys = Seq(
        org.apache.spark.sql.catalyst.expressions.SortOrder(
          resolve("ts"), org.apache.spark.sql.catalyst.expressions.Ascending),
        org.apache.spark.sql.catalyst.expressions.SortOrder(
          resolve("event_id"), org.apache.spark.sql.catalyst.expressions.Ascending)),
      value = resolve("value"),
      windowSize = AnomalyProcessor.Window,
      statsAttr = RollingStatsPlan.newStatsAttr("st"),
      child = child
    )
    scoreFromStats(GraftSqlBridge.ofRows(spark, plan))
  }

  /** Shared scoring tail over a frame with a `st` stats struct column. */
  private def scoreFromStats(withStats: DataFrame): DataFrame =
    withStats
      .withColumn("n_samples", col("st.n"))
      .withColumn("mean_value", col("st.mean"))
      .withColumn("stddev_value", col("st.stddev"))
      .withColumn("median_value", col("st.median"))
      .withColumn("mad_value", col("st.mad"))
      .withColumn(
        "z_score",
        round(when(col("stddev_value") > 0,
                   (col("value") - col("mean_value")) / col("stddev_value"))
                .otherwise(0.0),
              4))
      .withColumn(
        "mad_score",
        round(when(col("mad_value") > 0,
                   abs(col("value") - col("median_value")) / col("mad_value"))
                .otherwise(0.0),
              4))
      .filter(col("n_samples") >= MinSamples) // warm-up gate (T4)
      .withColumn("z_anomaly", abs(col("z_score")) > ZThreshold)
      .withColumn("mad_anomaly", col("mad_score") > MadThreshold)
      .withColumn("is_anomaly", col("z_anomaly") || col("mad_anomaly"))
      // severity classifier, AnomalyDetectionJob.java:327-337 (T7)
      .withColumn(
        "severity",
        when(col("is_anomaly") && (abs(col("z_score")) > 4 || col("mad_score") > 4),
             "critical")
          .when(col("is_anomaly") && (abs(col("z_score")) > 3.5 || col("mad_score") > 3.5),
                "warning")
          .otherwise("info"))
      // anomaly type: z-score takes precedence (AnomalyDetectionJob.java:344, T8)
      .withColumn("anomaly_type",
                  when(col("z_anomaly"), "z-score")
                    .when(col("mad_anomaly"), "mad")
                    .otherwise("normal"))
      .select(
        col("event_id"), col("event_type"), col("ts"), col("value"),
        col("n_samples"),
        round(col("mean_value"), 4).as("mean_value"),
        round(col("stddev_value"), 4).as("stddev_value"),
        round(col("median_value"), 4).as("median_value"),
        round(col("mad_value"), 4).as("mad_value"),
        col("z_score"), col("mad_score"), col("is_anomaly"), col("severity"),
        col("anomaly_type")
      )

  /** Materialized alert store — the architectural analog of the
    * reference's cold path: the anomaly job writes every scored alert to
    * TimescaleDB (`anomalies` hypertable, `01-init-timescaledb.sql:44-56`)
    * and the read API / alert service query THAT table, never the raw
    * stream (`read-api/main.py:385-400`, `alert-service/main.py:463-474`).
    * Re-deriving the full rolling-stats pipeline per consumer query would
    * do strictly more work than the reference; instead the scored frame is
    * persisted once per dataset ([[FrameStore]]) and every alert-family
    * consumer reads it.
    */
  private def scoredStore(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "scored")(scored(spark, dir))

  /** Anomalies only, with the reference's alert fields: thresholds,
    * formatted description (`String.format`,
    * `AnomalyDetectionJob.java:339-366` T9/F8). The alertId UUID is
    * replaced by the deterministic event_id so the oracle can hash-match.
    */
  /** Incident aggregation: consecutive anomalies of one source merge
    * into REGIONS when separated by ≤ 10 minutes — the alert-fatigue
    * reducer between a detector and a pager (one incident row, not 50
    * alert rows). Implemented with `session_window` in a groupBy, NOT a
    * lag/cumsum window over each type's full history: the gap-merge
    * then partial-aggregates and stays skew-safe however long one
    * source's anomaly history grows (the same reasoning as
    * [[graft.operators.TemporalOps.sessionize]], whose streaming twin
    * this shares). Boundary is adjacent-inclusive (a gap of exactly 10
    * minutes merges), matching `session_window`; the oracle replays
    * that rule with lag/cumsum islands.
    */
  def anomalyRegions(spark: SparkSession, dir: String): DataFrame =
    regionsFrame(spark, dir).orderBy(col("event_type"), col("start_ts"))

  /** The unsorted incident-region frame [[anomalyRegions]] presents and
    * [[incidentOverlap]] self-joins — factored so the overlap join never
    * pays the presentation sort's range exchange twice.
    */
  private def regionsFrame(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir)
      .filter(col("is_anomaly"))
      .groupBy(col("event_type"),
               session_window(col("ts"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("n_alerts"),
           min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
           sum(when(col("severity") === "critical", 1L).otherwise(0L))
             .as("n_critical"),
           round(max(greatest(abs(col("z_score")), abs(col("mad_score")))), 6)
             .as("peak_score"))
      .select(col("event_type"), col("start_ts"), col("end_ts"),
              expr("(unix_micros(end_ts) - unix_micros(start_ts)) div 1000000")
                .as("duration_secs"),
              col("n_alerts"), col("n_critical"), col("peak_score"))

  /** Cross-source incident correlation: pairs of [[anomalyRegions]]
    * intervals from DIFFERENT event types that overlap in time — the
    * "did latency and errors spike together" question an on-call
    * surface answers before paging two teams for one outage. Interval
    * endpoints are closed on both sides (touching incidents correlate),
    * matching the oracle's `a.start ≤ b.end AND b.start ≤ a.end`.
    *
    * Scale shape — the distributed interval-overlap join: a raw
    * inequality self-join is a cartesian product, so each region
    * explodes onto the UTC-hour grid it spans and candidates pair
    * through an EQUI join on the hour bucket (fan-out per bucket =
    * incidents concurrently active that hour, bounded by the source
    * count; region rows themselves are already gap-merged aggregates,
    * metadata-scale next to the event stream). Each overlapping pair
    * shares the hour of `greatest(start_a, start_b)`, so keeping only
    * the pair whose bucket IS that hour emits every pair exactly once —
    * no distinct, no second shuffle. Both explode sides re-read the
    * persisted scored store ([[FrameStore]]), never re-derive it.
    */
  def incidentOverlap(spark: SparkSession, dir: String): DataFrame = {
    val regions = regionsFrame(spark, dir)
    def buckets(prefix: String): DataFrame =
      regions.select(
        col("event_type").as(s"${prefix}_type"),
        col("start_ts").as(s"${prefix}_start"),
        col("end_ts").as(s"${prefix}_end"),
        col("n_alerts").as(s"${prefix}_alerts"),
        explode(sequence(date_trunc("hour", col("start_ts")),
                         date_trunc("hour", col("end_ts")),
                         expr("INTERVAL 1 HOUR"))).as(s"${prefix}_bucket"))
    buckets("a")
      .join(buckets("b"),
            col("a_bucket") === col("b_bucket") &&
              col("a_type") < col("b_type") &&
              col("a_start") <= col("b_end") &&
              col("b_start") <= col("a_end"))
      .filter(col("a_bucket") ===
        date_trunc("hour", greatest(col("a_start"), col("b_start"))))
      .select(
        col("a_type").as("type_a"), col("b_type").as("type_b"),
        greatest(col("a_start"), col("b_start")).as("overlap_start"),
        least(col("a_end"), col("b_end")).as("overlap_end"),
        expr("""(unix_micros(least(a_end, b_end)) -
                 unix_micros(greatest(a_start, b_start))) div 1000000""")
          .as("overlap_secs"),
        col("a_alerts"), col("b_alerts"))
      .orderBy(col("type_a"), col("type_b"), col("overlap_start"),
               col("overlap_end"))
  }

  def anomalyAlerts(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir)
      .filter(col("is_anomaly"))
      .withColumn(
        "description",
        format_string(
          "Anomaly detected in %s: value=%.2f, mean=%.2f, z-score=%.2f, mad-score=%.2f",
          col("event_type"),
          // re-round every %.2f argument with the deterministic floor
          // formula: a double that is exactly a 2-decimal value prints
          // identically under Java's and C's %.2f (no tie can exist)
          round(col("value"), 2),
          round(col("mean_value"), 2),
          round(col("z_score"), 2),
          round(col("mad_score"), 2)
        ))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
              col("z_score"), col("mad_score"), col("severity"),
              col("anomaly_type"), col("description"))
      .orderBy(col("event_type"), col("ts"), col("event_id"))

  /** `GET /alerts?since&severity` — conjunctive filters, newest-first,
    * limit 1000 (read-api/main.py:372-431, P5/P6/O2).
    */
  def alertsFilter(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir)
      .filter(col("is_anomaly") &&
        col("severity") === "critical" &&
        col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
              col("z_score"), col("mad_score"), col("severity"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1000)

  /** `GET /alerts/stats` — per-severity totals / last-hour counts over the
    * trailing 24 h (alert-service/main.py:457-487, A4/A5). "Now" is
    * anchored to max(ts) in the data for determinism (SURVEY §7 phase 1).
    */
  def alertsStats(spark: SparkSession, dir: String): DataFrame = {
    val alerts = scoredStore(spark, dir).filter(col("is_anomaly"))
    // "now" anchor from the raw events table (one cheap column scan) —
    // anchoring on alerts.max(ts) would execute the whole scoring
    // pipeline a second time just to find the clock
    val mx = Tables.events(spark, dir).agg(max(col("ts")).as("max_ts"))
    alerts
      .crossJoin(broadcast(mx))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("severity"))
      .agg(
        count(lit(1)).as("total_alerts"),
        count(when(col("ts") >= col("max_ts") - expr("INTERVAL 1 HOUR"), 1))
          .as("last_hour_alerts"))
      .orderBy(col("severity"))
  }

  /** Cooldown dedup, batch analog (T10): per (source, severity), compare
    * with the previous alert time via `lag` and keep alerts ≥5 min apart.
    * (The exact chained-cooldown semantics — gap since last *fired*, not
    * last seen — is stateful; [[graft.streaming.CooldownProcessor]]
    * implements it; this lag form is the documented batch approximation,
    * SURVEY §2.7 T10.)
    */
  def alertCooldown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("event_type"), col("severity"))
      .orderBy(col("ts"), col("event_id"))
    scoredStore(spark, dir)
      .filter(col("is_anomaly"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "fired",
        col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >= 300))
      .filter(col("fired"))
      .select(col("event_id"), col("event_type"), col("ts"), col("severity"))
      .orderBy(col("event_type"), col("severity"), col("ts"), col("event_id"))
  }

  /** Anomalies with the full typed alert schema
    * ([[graft.streaming.AnomalyAlert]] field set) — the staged input the
    * cooldown drains replay as a stream
    * ([[graft.streaming.StreamDrain]]): the detector stage is gated
    * separately (`stream_alerts_drain`), so the cooldown drains stage its
    * batch-equal output offline and put only the GATE stage's streaming
    * execution under the hash check (the same offline-stage pattern as
    * `stream_lshdedup_drain`).
    */
  private[graft] def scoredAlerts(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir).filter(col("is_anomaly"))

  /** EXACT chained cooldown (T10), batch form: an alert fires only if
    * ≥5 min elapsed since the last alert that actually FIRED — the true
    * reference semantics (`alert-service/main.py:189-202`: firing writes
    * the suppression key) that [[alertCooldown]]'s `lag` form only
    * approximates (gap since last SEEN). The greedy pass is inherently
    * sequential per key, so it runs as a left fold via the `aggregate`
    * higher-order function over the per-key time-sorted alert list —
    * the exact fold [[graft.streaming.CooldownProcessor.advance]] runs
    * online, distributed per (source, severity) key with group size
    * bounded by alerts-per-key (the collect_list bound every exact
    * per-key operator here shares). The DuckDB oracle replays the fold
    * as a pointer-jump recursive CTE ([[chainedFiredCte]] — this
    * DuckDB's `list_reduce` corrupts struct/list accumulators, see the
    * notes there).
    */
  def alertCooldownChained(spark: SparkSession, dir: String): DataFrame = {
    val cooldownMs = graft.streaming.CooldownProcessor.CooldownMillis
    // lexicographic struct sort = (arrival micros, event_id), the
    // processor's in-batch order; the fold compares epoch millis, the
    // processor's `ts.getTime` threshold arithmetic
    val perKey = scoredAlerts(spark, dir)
      .select(col("event_type"), col("severity"),
              struct(unix_micros(col("ts")).as("us"), col("event_id"),
                     unix_millis(col("ts")).as("ms"), col("ts")).as("x"))
      .groupBy(col("event_type"), col("severity"))
      .agg(array_sort(collect_list(col("x"))).as("xs"))
    val first = element_at(col("xs"), 1)
    val init = struct(
      first.getField("ms").as("ms"),
      array(first.getField("event_id")).as("ids"),
      array(first.getField("ts")).as("tss"))
    perKey
      .withColumn(
        "r",
        aggregate(
          slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
          init,
          (acc, x) =>
            when(x.getField("ms") - acc.getField("ms") >= lit(cooldownMs),
                 struct(
                   x.getField("ms").as("ms"),
                   concat(acc.getField("ids"), array(x.getField("event_id")))
                     .as("ids"),
                   concat(acc.getField("tss"), array(x.getField("ts")))
                     .as("tss")))
              .otherwise(acc)))
      .select(col("event_type"), col("severity"),
              explode(arrays_zip(col("r.ids").as("fid"),
                                 col("r.tss").as("fts"))).as("f"))
      .select(col("f.fid").as("event_id"), col("event_type"),
              col("f.fts").as("ts"), col("severity"))
      .orderBy(col("event_type"), col("severity"), col("ts"), col("event_id"))
  }

  /** Alert routing rules — the reference alert-service's in-memory rule
    * list (`alert-service/main.py:60-77`): (rule_id, enabled,
    * severity_threshold, sources it applies to — empty ⇒ all, notify
    * channel). Static config, expressed as a broadcastable table.
    */
  def alertRules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, true, "critical", Seq.empty[String], "email"),
      (2L, true, "critical", Seq("click", "purchase"), "webhook"),
      (3L, true, "warning", Seq("error"), "slack"),
      (4L, false, "warning", Seq.empty[String], "email")
    ).toDF("rule_id", "enabled", "severity_threshold", "rule_sources", "channel")
  }

  /** Rule predicate routing (P8, `alert-service/main.py:179-187`):
    * `enabled && (sources empty ∨ source ∈ sources) && severity ==
    * threshold`, evaluated as a broadcast join of the (tiny) rules table
    * against the alert stream — the join-with-rules re-expression SURVEY
    * §2.3 calls for instead of the reference's per-alert Python loop.
    */
  def alertRouting(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir)
      .filter(col("is_anomaly"))
      .join(
        broadcast(alertRules(spark).filter(col("enabled"))),
        col("severity") === col("severity_threshold") &&
          (size(col("rule_sources")) === 0 ||
            array_contains(col("rule_sources"), col("event_type"))))
      .select(col("event_id"), col("event_type"), col("ts"), col("severity"),
              col("rule_id"), col("channel"))
      .orderBy(col("event_id"), col("rule_id"))

  /** `events_last_hour` view analog (01-init-timescaledb.sql:68-84, P7/O4):
    * trailing window anchored at max(ts).
    */
  def eventsLastHour(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mx = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(mx))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              col("value"))
      .orderBy(col("ts").desc, col("event_id"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** Scored CTE shared by the anomaly oracles — must mirror
    * [[anomalyScore]] bit-for-bit (same fold order over the frame buffer,
    * same rounding).
    */
  private val scoredSql =
    s"""WITH e AS (SELECT * FROM (${Tables.eventsSql}) ee WHERE value > 0),
       |buf AS (
       |  SELECT event_id, event_type, ts, value,
       |         list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
       |                           ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS buf
       |  FROM e
       |),
       |stats AS (
       |  -- list_reduce left-folds in buffer order: bit-exact match for
       |  -- Spark's aggregate(buf, 0.0, (acc, x) -> acc + x)
       |  SELECT *, CAST(len(buf) AS BIGINT) AS n_samples,
       |         list_reduce(buf, (a, b) -> a + b) / len(buf) AS mean_value,
       |         sqrt(greatest(0.0, list_reduce(list_transform(buf, x -> x * x), (a, b) -> a + b) / len(buf)
       |                            - (list_reduce(buf, (a, b) -> a + b) / len(buf)) * (list_reduce(buf, (a, b) -> a + b) / len(buf)))) AS stddev_value,
       |         (list_sort(buf)[CAST((len(buf) + 1) // 2 AS INT)]
       |          + list_sort(buf)[CAST(len(buf) // 2 AS INT) + 1]) / 2.0 AS median_value
       |  FROM buf
       |),
       |mads AS (
       |  SELECT *,
       |         (list_sort(list_transform(buf, x -> abs(x - median_value)))[CAST((len(buf) + 1) // 2 AS INT)]
       |          + list_sort(list_transform(buf, x -> abs(x - median_value)))[CAST(len(buf) // 2 AS INT) + 1]) / 2.0 AS mad_value
       |  FROM stats
       |),
       |scored AS (
       |  SELECT event_id, event_type, ts, value, n_samples,
       |         mean_value, stddev_value, median_value, mad_value,
       |         round(CASE WHEN stddev_value > 0 THEN (value - mean_value) / stddev_value ELSE 0.0 END, 4) AS z_score,
       |         round(CASE WHEN mad_value > 0 THEN abs(value - median_value) / mad_value ELSE 0.0 END, 4) AS mad_score
       |  FROM mads WHERE n_samples >= $MinSamples
       |),
       |flagged AS (
       |  SELECT *,
       |         abs(z_score) > $ZThreshold AS z_anomaly,
       |         mad_score > $MadThreshold AS mad_anomaly,
       |         (abs(z_score) > $ZThreshold OR mad_score > $MadThreshold) AS is_anomaly
       |  FROM scored
       |),
       |final AS (
       |  SELECT event_id, event_type, ts, value, n_samples,
       |         round(mean_value, 4) AS mean_value,
       |         round(stddev_value, 4) AS stddev_value,
       |         round(median_value, 4) AS median_value,
       |         round(mad_value, 4) AS mad_value,
       |         z_score, mad_score, is_anomaly,
       |         CASE WHEN is_anomaly AND (abs(z_score) > 4 OR mad_score > 4) THEN 'critical'
       |              WHEN is_anomaly AND (abs(z_score) > 3.5 OR mad_score > 3.5) THEN 'warning'
       |              ELSE 'info' END AS severity,
       |         CASE WHEN z_anomaly THEN 'z-score'
       |              WHEN mad_anomaly THEN 'mad'
       |              ELSE 'normal' END AS anomaly_type
       |  FROM flagged
       |)""".stripMargin

  /** Detector-agreement matrix: scored events by (anomaly_type ×
    * severity) — the evaluation table that says how often the z-score
    * and MAD detectors fire, at what severity, and how much is plain
    * normal. Reads the materialized alert store; one tiny aggregation.
    */
  def detectorAgreement(spark: SparkSession, dir: String): DataFrame =
    scoredStore(spark, dir)
      .groupBy(col("anomaly_type"), col("severity"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("anomaly_type"), col("severity"))

  /** Gap-merged incident regions as a reusable oracle CTE tail (`reg`) —
    * the lag/cumsum-islands replay of the Spark `session_window`; shared
    * by the `anomaly_regions` and `incident_overlap` oracles.
    */
  private def regionsSqlCte: String =
    s"""$scoredSql,
       |an AS (SELECT * FROM final WHERE is_anomaly),
       |brk AS (
       |  SELECT *,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
       |              THEN 1 ELSE 0 END AS is_break
       |  FROM an
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
       |),
       |isl AS (
       |  SELECT *, CAST(sum(is_break) OVER (PARTITION BY event_type
       |              ORDER BY ts, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS island
       |  FROM brk
       |),
       |reg AS (
       |  SELECT event_type, min(ts) AS start_ts, max(ts) AS end_ts,
       |         CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
       |              AS BIGINT) AS duration_secs,
       |         count(*) AS n_alerts,
       |         CAST(sum(CASE WHEN severity = 'critical' THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_critical,
       |         round(max(greatest(abs(z_score), abs(mad_score))), 6)
       |           AS peak_score
       |  FROM isl GROUP BY event_type, island
       |)""".stripMargin

  private lazy val anomalyAlertsSql: String =
    s"""$scoredSql
       |SELECT event_id, event_type, ts, value, z_score, mad_score, severity, anomaly_type,
       |       printf('Anomaly detected in %s: value=%.2f, mean=%.2f, z-score=%.2f, mad-score=%.2f',
       |              event_type, round(value, 2), round(mean_value, 2),
       |              round(z_score, 2), round(mad_score, 2)) AS description
       |FROM final WHERE is_anomaly ORDER BY event_type, ts, event_id""".stripMargin

  /** EXACT chained-cooldown oracle, shared by the batch
    * `alert_cooldown_chained` and the two streaming cooldown drains:
    * the greedy pass is a per-key linked-list walk, replayed as a
    * recursive CTE. Each alert precomputes its NEXT-FIRING POINTER:
    * epoch-ms is non-decreasing in the per-key (ts, event_id) order, so
    * the rows within the cooldown horizon form a prefix and
    * `count(*) OVER (... RANGE ... 299999 FOLLOWING) + 1` is the rank
    * of the first alert ≥ cooldown later — exactly
    * [[graft.streaming.CooldownProcessor.advance]]'s next firing. The
    * recursion is then a pure rank-equality pointer jump per key.
    * Two DuckDB-specific notes: (1) the base CTEs are MATERIALIZED —
    * DuckDB inlines plain CTEs per reference, and the recursive
    * executor re-evaluates the recursive term's inputs each iteration,
    * so an unmaterialized base would re-run the whole rolling-stats
    * scoring fold hundreds of times (observed: the sf0.1 gate hung for
    * over an hour on exactly that); (2) a `list_reduce` fold would be
    * the natural form, but this DuckDB's list_reduce loses accumulated
    * state across consecutive accumulator rebuilds (verified minimal
    * repro: a struct/list accumulator concatenated over 5 elements
    * keeps only the last), so the oracle walks the chain relationally.
    */
  private lazy val chainedFiredCte: String =
    s"""${scoredSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |alerts AS MATERIALIZED (SELECT * FROM final WHERE is_anomaly),
       |a AS MATERIALIZED (
       |  SELECT event_type, severity, event_id, ts,
       |         row_number() OVER w AS rn,
       |         count(*) OVER (PARTITION BY event_type, severity
       |                        ORDER BY epoch_ms(ts)
       |                        RANGE BETWEEN UNBOUNDED PRECEDING
       |                              AND ${graft.streaming.CooldownProcessor.CooldownMillis - 1} FOLLOWING) + 1 AS next_rn
       |  FROM alerts
       |  WINDOW w AS (PARTITION BY event_type, severity ORDER BY ts, event_id)
       |),
       |fired AS (
       |  SELECT event_type, severity, event_id, ts, rn, next_rn
       |  FROM a WHERE rn = 1
       |  UNION ALL
       |  SELECT n.event_type, n.severity, n.event_id, n.ts, n.rn, n.next_rn
       |  FROM fired f JOIN a n
       |    ON n.event_type = f.event_type AND n.severity = f.severity
       |   AND n.rn = f.next_rn
       |)""".stripMargin

  private lazy val chainedCooldownSql: String =
    s"""$chainedFiredCte
       |SELECT event_id, event_type, ts, severity FROM fired
       |ORDER BY event_type, severity, ts, event_id""".stripMargin

  /** Fired set routed through the rules VALUES — shared by the two-query
    * (`stream_routed_drain`) and fused-single-query
    * (`stream_fused_routed_drain`) topologies, whose results must be
    * byte-identical.
    */
  private lazy val routedDrainSql: String =
    s"""$chainedFiredCte,
       |rules(rule_id, enabled, severity_threshold, rule_sources, channel) AS (
       |  VALUES (CAST(1 AS BIGINT), true, 'critical', CAST([] AS VARCHAR[]), 'email'),
       |         (CAST(2 AS BIGINT), true, 'critical', ['click', 'purchase'], 'webhook'),
       |         (CAST(3 AS BIGINT), true, 'warning', ['error'], 'slack'),
       |         (CAST(4 AS BIGINT), false, 'warning', CAST([] AS VARCHAR[]), 'email')
       |)
       |SELECT f.event_id, f.event_type, f.ts, f.severity, r.rule_id, r.channel
       |FROM fired f JOIN rules r
       |  ON r.enabled AND f.severity = r.severity_threshold
       |     AND (len(r.rule_sources) = 0 OR list_contains(r.rule_sources, f.event_type))
       |ORDER BY f.event_id, r.rule_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "alert_cooldown_chained" -> chainedCooldownSql,
    // the SAME chained semantics through actual writeStream executions
    // (graft.streaming.StreamDrain): the flatMapGroupsWithState gate and
    // the transformWithState + event-time-timer form, each folding keyed
    // state across >=3 micro-batches
    "stream_cooldown_drain" -> chainedCooldownSql,
    "stream_cooldown_timer_drain" -> chainedCooldownSql,
    // the FULL alert topology under one gate: detector output (itself
    // gated) -> chained cooldown through keyed streaming state -> the
    // stream-static broadcast rule join, drained; the oracle routes the
    // recursively-derived fired set through the same rules VALUES
    "stream_routed_drain" -> routedDrainSql,
    // the SAME topology FUSED into one keyed stage (detector + cooldown
    // in a single flatMapGroupsWithState over RAW events, then the
    // broadcast rule join) — identical oracle by construction: one
    // state commit instead of two must be byte-equal
    "stream_fused_routed_drain" -> routedDrainSql,
    "anomaly_regions" ->
      s"""$regionsSqlCte
         |SELECT event_type, start_ts, end_ts, duration_secs, n_alerts,
         |       n_critical, peak_score
         |FROM reg ORDER BY event_type, start_ts""".stripMargin,
    "incident_overlap" ->
      s"""$regionsSqlCte
         |SELECT a.event_type AS type_a, b.event_type AS type_b,
         |       greatest(a.start_ts, b.start_ts) AS overlap_start,
         |       least(a.end_ts, b.end_ts) AS overlap_end,
         |       CAST((epoch_us(least(a.end_ts, b.end_ts)) -
         |             epoch_us(greatest(a.start_ts, b.start_ts))) // 1000000
         |            AS BIGINT) AS overlap_secs,
         |       a.n_alerts AS a_alerts, b.n_alerts AS b_alerts
         |FROM reg a JOIN reg b
         |  ON a.event_type < b.event_type
         | AND a.start_ts <= b.end_ts AND b.start_ts <= a.end_ts
         |ORDER BY type_a, type_b, overlap_start, overlap_end""".stripMargin,
    "detector_agreement" ->
      s"""$scoredSql
         |SELECT anomaly_type, severity, count(*) AS n_events
         |FROM final GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "anomaly_score" ->
      s"$scoredSql SELECT * FROM final ORDER BY event_type, ts, event_id",
    "anomaly_score_window" ->
      s"$scoredSql SELECT * FROM final ORDER BY event_type, ts, event_id",
    "anomaly_alerts" -> anomalyAlertsSql,
    // the streaming drain produces the SAME alert rows through an actual
    // flatMapGroupsWithState writeStream execution
    // (graft.streaming.StreamDrain), so it shares the batch oracle
    "stream_alerts_drain" -> anomalyAlertsSql,
    // the ListState-buffered detector form through its own drain —
    // third of the three parity forms, same oracle
    "stream_alerts_list_drain" -> anomalyAlertsSql,
    // the detector over micro-batch files stored OUT of event-time
    // order: the processor's within-trigger sort must restore the ring
    // order or scores (and is_anomaly itself) flip this same oracle
    "stream_shuffled_alerts_drain" -> anomalyAlertsSql,
    "alerts_filter" ->
      s"""$scoredSql
         |SELECT event_id, event_type, ts, value, z_score, mad_score, severity
         |FROM final
         |WHERE is_anomaly AND severity = 'critical' AND ts >= TIMESTAMP '2024-01-03 00:00:00'
         |ORDER BY ts DESC, event_id DESC LIMIT 1000""".stripMargin,
    "alerts_stats" ->
      s"""$scoredSql, alerts AS (SELECT * FROM final WHERE is_anomaly),
         |mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
         |SELECT severity, count(*) AS total_alerts,
         |       count(*) FILTER (WHERE ts >= max_ts - INTERVAL 1 HOUR) AS last_hour_alerts
         |FROM alerts, mx
         |WHERE ts >= max_ts - INTERVAL 24 HOUR
         |GROUP BY severity ORDER BY severity""".stripMargin,
    "alert_cooldown" ->
      s"""$scoredSql, alerts AS (SELECT * FROM final WHERE is_anomaly),
         |lagged AS (
         |  SELECT *, lag(ts) OVER (PARTITION BY event_type, severity ORDER BY ts, event_id) AS prev_ts
         |  FROM alerts
         |)
         |SELECT event_id, event_type, ts, severity
         |FROM lagged
         |WHERE prev_ts IS NULL
         |   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) >= 300
         |ORDER BY event_type, severity, ts, event_id""".stripMargin,
    "alert_routing" ->
      s"""$scoredSql, rules(rule_id, enabled, severity_threshold, rule_sources, channel) AS (
         |  VALUES (CAST(1 AS BIGINT), true, 'critical', CAST([] AS VARCHAR[]), 'email'),
         |         (CAST(2 AS BIGINT), true, 'critical', ['click', 'purchase'], 'webhook'),
         |         (CAST(3 AS BIGINT), true, 'warning', ['error'], 'slack'),
         |         (CAST(4 AS BIGINT), false, 'warning', CAST([] AS VARCHAR[]), 'email')
         |)
         |SELECT event_id, event_type, ts, severity, rule_id, channel
         |FROM final JOIN rules
         |  ON enabled AND severity = severity_threshold
         |     AND (len(rule_sources) = 0 OR list_contains(rule_sources, event_type))
         |WHERE is_anomaly
         |ORDER BY event_id, rule_id""".stripMargin,
    "events_last_hour" ->
      s"""WITH e AS (${Tables.eventsSql}), mx AS (SELECT max(ts) AS max_ts FROM e)
         |SELECT event_id, ts, user_id, event_type, value
         |FROM e, mx WHERE ts >= max_ts - INTERVAL 1 HOUR
         |ORDER BY ts DESC, event_id""".stripMargin
  )
}
