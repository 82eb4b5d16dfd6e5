package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.LongType

import graft.streaming.EventPipeline

/** SUSTAINED-STREAMING throughput + latency probe — the measured mapping
  * for the two reference headline claims the batch bench cannot prove:
  * ≥5,000 events/sec sustained ingest (`README.md:14`, the k6 scenario's
  * 5k/s arrival stage `high-throughput-events.js:213,220-223`) and <2 s
  * detection-to-alert (`README.md:17`).
  *
  * What runs: the FULL detection-to-alert topology — the deterministic
  * DSv2 micro-batch source ([[graft.sources.EventsV2]], paced by its
  * admission-control read limit) → keyed rolling-stats anomaly detector
  * ([[graft.streaming.EventPipeline.anomalyStream]]) → the idempotent
  * per-batch parquet alert sink — under a real
  * `Trigger.ProcessingTime(1s)`, NOT AvailableNow: arrival is paced, so
  * the numbers are sustained-rate numbers, not drain-as-fast-as-you-can
  * numbers. All statistics definitions live in the spec-pinned
  * [[ProbeStats]] (nearest-rank percentiles, the first-trigger-start →
  * last-trigger-end wall denominator, the e2e compositions). Every
  * config goes through one run loop ([[run]]): one progress listener,
  * one deadline loop, one line renderer ([[render]]).
  *
  * Four measurement families, each emitted as one JSON line:
  *
  *  1. `reference_rate` / `headroom` — the detector leg at exactly the
  *     reference's 5,000 ev/s arrival and at 10× it. Pass semantics are
  *     IN the artifact: `zero_backlog` (trigger p95 strictly under the
  *     interval — the stream keeps up), `bar_events_per_sec` (the 2×
  *     allowance bar `meets_ingest` is judged against), and
  *     `e2e_p95_ms` (one interval wait + one p95 execution) vs
  *     `baseline_latency_ms`.
  *  2. The same two configs under BOTH state-store providers
  *     (`state_store` field): the default HDFS-backed provider and
  *     RocksDB — the backend the reference's detection job declares
  *     (`anomaly-detection/pom.xml`, flink-statebackend-rocksdb) and
  *     what a production low-latency deployment runs.
  *  3. `chained` — the full USER-VISIBLE alert path. Production runs
  *     detection and cooldown→routing as TWO queries joined by a
  *     store-then-consume boundary (Spark forbids two update-mode
  *     fMGWS stages in one query — the same stage boundary the
  *     reference draws at the alerts.v1 Kafka topic,
  *     `alert-service/main.py:121-147`). It is the detector run plus a
  *     consumer leg, both LIVE simultaneously: the detector stamps each
  *     alert batch with a wall-clock `detect_wall_ms` at its sink write;
  *     the consumer (cooldown gate → broadcast rule routing, sub-second
  *     250 ms trigger) stamps `routed_wall_ms` after computing each
  *     routed batch; the per-row detect→routed gap is then measured
  *     exactly by a post-run join on `event_id`, and
  *     `chained_e2e_p95_ms = interval + detector exec p95 + gap p95`
  *     ([[ProbeStats.chainedE2eP95Ms]] — conservative: the detector's
  *     sink-write ms are billed twice at the seam).
  *     Alongside it, `chained_fused` measures the FUSED single-query
  *     topology ([[graft.streaming.EventPipeline.fusedAlertStream]] —
  *     detector + cooldown in one keyed stage + the broadcast rule
  *     join, hash-gated by `stream_fused_routed_drain`): the same
  *     user-visible detection→routed-alert path with the stage
  *     boundary removed, whose e2e is one interval + one execution.
  *  4. `capacity_knee` — the single-box ceiling: arrival rate ramps
  *     ×1.5 from the headroom rate until the probe stops keeping up
  *     (zero_backlog or the <2 s bar flips), then one bisection step
  *     pins the knee. The knee is the perf-regression canary: a
  *     capacity number moves before a pass/fail bar flips.
  *
  * Environment: `SPARK_GRAFT_PROBE` subsets the families for a dev loop
  * (`reference_rate,headroom,chained,chained_fused,knee`);
  * `SPARK_GRAFT_PROBE_PROVIDER=hdfs|rocksdb` keeps one provider;
  * `SPARK_GRAFT_PROBE_OUT` names a JSONL file each line is appended to
  * the moment it is measured. Lines also go to stdout. The committed
  * THROUGHPUT.json is assembled from such a file by
  * `tools/capture_throughput.sh` (one fresh JVM per family and provider;
  * the knee shares the hdfs headroom JVM, whose row seeds it).
  *
  * Scale posture: everything between source and sink is the production
  * topology — keyed state bounded by key count, broadcast dims, no
  * driver-side work in the loop (the gap join runs AFTER the queries
  * stop, over row counts bounded by the alert rate). On a cluster the
  * source swaps for Kafka
  * ([[graft.streaming.EventPipeline.kafkaSourceOptions]]) and the rates
  * scale with partitions × executors; this probe pins the single-box
  * `local[cpus]` floor.
  */
object ThroughputProbe {

  private case class Config(name: String, rowsPerTrigger: Long = 5000L,
                            dataTriggers: Int = 25, intervalMs: Long = 1000L)

  /** The `chained` config's consumer leg: its data triggers, their
    * execution p50/p95, the measured detect→routed gap p50/p95, and the
    * routed row count.
    */
  private[graft] case class Leg(triggers: Int, p50: Long, p95: Long,
                                gapP50: Long, gapP95: Long, routedRows: Long)

  /** One measured probe run and its JSON line. `failed` marks a degraded
    * run (a knee probe hopelessly past capacity, or an alert-free
    * warm-up), which reports only what it saw and passes nothing.
    */
  private[graft] case class Result(
      config: String, stateStore: String, rowsPerTrigger: Long,
      intervalMs: Long, rows: Long, triggers: Int, sustained: Double,
      inputAvg: Double, procP50: Double, p50: Long, p95: Long, alerts: Long,
      exhausted: Boolean, calibSec: Double, leg: Option[Leg] = None,
      failed: Boolean = false) {
    def e2eP95: Long = leg.fold(ProbeStats.e2eP95Ms(intervalMs, p95))(
      l => ProbeStats.chainedE2eP95Ms(intervalMs, p95, l.gapP95))
    // BOTH queries must keep up for the chain to be sustainable
    def zeroBacklog: Boolean = !failed &&
      ProbeStats.zeroBacklog(intervalMs, p95) &&
      leg.forall(l => ProbeStats.zeroBacklog(ConsumerIntervalMs, l.p95))
    def meetsLatency: Boolean = !failed && e2eP95 < BaselineLatencyMs
    // meets_ingest carries its own semantics in-line: sustained rate at
    // or over the 2x-allowance bar AND zero backlog (arrival includes
    // pacing gaps, so a stream that keeps up reads a little under 5,000)
    def meetsIngest: Boolean = sustained >= BarEventsPerSec && zeroBacklog
    def pass: Boolean = exhausted && zeroBacklog && meetsLatency

    def line: String = render(
      if (failed)
        Seq("metric" -> "throughput_probe", "config" -> config,
            "state_store" -> stateStore, "rows" -> rows,
            "data_triggers" -> triggers, "alerts_emitted" -> alerts,
            "trigger_ms_p95" -> p95, "exhausted" -> exhausted,
            "probe_failed" -> true, "calib_sec" -> dec3(calibSec))
      else {
        val measured = leg match {
          case None => Seq(
            "data_triggers" -> triggers,
            "sustained_events_per_sec" -> dec1(sustained),
            "input_rows_per_sec_avg" -> dec1(inputAvg),
            "processed_rows_per_sec_p50" -> dec1(procP50),
            "trigger_ms_p50" -> p50, "trigger_ms_p95" -> p95,
            "e2e_p95_ms" -> e2eP95, "alerts_emitted" -> alerts,
            "zero_backlog" -> zeroBacklog, "exhausted" -> exhausted)
          case Some(l) => Seq(
            "consumer_interval_ms" -> ConsumerIntervalMs,
            "data_triggers" -> triggers,
            "consumer_data_triggers" -> l.triggers,
            "sustained_events_per_sec" -> dec1(sustained),
            "trigger_ms_p50" -> p50, "trigger_ms_p95" -> p95,
            "consumer_trigger_ms_p50" -> l.p50,
            "consumer_trigger_ms_p95" -> l.p95,
            "handoff_gap_p50_ms" -> l.gapP50,
            "handoff_gap_p95_ms" -> l.gapP95,
            "chained_e2e_p95_ms" -> e2eP95, "alerts_emitted" -> alerts,
            "routed_rows" -> l.routedRows, "zero_backlog" -> zeroBacklog)
        }
        Seq("metric" -> "throughput_probe", "config" -> config,
            "state_store" -> stateStore, "rows" -> rows,
            "rows_per_trigger" -> rowsPerTrigger,
            "trigger_interval_ms" -> intervalMs) ++ measured ++
          Seq("calib_sec" -> dec3(calibSec),
              "bar_events_per_sec" -> BarEventsPerSec.toLong,
              "baseline_events_per_sec" -> 5000,
              "baseline_latency_ms" -> BaselineLatencyMs,
              "meets_ingest" -> meetsIngest, "meets_latency" -> meetsLatency)
      })
  }

  private val BarEventsPerSec = 2500.0 // the baseline's 2x allowance
  private val BaselineLatencyMs = 2000L
  /** The chained consumer's trigger: its wait must fit inside the 2 s
    * end-to-end budget alongside the detector's full 1 s interval.
    */
  private val ConsumerIntervalMs = 250L

  /** Idle settle before each MEASURED run: this box is a shared VM
    * (nonzero steal time) whose sustained 32-thread bursts degrade the
    * next minute's tail latencies — back-to-back configs were measuring
    * the previous config's thermal/hypervisor debt, not the topology.
    * Each config is an independent steady-state measurement, so it
    * starts from a settled box, and each line carries the box's
    * single-thread calibration time ([[HostCalib.calibrate]]) measured
    * right before the run — flat calib + growing trigger times would
    * indict the code; calib growing in step with trigger times is the
    * host (what the committed runs show).
    */
  private val SettleMs = 60000L

  /** Raw JSON text: a preformatted decimal or a nested array. */
  private[graft] final case class Raw(json: String)

  /** The one renderer of every probe line: a JSON object of `fields` in
    * order. A String value is quoted, a [[Raw]] written as is, anything
    * else (Long, Int, Boolean) by `toString`.
    */
  private[graft] def render(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      "\"" + k + "\":" + (v match {
        case s: String => "\"" + s + "\""
        case Raw(json) => json
        case x         => x.toString
      })
    }.mkString("{", ",", "}")

  private def dec1(r: Double): Raw =
    Raw(String.format(java.util.Locale.ROOT, "%.1f", Double.box(r)))

  private def dec3(r: Double): Raw =
    Raw(String.format(java.util.Locale.ROOT, "%.3f", Double.box(r)))

  def main(args: Array[String]): Unit = {
    val spark = Posture.streamingLatency()

    val (providerKey, rocks) = Posture.rocksDb
    // SPARK_GRAFT_PROBE_PROVIDER=hdfs|rocksdb: one provider per JVM —
    // the per-family fresh-JVM capture recipe; default emits BOTH
    // providers' rows so a run carries the comparison
    val providers = Seq("hdfs" -> None, "rocksdb" -> rocks)
      .filter(p => sys.env.get("SPARK_GRAFT_PROBE_PROVIDER").forall(_ == p._1))
    require(providers.nonEmpty, "SPARK_GRAFT_PROBE_PROVIDER matched none")

    val want = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(name: String): Boolean = want.forall(_.contains(name))

    // each line goes out the moment it exists — a crash in a LATER
    // family must not discard an earlier family's already-paid
    // measurement (the same fail-degraded-not-dead contract as run()'s
    // failFast=false path)
    val probeOut = sys.env.get("SPARK_GRAFT_PROBE_OUT")
    def record(line: String): Unit = {
      println(line)
      probeOut.foreach { out =>
        try Files.write(Paths.get(out), (line + "\n").getBytes("UTF-8"),
                        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        catch { case NonFatal(e) => System.err.println(s"[probe] cannot append to $out: $e") }
      }
    }
    var kneeSeed: Option[(Long, Result)] = None
    for ((psName, cls) <- providers) Posture.withConf(spark, providerKey -> cls) {
      // unbilled warmup (same rationale as Bench's): a short paced run
      // so JIT/codegen compilation and provider init are not billed to
      // the first measured config's tail — the baseline's numbers are
      // steady-state, so the p95s here must be too
      run(spark, Config("warmup", 2000L, 8, 250L), psName, failFast = false)
      for (c <- Seq(Config("reference_rate"), Config("headroom", 50000L))
           if wanted(c.name)) {
        val r = run(spark, c, psName)
        record(r.line)
        if (c.name == "headroom" && psName == providers.head._1)
          kneeSeed = Some(c.rowsPerTrigger -> r)
      }
      if (wanted("chained")) record(run(spark, Config("chained"), psName).line)
      // the FUSED single-query alert path (detector + cooldown in one
      // keyed stage + broadcast routing): the low-latency answer to the
      // chained config's stage-boundary cost. One interval + one
      // execution IS its user-visible e2e, so the standard e2e math
      // measures the full detection-to-routed-alert path.
      if (wanted("chained_fused"))
        record(run(spark, Config("chained_fused"), psName,
                   topology = (s, ev) => EventPipeline.routedAlerts(
                     s, EventPipeline.fusedAlertStream(s, ev))).line)
    }

    // capacity knee under the FIRST provider in the posture (default:
    // hdfs — the same provider the committed per-config rows lead with),
    // seeded with that provider's measured headroom row so the knee
    // line can never contradict the artifact's own 50k verdict
    if (wanted("knee")) {
      Posture.withConf(spark, providerKey -> providers.head._2) {
        record(findKnee(spark, providers.head._1, kneeSeed))
      }
    }
    spark.stop()
  }

  /** The measured topology: the full keyed anomaly detector
    * ([[graft.streaming.EventPipeline.anomalyStream]] — validity filter,
    * per-type rolling stats, z-score/MAD classification) with only the
    * anomalies sunk, exactly the reference detection job's shape
    * (`AnomalyDetectionJob.java:279-368` → alerts.v1). The cooldown →
    * routing consumer is a SEPARATE query in production (store-then-
    * consume — Spark forbids two update-mode fMGWS stages in one query,
    * the same stage boundary the reference draws at the Kafka topic);
    * the `chained` config runs both queries live and measures the full
    * path.
    */
  private def alertTopology(spark: SparkSession,
                            events: DataFrame): DataFrame =
    EventPipeline.anomalyStream(spark, events)
      .filter(_.is_anomaly)
      .toDF()

  /** The paced deterministic event stream at `rowsPerTrigger`/trigger. */
  private def pacedEvents(spark: SparkSession, rows: Long,
                          rowsPerTrigger: Long): DataFrame =
    spark.readStream
      .format("graft-events")
      .option("rows", rows)
      .option("rowsPerBatch", rowsPerTrigger)
      .load()
      .select(col("event_id"), col("ts"),
              expr("CAST(substring(user_id, 6) AS BIGINT)").as("user_id"),
              col("source").as("event_type"),
              col("metric").as("value"))

  private def execMsOf(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)

  private def isoMs(ts: String): Long =
    java.time.Instant.parse(ts).toEpochMilli

  /** Every parquet file under `dir` (flat, per-batch or `key=value`). */
  private def readAll(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(dir)

  /** The chained consumer: cooldown gate → broadcast rule routing over the
    * detector's alert files, stamping `routed_wall_ms` on each routed
    * batch after computing it. Started before the detector: its file
    * source lists the pre-created empty alert dir, so it sees batch-0
    * alert files the moment they land instead of paying its own startup
    * on the first measured rows.
    */
  private def startConsumer(spark: SparkSession, work: Path,
                            alertDir: String): StreamingQuery = {
    import spark.implicits._
    val alertsIn = spark.readStream
      .schema(Encoders.product[graft.streaming.AnomalyAlert].schema
        .add("detect_wall_ms", LongType))
      .parquet(alertDir)
      .as[graft.streaming.AnomalyAlert]
    val routed = EventPipeline.routedAlerts(
      spark, EventPipeline.cooldownStream(spark, alertsIn))
    // the consumer's keyed state is (source, severity) — ≤18 keys — so
    // 2 state partitions carry it; at a 250 ms trigger the per-trigger
    // state-commit fan-out IS the latency floor, so don't pay 8.
    // shuffle.partitions is captured per query at start, so scoping it
    // to the consumer's start leaves the detector's 8.
    Posture.withConf(spark, "spark.sql.shuffle.partitions" -> Some("2")) {
      routed.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$work/ckpt_consumer")
        .trigger(Trigger.ProcessingTime(s"$ConsumerIntervalMs milliseconds"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          val pb = b.persist()
          val n = pb.count() // materialize BEFORE stamping: the stamp is
          // post-compute, pre-write — the gap can only over-state, never
          // hide, the consumer's work
          if (n > 0)
            pb.withColumn("routed_wall_ms", lit(System.currentTimeMillis()))
              .write.mode("overwrite").parquet(s"$work/routed/b$id")
          pb.unpersist(); ()
        }
        .start()
    }
  }

  /** The chained detector's sink: each alert batch stamped with
    * `detect_wall_ms` at sink-write start (early = conservative: those
    * ms are also inside the exec p95 leg 1 bills), landing FLAT files
    * in `alertDir` — the consumer's file stream source lists a
    * directory's immediate files, not subdirectories. Each batch writes
    * to scratch and MOVES its part files in under batch-unique names
    * (rename = atomic appearance, the same pattern the drain staging
    * uses).
    */
  private def stampedAlertSink(work: Path, alertDir: String)
      : (DataFrame, Long) => Unit = (b: DataFrame, id: Long) => {
    val tmp = s"$work/alert_scratch_$id"
    b.withColumn("detect_wall_ms", lit(System.currentTimeMillis()))
      .write.mode("overwrite").parquet(tmp)
    def each(dir: String)(f: Path => Unit): Unit = {
      val listing = Files.list(Paths.get(dir))
      try listing.iterator().asScala.foreach(f) finally listing.close()
    }
    // idempotent under batch replay (mirroring idempotentBatchWriter's
    // overwrite-by-batch semantics): a batch re-executed after a crash
    // in the sink-write → checkpoint-commit window REPLACES its previous
    // attempt's uniquely-named part files instead of leaving both —
    // duplicate alert rows would double-join in the post-run gap
    // measurement, and a replayed detect stamp later than the
    // consumer's routed stamp would read as a negative gap
    each(alertDir) { p =>
      if (p.getFileName.toString.startsWith(s"b${id}_")) Files.delete(p)
    }
    each(tmp) { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.move(p, Paths.get(alertDir, s"b${id}_${p.getFileName}"))
    }
  }

  /** The chained consumer leg's figures, from its data triggers and the
    * per-routed-row handoff gap: detect-stamp → routed-stamp, joined on
    * event_id AFTER both queries stopped (no driver work in the measured
    * loop; row count bounded by the routed-alert rate).
    */
  private def measureLeg(spark: SparkSession, work: Path, alertDir: String,
                         cons: Seq[StreamingQueryProgress]): Leg = {
    import spark.implicits._
    require(cons.size >= 10,
            s"chained: only ${cons.size} consumer data triggers — the " +
              "handoff leg was never really live")
    val routed = readAll(spark, s"$work/routed")
    val gaps = routed.select(col("event_id"), col("routed_wall_ms"))
      .join(readAll(spark, alertDir)
              .select(col("event_id"), col("detect_wall_ms")), "event_id")
      .select((col("routed_wall_ms") - col("detect_wall_ms")).as("gap"))
      .orderBy("gap")
      .as[Long].collect().toSeq
    require(gaps.size >= 50,
            s"chained: only ${gaps.size} routed rows carry a measured " +
              "gap — the path under measurement barely fired")
    require(gaps.head >= 0, "chained: negative handoff gap — the wall " +
      "stamps are inconsistent")
    val exec = cons.map(execMsOf).sorted
    Leg(cons.size, ProbeStats.pct(exec, 0.50), ProbeStats.pct(exec, 0.95),
        ProbeStats.pct(gaps, 0.50), ProbeStats.pct(gaps, 0.95), routed.count())
  }

  /** Install a progress-collecting listener; returns (queue, remove). */
  private def collectProgress(spark: SparkSession)
      : (ConcurrentLinkedQueue[StreamingQueryProgress], () => Unit) = {
    val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        q.add(e.progress); ()
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    (q, () => spark.streams.removeListener(listener))
  }

  /** Probe scratch cleanup shared by every run: no query may still be
    * live, and the state-store providers unload eagerly (a deferred
    * maintenance snapshot must not bleed into the next config's
    * measurements — the same rationale as the dirty-restart drains).
    */
  private def unloadState(spark: SparkSession): Unit = {
    require(spark.streams.active.isEmpty,
            "probe query still active at cleanup")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** The one run loop: every config runs the detector (or `topology`)
    * under its paced trigger until the source is exhausted; `chained`
    * adds the live consumer leg. `failFast = false` (the knee search and
    * the warm-up) turns a fell-hopelessly-behind deadline, a thin sample
    * or an empty sink into a degraded Result instead of an exception.
    */
  private def run(spark: SparkSession, cfg: Config, stateStore: String,
                  failFast: Boolean = true,
                  topology: (SparkSession, DataFrame) => DataFrame
                    = alertTopology): Result = {
    val warmup = cfg.name == "warmup"
    if (!warmup) Thread.sleep(SettleMs)
    val calibSec = if (warmup) 0.0 else HostCalib.calibrate()
    val chained = cfg.name == "chained"
    val rows = cfg.rowsPerTrigger * cfg.dataTriggers
    val work = Files.createTempDirectory("graft_tput")
    val sinkDir = s"$work/alerts"
    val (progresses, removeListener) = collectProgress(spark)

    val consumer = if (chained) {
      Files.createDirectories(Paths.get(sinkDir))
      Some(startConsumer(spark, work, sinkDir))
    } else None
    val q = topology(spark, pacedEvents(spark, rows, cfg.rowsPerTrigger))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(s"${cfg.intervalMs} milliseconds"))
      .foreachBatch(if (chained) stampedAlertSink(work, sinkDir)
                    else EventPipeline.idempotentBatchWriter(sinkDir))
      .start()
    var exhausted = true
    try {
      def seen(): Long = progresses.iterator().asScala
        .filter(_.id == q.id).map(_.numInputRows).sum
      // knee probes (failFast=false) give up at 4x the expected wall —
      // a probe that far behind has already failed, and the ramp should
      // not stall eight minutes proving it harder
      val slack = if (failFast) (20L, 120000L) else (4L, 60000L)
      val deadline = System.nanoTime() +
        (cfg.dataTriggers * cfg.intervalMs * slack._1 + slack._2) * 1000000L
      while (exhausted && seen() < rows && q.isActive) {
        if (System.nanoTime() >= deadline) {
          require(!failFast,
                  s"${cfg.name}: source not exhausted in time — the paced " +
                    "stream fell hopelessly behind its arrival rate")
          exhausted = false
        } else Thread.sleep(200)
      }
      if (exhausted) q.processAllAvailable()
      q.stop()
      // drain the remaining alert files through the live consumer —
      // these rows were detected moments ago, so their gaps are real
      // 250ms-cadence gaps, not a drain artifact
      consumer.foreach(_.processAllAvailable())
    } finally {
      (q +: consumer.toSeq).foreach { s => s.stop(); s.awaitTermination() }
      removeListener()
    }
    unloadState(spark)

    val all = progresses.iterator().asScala.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.timestamp)
    val data = all.filter(_.id == q.id)
    val smallSample = data.size < math.min(20, cfg.dataTriggers * 4 / 5)
    if (failFast) require(!smallSample,
      s"${cfg.name}: only ${data.size} data triggers — the " +
        "sustained-rate claim needs a real sample")
    val totalRows = data.map(_.numInputRows).sum
    val alerts =
      try readAll(spark, sinkDir).count()
      catch { case NonFatal(_) => 0L }
    if (failFast) require(alerts > 0,
      s"${cfg.name}: the alert sink stayed empty — the topology " +
        "under measurement never detected anything")
    val execMs = data.map(execMsOf).sorted
    val measured = Result(cfg.name, stateStore, cfg.rowsPerTrigger,
      cfg.intervalMs, totalRows, data.size, sustained = 0.0, inputAvg = 0.0,
      procP50 = 0.0, p50 = 0L,
      p95 = if (data.isEmpty) 0L else ProbeStats.pct(execMs, 0.95),
      alerts, exhausted, calibSec)
    // a degraded probe records what it saw instead of throwing: run()
    // must never abort main and discard the already-measured lines
    if (data.isEmpty || smallSample || alerts == 0)
      return measured.copy(failed = true)

    val wallMs = ProbeStats.wallMs(isoMs(data.head.timestamp),
                                   isoMs(data.last.timestamp),
                                   execMsOf(data.last))
    val inputRates = data.map(_.inputRowsPerSecond).filter(!_.isNaN)
    val procSorted = data.map(_.processedRowsPerSecond).filter(!_.isNaN).sorted
    measured.copy(
      sustained = ProbeStats.sustainedPerSec(totalRows, wallMs),
      inputAvg =
        if (inputRates.isEmpty) 0.0 else inputRates.sum / inputRates.size,
      procP50 = if (procSorted.isEmpty) 0.0 else procSorted(procSorted.size / 2),
      p50 = ProbeStats.pct(execMs, 0.50),
      leg = consumer.map(c =>
        measureLeg(spark, work, sinkDir, all.filter(_.id == c.id))))
  }

  /** Single-box capacity knee: ramp the arrival rate ×1.5 from the
    * highest rate known to pass until a probe stops passing (pass =
    * source exhausted + zero backlog + e2e under the 2 s bar), then one
    * bisection step between the last pass and the first fail. The knee
    * is reported as the highest PASSING rate with its measured numbers.
    *
    * `seed`: the measured headroom row for this provider, when it ran —
    * if it PASSED, the ramp starts above it; if it FAILED (a slower box
    * than the config was sized for), the search first steps DOWN by
    * ×2/3 to find a passing floor, so the knee line can never claim a
    * rate the artifact's own headroom row contradicts.
    */
  private def findKnee(spark: SparkSession, stateStore: String,
                       seed: Option[(Long, Result)]): String = {
    val probes = scala.collection.mutable.ArrayBuffer[(Long, Result)]()
    def probe(rate: Long): Result = {
      val r = run(spark, Config(s"knee_$rate", rate, 20, 1000L), stateStore,
                  failFast = false)
      probes += rate -> r
      r
    }
    var lastPass = 0L
    var lastPassResult: Option[Result] = None
    seed.collect { case (r, res) if res.pass =>
      lastPass = r; lastPassResult = Some(res)
    }
    if (lastPass == 0L) {
      // no verified passing floor: step down from the headroom rate
      var down = seed.map(_._1).getOrElse(50000L)
      if (seed.exists(!_._2.pass)) down = down * 2 / 3
      while (lastPass == 0L && down >= 5000L) {
        val r = probe(down / 1000L * 1000L)
        if (r.pass) { lastPass = down / 1000L * 1000L; lastPassResult = Some(r) }
        else down = down * 2 / 3
      }
      if (lastPass == 0L) {
        // no passing rate down to 5k/s — the box (in this window)
        // cannot sustain even the reference arrival rate. Record the
        // honest zero-knee line WITH the probe evidence instead of
        // throwing: a throw here would discard every already-measured
        // line of the run (the same fail-degraded-not-dead contract
        // run()'s failFast=false path keeps)
        return kneeLine(stateStore, 0L, None, 0L, probes.toSeq)
      }
    }
    var rate = lastPass * 3 / 2
    var firstFail = 0L
    while (firstFail == 0L && rate <= 1600000L) {
      val r = probe(rate)
      if (r.pass) { lastPass = rate; lastPassResult = Some(r); rate = rate * 3 / 2 }
      else firstFail = rate
    }
    if (firstFail > 0L && firstFail - lastPass > lastPass / 5) {
      val mid = (lastPass + firstFail) / 2 / 1000L * 1000L
      val r = probe(mid)
      if (r.pass) { lastPass = mid; lastPassResult = Some(r) }
      else firstFail = mid
    }
    kneeLine(stateStore, lastPass, lastPassResult, firstFail, probes.toSeq)
  }

  /** The capacity_knee JSON line (also the zero-knee degraded form,
    * which keeps the probe evidence instead of throwing).
    */
  private[graft] def kneeLine(stateStore: String, lastPass: Long,
                              lastPassResult: Option[Result], firstFail: Long,
                              probes: Seq[(Long, Result)]): String =
    render(
      Seq("metric" -> "capacity_knee", "state_store" -> stateStore,
          "knee_events_per_sec" -> lastPass) ++
        lastPassResult.toSeq.flatMap(r =>
          Seq("sustained_at_knee" -> dec1(r.sustained),
              "trigger_ms_p95_at_knee" -> r.p95)) ++
        Seq("first_failing_rate" -> firstFail, "trigger_interval_ms" -> 1000,
            "data_triggers_per_probe" -> 20,
            "probes" -> Raw(probes.map { case (rate, r) =>
              render(Seq("rate" -> rate, "pass" -> r.pass,
                         "sustained" -> dec1(r.sustained),
                         "trigger_ms_p95" -> r.p95,
                         "zero_backlog" -> r.zeroBacklog,
                         "calib_sec" -> dec3(r.calibSec),
                         "meets_latency" -> r.meetsLatency,
                         "exhausted" -> (!r.failed && r.exhausted)))
            }.mkString("[", ",", "]"))))
}
