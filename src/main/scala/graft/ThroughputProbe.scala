package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.LongType

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
  * last-trigger-end wall denominator, the e2e compositions).
  *
  * Four measurement families, each emitted as one JSON line (also
  * written to THROUGHPUT.json):
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
  *     `SPARK_GRAFT_ROCKSDB=1` restricts the probe to RocksDB only.
  *  3. `chained` — the full USER-VISIBLE alert path. Production runs
  *     detection and cooldown→routing as TWO queries joined by a
  *     store-then-consume boundary (Spark forbids two update-mode
  *     fMGWS stages in one query — the same stage boundary the
  *     reference draws at the alerts.v1 Kafka topic,
  *     `alert-service/main.py:121-147`). Both queries run LIVE
  *     simultaneously: the detector stamps each alert batch with a
  *     wall-clock `detect_wall_ms` at its sink write; the consumer
  *     (cooldown gate → broadcast rule routing, sub-second 250 ms
  *     trigger) stamps `routed_wall_ms` after computing each routed
  *     batch; the per-row detect→routed gap is then measured exactly
  *     by a post-run join on `event_id`, and
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
  * Scale posture: everything between source and sink is the production
  * topology — keyed state bounded by key count, broadcast dims, no
  * driver-side work in the loop (the gap join runs AFTER the queries
  * stop, over row counts bounded by the alert rate). On a cluster the
  * source swaps for Kafka
  * ([[graft.streaming.EventPipeline.kafkaSourceOptions]]) and the rates
  * scale with partitions × executors; this probe pins the single-box
  * local[32] floor.
  */
object ThroughputProbe {

  private case class Config(name: String, rowsPerTrigger: Long,
                            dataTriggers: Int, intervalMs: Long)

  /** One measured probe run (rendered line + the fields decisions read). */
  private case class Result(line: String, sustained: Double, execP95: Long,
                            zeroBacklog: Boolean, meetsLatency: Boolean,
                            exhausted: Boolean, calibSec: Double = 0.0) {
    def pass: Boolean = exhausted && zeroBacklog && meetsLatency
  }

  private val BarEventsPerSec = 2500.0 // the baseline's 2x allowance
  private val BaselineLatencyMs = 2000L

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

  def main(args: Array[String]): Unit = {
    val spark = Posture.streamingLatency()

    val providerKey = graft.streaming.AnomalyStatefulProcessor.rocksdbConf._1
    val rocksClass = graft.streaming.AnomalyStatefulProcessor.rocksdbConf._2
    // SPARK_GRAFT_ROCKSDB=1 forces the RocksDB-only posture (driver
    // parity with Verify's posture flag); default emits BOTH providers'
    // rows so the committed artifact carries the comparison.
    val allProviders: Seq[(String, Option[String])] =
      if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
        Seq("rocksdb" -> Some(rocksClass))
      else Seq("hdfs" -> None, "rocksdb" -> Some(rocksClass))
    // SPARK_GRAFT_PROBE_PROVIDER=hdfs|rocksdb: one provider per JVM —
    // the per-family fresh-JVM capture recipe (see SPARK_GRAFT_PROBE_OUT)
    val providers = sys.env.get("SPARK_GRAFT_PROBE_PROVIDER")
      .fold(allProviders)(w => allProviders.filter(_._1 == w))
    require(providers.nonEmpty, "SPARK_GRAFT_PROBE_PROVIDER matched none")

    // SPARK_GRAFT_PROBE subsets the measurement families for a dev
    // loop ("reference_rate,chained"); the committed artifact is always
    // a FULL default run (the file is only written when nothing was
    // subset away, so a partial run can never masquerade as the
    // artifact)
    val want = sys.env.get("SPARK_GRAFT_PROBE")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(name: String): Boolean = want.forall(_.contains(name))

    val configs = Seq(
      Config("reference_rate", 5000L, 25, 1000L),
      Config("headroom", 50000L, 25, 1000L))
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    // measured lines append to SPARK_GRAFT_PROBE_OUT the moment they
    // exist — a crash in a LATER family must not discard an earlier
    // family's already-paid measurement (the same fail-degraded-not-dead
    // contract as run()'s failFast=false path)
    val probeOut = sys.env.get("SPARK_GRAFT_PROBE_OUT")
    def record(line: String): Unit = {
      lines += line
      probeOut.foreach { out =>
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(out), (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
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
      configs.filter(c => wanted(c.name)).foreach { c =>
        val r = run(spark, c, psName)
        record(r.line)
        if (c.name == "headroom" && psName == providers.head._1)
          kneeSeed = Some(c.rowsPerTrigger -> r)
      }
      if (wanted("chained")) record(runChained(spark, psName))
      // the FUSED single-query alert path (detector + cooldown in one
      // keyed stage + broadcast routing — EventPipeline.fusedAlertStream,
      // hash-gated by stream_fused_routed_drain): the low-latency answer
      // to the chained config's stage-boundary cost. One interval + one
      // execution IS its user-visible e2e, so the standard run() e2e
      // math measures the full detection-to-routed-alert path.
      if (wanted("chained_fused"))
        record(run(spark, Config("chained_fused", 5000L, 25, 1000L), psName,
                   topology = (s, ev) =>
                     graft.streaming.EventPipeline.routedAlerts(
                       s, graft.streaming.EventPipeline
                         .fusedAlertStream(s, ev))).line)
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

    lines.foreach(println)
    // full default runs additionally write the assembled artifact (a
    // partial/subset run can never masquerade as it); subset runs have
    // already streamed their lines to SPARK_GRAFT_PROBE_OUT above —
    // the capture recipe for this box, whose 32-thread capacity is too
    // neighbor-noisy for one long session to measure every family
    // fairly (each line then comes from its own fresh-JVM, settled-box
    // run; the per-line calib_sec records the evidence)
    if (probeOut.isEmpty && want.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("THROUGHPUT.json"),
        (lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
      catch { case NonFatal(e) => System.err.println(s"[probe] cannot write THROUGHPUT.json: $e") }
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
    graft.streaming.EventPipeline.anomalyStream(spark, events)
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

  private def fmt(r: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(r))

  private def fmt3(r: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))

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

  /** One detector-leg run. `failFast = false` (the knee search) turns
    * a fell-hopelessly-behind deadline into a failed Result instead of
    * an exception.
    */
  private def run(spark: SparkSession, cfg: Config, stateStore: String,
                  failFast: Boolean = true,
                  topology: (SparkSession, DataFrame) => DataFrame
                    = alertTopology): Result = {
    if (cfg.name != "warmup") Thread.sleep(SettleMs)
    val calibSec = if (cfg.name == "warmup") 0.0 else HostCalib.calibrate()
    val rows = cfg.rowsPerTrigger * cfg.dataTriggers
    val events = pacedEvents(spark, rows, cfg.rowsPerTrigger)
    val (progresses, removeListener) = collectProgress(spark)

    val work = java.nio.file.Files.createTempDirectory("graft_tput")
    var exhausted = true
    val q = topology(spark, events).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(s"${cfg.intervalMs} milliseconds"))
      .foreachBatch(
        graft.streaming.EventPipeline.idempotentBatchWriter(s"$work/store"))
      .start()
    try {
      import scala.jdk.CollectionConverters._
      def seen(): Long =
        progresses.iterator().asScala.map(_.numInputRows).sum
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
    } finally {
      q.stop(); q.awaitTermination()
      removeListener()
    }

    import scala.jdk.CollectionConverters._
    val data = progresses.iterator().asScala.toSeq
      .filter(_.numInputRows > 0)
      .sortBy(_.timestamp)
    val smallSample = data.size < math.min(20, cfg.dataTriggers * 4 / 5)
    if (failFast) require(!smallSample,
      s"${cfg.name}: only ${data.size} data triggers — the " +
        "sustained-rate claim needs a real sample")
    val totalRows = data.map(_.numInputRows).sum
    val alerts =
      try spark.read.parquet(s"$work/store").count()
      catch { case NonFatal(_) => 0L }
    if (failFast) require(alerts > 0,
      s"${cfg.name}: the alert sink stayed empty — the topology " +
        "under measurement never detected anything")
    if (data.isEmpty || smallSample || alerts == 0) {
      // non-failFast degraded probe (a knee probe hopelessly past
      // capacity, or an alert-free warmup): record a FAILED Result
      // instead of throwing — run() must never abort main and discard
      // the already-measured lines, which are only written at the end
      unloadState(spark)
      val degradedP95 =
        if (data.isEmpty) 0L else ProbeStats.pct(data.map(execMsOf).sorted, 0.95)
      val line =
        s"""{"metric":"throughput_probe","config":"${cfg.name}",""" +
          s""""state_store":"$stateStore","rows":$totalRows,""" +
          s""""data_triggers":${data.size},"alerts_emitted":$alerts,""" +
          s""""trigger_ms_p95":$degradedP95,"exhausted":$exhausted,""" +
          s""""probe_failed":true,"calib_sec":${fmt3(calibSec)}}"""
      return Result(line, 0.0, degradedP95, zeroBacklog = false,
                    meetsLatency = false, exhausted = false, calibSec)
    }

    val execMs = data.map(execMsOf).sorted
    val wallMs = ProbeStats.wallMs(isoMs(data.head.timestamp),
                                   isoMs(data.last.timestamp),
                                   execMsOf(data.last))
    val sustained = ProbeStats.sustainedPerSec(totalRows, wallMs)
    val inputAvg = {
      val xs = data.map(_.inputRowsPerSecond).filter(!_.isNaN)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val procSorted = data.map(_.processedRowsPerSecond).filter(!_.isNaN).sorted
    val procP50 =
      if (procSorted.isEmpty) 0.0 else procSorted(procSorted.size / 2)
    val p50 = ProbeStats.pct(execMs, 0.50)
    val p95 = ProbeStats.pct(execMs, 0.95)
    val e2eP95 = ProbeStats.e2eP95Ms(cfg.intervalMs, p95)
    val zeroBacklog = ProbeStats.zeroBacklog(cfg.intervalMs, p95)
    unloadState(spark)
    // meets_ingest carries its own semantics in-line: sustained rate at
    // or over the 2x-allowance bar AND zero backlog (the 4,663-vs-5,000
    // reading is self-explanatory: arrival was 5,000/s including pacing
    // gaps, and the stream kept up — trigger p95 under the interval)
    val meetsIngest = sustained >= BarEventsPerSec && zeroBacklog
    val meetsLatency = e2eP95 < BaselineLatencyMs
    val line =
      s"""{"metric":"throughput_probe","config":"${cfg.name}",""" +
        s""""state_store":"$stateStore",""" +
        s""""rows":$totalRows,"rows_per_trigger":${cfg.rowsPerTrigger},""" +
        s""""trigger_interval_ms":${cfg.intervalMs},""" +
        s""""data_triggers":${data.size},""" +
        s""""sustained_events_per_sec":${fmt(sustained)},""" +
        s""""input_rows_per_sec_avg":${fmt(inputAvg)},""" +
        s""""processed_rows_per_sec_p50":${fmt(procP50)},""" +
        s""""trigger_ms_p50":$p50,"trigger_ms_p95":$p95,""" +
        s""""e2e_p95_ms":$e2eP95,"alerts_emitted":$alerts,""" +
        s""""zero_backlog":$zeroBacklog,"exhausted":$exhausted,""" +
        s""""calib_sec":${fmt3(calibSec)},""" +
        s""""bar_events_per_sec":${BarEventsPerSec.toLong},""" +
        s""""baseline_events_per_sec":5000,""" +
        s""""baseline_latency_ms":$BaselineLatencyMs,""" +
        s""""meets_ingest":$meetsIngest,"meets_latency":$meetsLatency}"""
    Result(line, sustained, p95, zeroBacklog, meetsLatency, exhausted,
           calibSec)
  }

  /** The CHAINED user-visible alert path: detector query and
    * cooldown→routing consumer query live at the same time, joined by
    * the store-then-consume boundary, with wall-clock stamps at both
    * sinks so the handoff gap is measured per routed row — not argued.
    * The consumer runs a sub-second (250 ms) trigger: the second leg's
    * wait must fit inside the 2 s end-to-end budget alongside the
    * detector's full 1 s interval.
    */
  private def runChained(spark: SparkSession, stateStore: String): String = {
    Thread.sleep(SettleMs)
    val calibSec = HostCalib.calibrate()
    val cfg = Config("chained", 5000L, 25, 1000L)
    val consumerIntervalMs = 250L
    val rows = cfg.rowsPerTrigger * cfg.dataTriggers
    val work = java.nio.file.Files.createTempDirectory("graft_chain")
    val alertDir = s"$work/alerts"
    val routedDir = s"$work/routed"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(alertDir))

    val (progresses, removeListener) = collectProgress(spark)
    val s0 = spark
    import s0.implicits._

    // consumer first (its file source lists the pre-created empty alert
    // dir, so it sees batch-0 alert files the moment they land instead
    // of paying its own startup on the first measured rows)
    val alertSchema = Encoders.product[graft.streaming.AnomalyAlert].schema
      .add("detect_wall_ms", LongType)
    val alertsIn = spark.readStream
      .schema(alertSchema)
      .parquet(alertDir)
      .as[graft.streaming.AnomalyAlert]
    val routed = graft.streaming.EventPipeline.routedAlerts(
      spark, graft.streaming.EventPipeline.cooldownStream(spark, alertsIn))
    // the consumer's keyed state is (source, severity) — ≤18 keys — so
    // 2 state partitions carry it; at a 250 ms trigger the per-trigger
    // state-commit fan-out IS the latency floor, so don't pay 8.
    // shuffle.partitions is captured per query at start, so scoping it
    // to the consumer's start leaves the detector's 8.
    val consumer = Posture.withConf(
        spark, "spark.sql.shuffle.partitions" -> Some("2")) {
      routed.writeStream
        .queryName("graft_chain_consumer")
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$work/ckpt_consumer")
        .trigger(Trigger.ProcessingTime(s"$consumerIntervalMs milliseconds"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          val pb = b.persist()
          val n = pb.count() // materialize BEFORE stamping: the stamp is
          // post-compute, pre-write — the gap can only over-state, never
          // hide, the consumer's work
          if (n > 0)
            pb.withColumn("routed_wall_ms", lit(System.currentTimeMillis()))
              .write.mode("overwrite").parquet(s"$routedDir/b$id")
          pb.unpersist(); ()
        }
        .start()
    }

    // detector: same topology as the single-query configs, with the
    // wall-clock detect stamp taken at sink-write start (early =
    // conservative: those ms are also inside the exec p95 leg 1 bills).
    // The sink lands FLAT files in alertDir — the consumer's file
    // stream source lists a directory's immediate files, not
    // subdirectories, so the per-batch-subdir recipe would be invisible
    // to it; each batch writes to scratch and MOVES its part files in
    // under batch-unique names (rename = atomic appearance, the same
    // pattern the drain staging uses)
    val events = pacedEvents(spark, rows, cfg.rowsPerTrigger)
    val detector = alertTopology(spark, events).writeStream
      .queryName("graft_chain_detector")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$work/ckpt_detector")
      .trigger(Trigger.ProcessingTime(s"${cfg.intervalMs} milliseconds"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val tmp = s"$work/alert_scratch_$id"
        b.withColumn("detect_wall_ms", lit(System.currentTimeMillis()))
          .write.mode("overwrite").parquet(tmp)
        // idempotent under batch replay (mirroring idempotentBatchWriter's
        // overwrite-by-batch semantics): a batch re-executed after a
        // crash in the sink-write → checkpoint-commit window REPLACES
        // its previous attempt's uniquely-named part files instead of
        // leaving both — duplicate alert rows would double-join in the
        // post-run gap measurement, and a replayed detect stamp later
        // than the consumer's routed stamp would read as a negative gap
        val old = java.nio.file.Files.list(java.nio.file.Paths.get(alertDir))
        try {
          import scala.jdk.CollectionConverters._
          old.iterator().asScala
            .filter(_.getFileName.toString.startsWith(s"b${id}_"))
            .foreach(java.nio.file.Files.delete)
        } finally old.close()
        val listing = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach { p =>
              java.nio.file.Files.move(
                p, java.nio.file.Paths.get(alertDir, s"b${id}_${p.getFileName}"))
            }
        } finally listing.close()
        ()
      }
      .start()

    try {
      import scala.jdk.CollectionConverters._
      def seen(): Long = progresses.iterator().asScala
        .filter(_.name == "graft_chain_detector").map(_.numInputRows).sum
      val deadline = System.nanoTime() +
        (cfg.dataTriggers * cfg.intervalMs * 20 + 120000L) * 1000000L
      while (seen() < rows && detector.isActive) {
        require(System.nanoTime() < deadline,
                "chained: source not exhausted in time — the paced " +
                  "stream fell hopelessly behind its arrival rate")
        Thread.sleep(200)
      }
      detector.processAllAvailable()
      detector.stop(); detector.awaitTermination()
      // drain the remaining alert files through the live consumer —
      // these rows were detected moments ago, so their gaps are real
      // 250ms-cadence gaps, not a drain artifact
      consumer.processAllAvailable()
    } finally {
      if (detector.isActive) detector.stop()
      consumer.stop(); consumer.awaitTermination()
      removeListener()
    }

    import scala.jdk.CollectionConverters._
    val all = progresses.iterator().asScala.toSeq
    val det = all.filter(p => p.name == "graft_chain_detector" &&
        p.numInputRows > 0).sortBy(_.timestamp)
    val cons = all.filter(p => p.name == "graft_chain_consumer" &&
        p.numInputRows > 0).sortBy(_.timestamp)
    require(det.size >= 20,
            s"chained: only ${det.size} detector data triggers")
    require(cons.size >= 10,
            s"chained: only ${cons.size} consumer data triggers — the " +
              "handoff leg was never really live")

    // measured per-routed-row handoff gap: detect-stamp → routed-stamp,
    // joined on event_id AFTER both queries stopped (no driver work in
    // the measured loop; row count bounded by the routed-alert rate)
    val alertsRead = spark.read.option("recursiveFileLookup", "true")
      .parquet(alertDir)
    val routedRead = spark.read.option("recursiveFileLookup", "true")
      .parquet(routedDir)
    val gaps = routedRead.select(col("event_id"), col("routed_wall_ms"))
      .join(alertsRead.select(col("event_id"), col("detect_wall_ms")),
            "event_id")
      .select((col("routed_wall_ms") - col("detect_wall_ms")).as("gap"))
      .orderBy("gap")
      .as[Long].collect().toSeq
    val alerts = alertsRead.count()
    val routedRows = routedRead.count()
    require(gaps.size >= 50,
            s"chained: only ${gaps.size} routed rows carry a measured " +
              "gap — the path under measurement barely fired")
    require(gaps.head >= 0, "chained: negative handoff gap — the wall " +
      "stamps are inconsistent")

    val detExec = det.map(execMsOf).sorted
    val consExec = cons.map(execMsOf).sorted
    val totalRows = det.map(_.numInputRows).sum
    val wallMs = ProbeStats.wallMs(isoMs(det.head.timestamp),
                                   isoMs(det.last.timestamp),
                                   execMsOf(det.last))
    val sustained = ProbeStats.sustainedPerSec(totalRows, wallMs)
    val detP50 = ProbeStats.pct(detExec, 0.50)
    val detP95 = ProbeStats.pct(detExec, 0.95)
    val consP50 = ProbeStats.pct(consExec, 0.50)
    val consP95 = ProbeStats.pct(consExec, 0.95)
    val gapP50 = ProbeStats.pct(gaps, 0.50)
    val gapP95 = ProbeStats.pct(gaps, 0.95)
    val chainedP95 = ProbeStats.chainedE2eP95Ms(cfg.intervalMs, detP95, gapP95)
    // BOTH queries must keep up for the chain to be sustainable
    val zeroBacklog = ProbeStats.zeroBacklog(cfg.intervalMs, detP95) &&
      ProbeStats.zeroBacklog(consumerIntervalMs, consP95)
    unloadState(spark)
    s"""{"metric":"throughput_probe","config":"chained",""" +
      s""""state_store":"$stateStore",""" +
      s""""rows":$totalRows,"rows_per_trigger":${cfg.rowsPerTrigger},""" +
      s""""trigger_interval_ms":${cfg.intervalMs},""" +
      s""""consumer_interval_ms":$consumerIntervalMs,""" +
      s""""data_triggers":${det.size},""" +
      s""""consumer_data_triggers":${cons.size},""" +
      s""""sustained_events_per_sec":${fmt(sustained)},""" +
      s""""trigger_ms_p50":$detP50,"trigger_ms_p95":$detP95,""" +
      s""""consumer_trigger_ms_p50":$consP50,""" +
      s""""consumer_trigger_ms_p95":$consP95,""" +
      s""""handoff_gap_p50_ms":$gapP50,"handoff_gap_p95_ms":$gapP95,""" +
      s""""chained_e2e_p95_ms":$chainedP95,""" +
      s""""alerts_emitted":$alerts,"routed_rows":$routedRows,""" +
      s""""zero_backlog":$zeroBacklog,""" +
      s""""calib_sec":${fmt3(calibSec)},""" +
      s""""bar_events_per_sec":${BarEventsPerSec.toLong},""" +
      s""""baseline_events_per_sec":5000,""" +
      s""""baseline_latency_ms":$BaselineLatencyMs,""" +
      s""""meets_ingest":${sustained >= BarEventsPerSec && zeroBacklog},""" +
      s""""meets_latency":${chainedP95 < BaselineLatencyMs}}"""
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

  /** Render the capacity_knee JSON line (also the zero-knee degraded
    * form, which keeps the probe evidence instead of throwing).
    */
  private def kneeLine(stateStore: String, lastPass: Long,
                       lastPassResult: Option[Result], firstFail: Long,
                       probes: Seq[(Long, Result)]): String = {
    val kneeStats = lastPassResult
      .map(r => s""""sustained_at_knee":${fmt(r.sustained)},""" +
        s""""trigger_ms_p95_at_knee":${r.execP95},""")
      .getOrElse("")
    val probeArr = probes
      .map { case (rt, r) =>
        s"""{"rate":$rt,"pass":${r.pass},""" +
          s""""sustained":${fmt(r.sustained)},""" +
          s""""trigger_ms_p95":${r.execP95},""" +
          s""""zero_backlog":${r.zeroBacklog},""" +
          s""""calib_sec":${fmt3(r.calibSec)},""" +
          s""""meets_latency":${r.meetsLatency},"exhausted":${r.exhausted}}"""
      }
      .mkString("[", ",", "]")
    s"""{"metric":"capacity_knee","state_store":"$stateStore",""" +
      s""""knee_events_per_sec":$lastPass,""" +
      kneeStats +
      s""""first_failing_rate":$firstFail,""" +
      s""""trigger_interval_ms":1000,"data_triggers_per_probe":20,""" +
      s""""probes":$probeArr}"""
  }
}
