package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.EventPipeline

/** The two stream workloads. Both run the engine's detection-to-alert
  * topology, `EventPipeline.anomalyStream` → anomalies only →
  * `EventPipeline.idempotentBatchWriter`, on the RocksDB state store.
  *
  *  - `alert_stream`: events arrive open loop at [[Rate]] events/s from
  *    Spark's `rate` source on a 1 s processing-time trigger. Each row's
  *    `timestamp` is its due time.
  *  - `alert_backfill`: a seeded backlog staged as parquet files before
  *    timing is drained through `EventPipeline.readEventFileStream`.
  *
  * Each stream's alerts are checked against [[Detector]], an independent
  * recomputation over the same seeded events.
  */
object Alerts {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  val Rate = 5000
  val Setups = 3
  val BacklogFiles = 8
  val BacklogEvents = 200000L

  private val Sources = Seq("web", "mobile", "api", "device", "service-a", "service-b")

  /** The reference producer's event distribution, as a pure function of
    * (`seed`, `id`): six sources; metric N(50, 15) clamped at 0 (a sum of
    * twelve uniforms), except 5% outliers uniform in [100, 500].
    */
  def generate(ids: DataFrame, ts: Column, seed: Long): DataFrame = {
    def unit(k: Int): Column =
      (pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(1L << 30)).cast("double") +
        lit(0.5)) / lit((1L << 30).toDouble)
    val normal = (10 until 22).map(unit).reduce(_ + _) - lit(6.0)
    val metric = when(unit(1) < 0.05, lit(100.0) + lit(400.0) * unit(2))
      .otherwise(greatest(lit(0.0), lit(50.0) + lit(15.0) * normal))
    ids.select(
      col("id").as("event_id"),
      ts.as("ts"),
      (pmod(xxhash64(lit(seed), col("id"), lit(4)), lit(9000L)) + lit(1000L)).as("user_id"),
      element_at(typedLit(Sources), (pmod(xxhash64(lit(seed), col("id"), lit(3)), lit(6L)) + lit(1L)).cast("int"))
        .as("event_type"),
      round(metric, 2).as("value"))
  }

  private def topology(spark: SparkSession, events: DataFrame): DataFrame =
    EventPipeline.anomalyStream(spark, events).filter(_.is_anomaly).toDF()

  /** One started query with the harness's sink timing around the
    * engine's writer: (batch id, wall ms at sink entry, wall ms at return).
    */
  private final class Run(val query: StreamingQuery, val store: String,
                          val sinkLog: ConcurrentLinkedQueue[(Long, Long, Long)],
                          val startMs: Long) {
    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq
    def dataTriggers: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def endMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue
  }

  private def start(events: DataFrame, spark: SparkSession, dir: String,
                    trigger: Trigger): Run = {
    val store = s"$dir/store"
    val writer = EventPipeline.idempotentBatchWriter(store)
    val log = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val timed: (DataFrame, Long) => Unit = (b, id) => {
      val s = System.currentTimeMillis()
      writer(b, id)
      log.add((id, s, System.currentTimeMillis()))
      ()
    }
    val t0 = System.currentTimeMillis()
    val q = topology(spark, events).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(trigger)
      .foreachBatch(timed)
      .start()
    new Run(q, store, log, t0)
  }

  private def stop(r: Run): Unit = {
    r.query.stop()
    r.query.awaitTermination()
  }

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  /** Alerts the sink wrote for completed batches: (batch, event id, due ms). */
  private def storedAlerts(spark: SparkSession, r: Run, batches: Set[Long]): Seq[(Long, Long, Long)] =
    if (!new File(r.store).exists()) Seq.empty
    else
      spark.read.parquet(r.store)
        .select(col("batch_id").cast("long"), col("event_id"),
                (unix_micros(col("ts")) / 1000).cast("long"))
        .collect().toSeq
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .filter(a => batches.contains(a._1))

  /** Checks one stream: the alerts of its completed batches, which
    * admitted the first `admitted` events, are exactly the detector's
    * alerts on those events. Returns an error message, or None.
    */
  private def check(alerts: Seq[(Long, Long, Long)], admitted: Long,
                    expected: Long => Set[Long]): Option[String] = {
    val got = alerts.map(_._2).toSet
    val want = expected(admitted)
    if (alerts.size != got.size) Some(s"duplicate alerts: ${alerts.size - got.size}")
    else if (got != want)
      Some(s"alert set differs from the recomputation: ${(got -- want).size} extra, " +
             s"${(want -- got).size} missing over $admitted events")
    else None
  }

  private def streamRecord(r: Run, spark: SparkSession, listener: Option[ExecListener],
                           error: Option[String], alerts: Seq[(Long, Long, Long)],
                           setupS: Double, extra: Map[String, Any]): Map[String, Any] =
    Map(
      "setup_s" -> setupS,
      "ok" -> error.isEmpty,
      "error" -> error,
      "start_ms" -> r.startMs,
      "progress" -> r.progress.map(p => json.readTree(p.json)),
      "sink" -> r.sinkLog.asScala.toSeq.map { case (b, s, e) =>
        Map("batch" -> b, "start_ms" -> s, "end_ms" -> e) },
      "alerts" -> alerts.map { case (b, id, due) =>
        Seq(b, id, due) },
      "exec" -> listener.map(_.read(spark.sparkContext, r.query.runId.toString))
    ) ++ extra

  private def withListener[T](spark: SparkSession, trace: Boolean)(
      body: Option[ExecListener] => T): T = {
    val l = if (trace) Some(new ExecListener) else None
    l.foreach(spark.sparkContext.addSparkListener)
    try body(l) finally l.foreach(spark.sparkContext.removeSparkListener)
  }

  // ---------------------------------------------------------------- stream

  def stream(o: Main.Opts): Map[String, Any] = {
    val spark = Posture.session(o.cores, o.work)
    val detector = new Detector(spark, o.seed)
    def events: DataFrame = {
      val raw = spark.readStream.format("rate")
        .option("rowsPerSecond", Rate.toLong)
        .option("numPartitions", o.cores.toLong)
        .load()
        .withColumnRenamed("value", "id")
      generate(raw, col("timestamp"), o.seed)
    }
    val trigger = Trigger.ProcessingTime("1 second")
    val streams = ArrayBuffer[Map[String, Any]]()
    // Delay from start() to the rate source's creation in a warm JVM,
    // re-measured on every warm stream (the cold first one takes longer).
    var creationDelayMs = 100L
    withListener(spark, o.trace) { listener =>
      for (k <- 1 to Setups) {
        val dir = s"${o.work}/stream-$k"
        alignStart(creationDelayMs)
        val r = start(events, spark, dir, trigger)
        var error: Option[String] = None
        var alerts = Seq.empty[(Long, Long, Long)]
        var setupS = Double.NaN
        try {
          waitFor("the first data trigger", 120000)(r.dataTriggers.nonEmpty || !r.query.isActive)
          r.query.exception.foreach(e => throw e)
          setupS = (r.endMs(r.dataTriggers.head) - r.startMs) / 1e3
          var measureEndMs = 0L
          if (k == Setups) {
            // The measured stream: run for --seconds after set-up, then let
            // the trigger that admits every event due by then complete.
            Thread.sleep((o.seconds * 1000).toLong)
            measureEndMs = System.currentTimeMillis()
            waitFor("the final trigger", 30000)(
              r.dataTriggers.exists(p => java.time.Instant.parse(p.timestamp).toEpochMilli >=
                measureEndMs + 1000) || !r.query.isActive)
          }
          stop(r)
          r.query.exception.foreach(e => throw e)
          val done = r.dataTriggers
          val admitted = done.map(_.numInputRows).sum
          alerts = storedAlerts(spark, r, done.map(_.batchId).toSet)
          error = check(alerts, admitted, detector.alertsInPrefix)
          // An event's due time is the rate source's creation time plus
          // id / rate; the alerts pin that creation time.
          val created = alerts.map { case (_, id, due) => due - id * 1000 / Rate }.minOption
          if (k > 1) created.foreach(c => creationDelayMs = c - r.startMs)
          if (error.isEmpty && k == Setups) {
            // Every event due by the end of measurement must be processed.
            val dueByEnd = (measureEndMs - created.getOrElse(Long.MaxValue)) * Rate / 1000
            if (admitted < dueByEnd)
              error = Some(s"${dueByEnd - admitted} events due by the end of the run were not processed")
          }
          streams += streamRecord(r, spark, listener, error, alerts, setupS,
                                  Map("created_ms" -> created))
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (r.query.isActive) stop(r)
            streams += Map("ok" -> false, "setup_s" -> setupS,
                           "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
        StateStore.stop()
      }
    }
    spark.stop()
    Map("rate" -> Rate, "streams" -> streams)
  }

  /** The `rate` source releases events in whole seconds counted from its
    * creation, while processing-time triggers fire on wall-clock second
    * boundaries. Their phase difference is the age of the youngest event
    * a trigger cannot admit yet, and a random phase would add 0–1 s to
    * every alert at random from run to run. Streams therefore start so
    * that the source's seconds end [[ReleaseLeadMs]] before each trigger
    * fires, the closest the `rate` source comes to a producer whose
    * events are available as soon as they are due.
    */
  val ReleaseLeadMs = 150L

  private def alignStart(creationDelayMs: Long): Unit = {
    val target = Math.floorMod(1000L - ReleaseLeadMs - creationDelayMs, 1000L)
    val now = System.currentTimeMillis()
    Thread.sleep(Math.floorMod(target - now, 1000L))
  }

  // -------------------------------------------------------------- backfill

  /** Stages the seeded backlog: [[BacklogFiles]] parquet files of
    * consecutive event ids, due 1/[[Rate]] s apart, with increasing
    * modification times so the file source admits them in order.
    */
  private def stageBacklog(spark: SparkSession, dir: String, seed: Long): Unit = {
    val tmp = s"$dir.tmp"
    val t0us = 1700000000000000L
    val ids = spark.range(0L, BacklogEvents, 1L, BacklogFiles).toDF("id")
    generate(ids, timestamp_micros(lit(t0us) + col("id") * lit(1000000L / Rate)), seed)
      .write.mode("overwrite").parquet(tmp)
    val parts = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == BacklogFiles, s"staged ${parts.length} backlog files")
    val out = new File(dir)
    out.mkdirs()
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = new File(out, f"events-$i%04d.parquet")
      require(f.renameTo(dst), s"cannot move $f")
      dst.setLastModified(1700000000000L + i * 1000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
  }

  def backfill(o: Main.Opts): Map[String, Any] = {
    var spark = Posture.session(o.cores, o.work)
    val backlog = s"${o.work}/backlog"
    val t0 = System.nanoTime()
    stageBacklog(spark, backlog, o.seed)
    val stageS = (System.nanoTime() - t0) / 1e9
    val expected = new Detector(spark, o.seed).alertsInFiles(backlog)

    /** One drain of the backlog; a set-up drain stops after its first
      * data trigger.
      */
    def drain(spark: SparkSession, name: String, setup: Boolean,
              listener: Option[ExecListener]): Map[String, Any] = {
      val r = start(EventPipeline.readEventFileStream(spark, backlog), spark,
                    s"${o.work}/drain-$name", Trigger.AvailableNow())
      try {
        if (setup) {
          waitFor("the first data trigger", 120000)(r.dataTriggers.nonEmpty || !r.query.isActive)
          stop(r)
        } else r.query.awaitTermination()
        r.query.exception.foreach(e => throw e)
        val done = r.dataTriggers
        val admitted = done.map(_.numInputRows).sum
        val alerts = storedAlerts(spark, r, done.map(_.batchId).toSet)
        val error =
          if (!setup && admitted != BacklogEvents)
            Some(s"drain processed $admitted of $BacklogEvents backlog events")
          else check(alerts, admitted, n => expected.filter(_ < n))
        val first = done.head
        val setupS = (r.endMs(first) - r.startMs) / 1e3
        val wallMs = r.endMs(done.last) - java.time.Instant.parse(first.timestamp).toEpochMilli
        streamRecord(r, spark, listener, error, alerts, setupS,
                     Map("setup" -> setup, "drain_ms" -> wallMs))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (r.query.isActive) stop(r)
          Map("ok" -> false, "setup" -> setup,
              "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
      } finally StateStore.stop()
    }

    val drains = ArrayBuffer[Map[String, Any]]()
    withListener(spark, o.trace) { listener =>
      (1 to Setups).foreach(k => drains += drain(spark, s"setup$k", setup = true, None))
      // Full drains: at least one, and another only while it is expected
      // to end within --seconds.
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      var k = 0
      var last = 0L
      while (k == 0 || System.nanoTime() + last <= deadline) {
        k += 1
        val d0 = System.nanoTime()
        drains += drain(spark, k.toString, setup = false, listener)
        last = System.nanoTime() - d0
      }
    }
    // Traced runs also drain once on a single core, for the speed-up.
    val oneCore =
      if (!o.trace) None
      else {
        spark.stop()
        spark = Posture.session(1, o.work)
        Some(drain(spark, "1core", setup = false, None))
      }
    spark.stop()
    Map("backlog_events" -> BacklogEvents, "stage_s" -> stageS, "drains" -> drains,
        "one_core" -> oneCore)
  }
}

/** Independent recomputation of the keyed detector: per source, a
  * 100-deep window of metrics with running sum and sum of squares; after
  * ≥ 10 samples an event is an alert when its rounded z-score (population
  * stddev) or MAD score exceeds 3. Events with metric ≤ 0 are dropped.
  * Window arithmetic follows the same operation order as the engine, so
  * the alert sets must match exactly.
  */
final class Detector(spark: SparkSession, seed: Long) {

  private def alerts(rows: Iterator[(Long, String, Double)]): Set[Long] = {
    val windows = scala.collection.mutable.Map[String, Detector.Window]()
    val out = Set.newBuilder[Long]
    rows.foreach { case (id, key, v) =>
      if (v > 0) {
        val w = windows.getOrElseUpdate(key, new Detector.Window(100))
        w.add(v)
        if (w.size >= 10 && w.isAnomaly(v)) out += id
      }
    }
    out.result()
  }

  private def collect(df: DataFrame): Iterator[(Long, String, Double)] =
    df.select("event_id", "event_type", "value").orderBy("event_id")
      .collect().iterator.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  /** Alerts over events 0 until n of the rate-source stream. */
  def alertsInPrefix(n: Long): Set[Long] =
    alerts(collect(Alerts.generate(spark.range(n).toDF("id"), current_timestamp(), seed)))

  /** Alerts over a staged backlog. */
  def alertsInFiles(dir: String): Set[Long] = alerts(collect(spark.read.parquet(dir)))
}

object Detector {
  private def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  final class Window(cap: Int) {
    private val ring = new Array[Double](cap)
    private val sorted = new Array[Double](cap)
    private var n = 0
    private var head = 0
    private var sum = 0.0
    private var sumSq = 0.0

    def size: Int = n

    private def insert(x: Double): Unit = {
      var i = java.util.Arrays.binarySearch(sorted, 0, n, x)
      if (i < 0) i = -i - 1
      System.arraycopy(sorted, i, sorted, i + 1, n - i)
      sorted(i) = x
    }

    private def remove(x: Double): Unit = {
      val i = java.util.Arrays.binarySearch(sorted, 0, n, x)
      require(i >= 0, "window lost a value")
      System.arraycopy(sorted, i + 1, sorted, i, n - i - 1)
    }

    def add(x: Double): Unit =
      if (n >= cap) {
        val ev = ring(head)
        ring(head) = x
        head = (head + 1) % cap
        sum = sum - ev + x
        sumSq = sumSq - ev * ev + x * x
        remove(ev)
        n -= 1
        insert(x)
        n += 1
      } else {
        ring(n) = x
        sum = sum + x
        sumSq = sumSq + x * x
        insert(x)
        n += 1
      }

    private def median: Double = (sorted((n + 1) / 2 - 1) + sorted(n / 2)) / 2.0

    /** Median of |x - m| over the window, by merging the deviations of
      * the values below and at-or-above m, which are each already sorted.
      */
    private def mad(m: Double): Double = {
      var hi = java.util.Arrays.binarySearch(sorted, 0, n, m)
      if (hi < 0) hi = -hi - 1
      while (hi > 0 && sorted(hi - 1) >= m) hi -= 1
      var lo = hi - 1
      val a = (n + 1) / 2 - 1
      val b = n / 2
      var k = 0
      var va, vb = 0.0
      while (k <= b) {
        val d =
          if (lo < 0) { hi += 1; math.abs(sorted(hi - 1) - m) }
          else if (hi >= n) { lo -= 1; math.abs(sorted(lo + 1) - m) }
          else {
            val dl = math.abs(sorted(lo) - m)
            val dh = math.abs(sorted(hi) - m)
            if (dl <= dh) { lo -= 1; dl } else { hi += 1; dh }
          }
        if (k == a) va = d
        if (k == b) vb = d
        k += 1
      }
      (va + vb) / 2.0
    }

    def isAnomaly(x: Double): Boolean = {
      val mean = sum / n
      val std = math.sqrt(math.max(0.0, sumSq / n - mean * mean))
      val med = median
      val madV = mad(med)
      val z = r4(if (std > 0) (x - mean) / std else 0.0)
      val madScore = r4(if (madV > 0) math.abs(x - med) / madV else 0.0)
      math.abs(z) > 3.0 || madScore > 3.0
    }
  }
}
