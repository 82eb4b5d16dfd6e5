package graft

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times the HEADLINE query set — the
  * reference's externally visible query surface (SURVEY §2.9: /series,
  * /kpi, /alerts, the anomaly pipeline) plus the scan-throughput probe —
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * The baseline mapping (BASELINE.md): the reference sustains ≥5,000
  * events/sec through its full aggregation surface; our analog is the
  * whole headline set over the sf events table in low single-digit
  * seconds. A warmup pass at the smallest SF runs first so JIT/codegen
  * compilation is not billed to the first measured query — the baseline's
  * numbers are steady-state, so ours are too.
  *
  * The remaining (additive) queries — dedup/similarity/text/multimodal —
  * are timed as a secondary group and included in per-query output, but
  * the headline total is the BASELINE-comparable metric.
  */
object Bench {

  /** §2.9 query surface + Q1 scan probe — the BASELINE-comparable set. */
  val headline: Seq[String] = Seq(
    "series_avg", "series_sum", "series_count", "series_p95",
    "series_filtered", "kpi_tumbling", "kpi_sliding", "kpi_lookup",
    "anomaly_score", "anomaly_alerts", "alerts_filter", "alerts_stats",
    "events_last_hour", "q1_pricing")

  /** Unbilled JIT + whole-stage-codegen warmup: each query once on the
    * smallest fixture (`sf0.001`, next to `sfDir`), so no measured run
    * pays Janino compilation (~0.1-0.3s/stage).
    */
  def warmup(spark: SparkSession, sfDir: String,
             queries: Seq[String]): Unit = {
    val dir = Paths.get(sfDir).resolveSibling("sf0.001").toString
    for (q <- queries)
      try SparkEntry.queries(q)(spark, dir).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[warmup] $q failed: ${e.getMessage}")
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Posture.bench()

    def readLoadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case NonFatal(_) => "" }
    // AMBIENT load, captured before the bench's own 32-thread execution
    // inflates the 1-minute average — the number load adjudication needs
    // (the end-of-run reading always carries ~2 of self-load)
    val loadavgStart = readLoadavg()

    // HOST FINGERPRINT (the round-11 lesson: 7 phantom regressions with
    // a confident "LOAD VERDICT: ok" were 100% host delta — two quiet
    // but DIFFERENT boxes; judge A/B of both code versions on one box
    // showed 66s vs 69s). Two signals ship in every snapshot so
    // bench_diff can adjudicate host identity instead of being blind to
    // it: the CPU model string, and a fixed single-thread calibration
    // loop (300M xorshift64 steps, min-of-3 after one unbilled JIT
    // warmup pass) whose wall time moves with the box's single-thread
    // speed — the same axis that scales every per-query min.
    val hostCpu = HostCalib.cpuModel
    val calibSec = HostCalib.calibrate()

    warmup(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)

    // min of three runs per query: single-shot numbers at this scale
    // swing ±2s from GC/JIT transients (a first-execution Janino compile
    // occasionally lands on a measured run even after warmup); the
    // minimum is the steady-state figure the baseline's
    // sustained-throughput thresholds describe. All three raw runs ship
    // in the "runs" field so round-over-round comparisons can see the
    // variance instead of guessing whether a delta is noise.
    // A query that throws gets no time: it is listed in "failed" and
    // left out of every total.
    val failed = Seq.newBuilder[String]
    def time(names: Seq[String]): Seq[(String, Double, Seq[Double])] =
      names.flatMap { name =>
        try {
          val runs = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          Some((name, runs.min, runs))
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
        }
      }

    val headlineTimes = time(headline)
    val extended = SparkEntry.queries.keySet.diff(headline.toSet).toSeq.sorted
    val extendedTimes = time(extended)
    // the writeStream drains each execute a full multi-micro-batch
    // writeStream (staging, state store, checkpoint, read-back) per
    // run — verification machinery whose wall-clock grows with drain
    // COUNT, not engine speed. Split it out so round-over-round engine
    // comparisons read batch_extended_total; extended_total stays for
    // continuity with earlier rounds. The split keys on the EXPLICIT
    // SparkEntry.drainQueries registry (spec-pinned against the name
    // prefix), not a prefix scrape here.
    val drainTotal = extendedTimes
      .filter(t => SparkEntry.drainQueries.contains(t._1)).map(_._2).sum
    val extendedTotal = extendedTimes.map(_._2).sum

    val events =
      try spark.read.parquet(s"$sfDir/events.parquet").count()
      catch { case NonFatal(_) => 0L }
    val headlineTotal = headlineTimes.map(_._2).sum
    val eventsPerSec =
      if (headlineTotal > 0) events * headlineTimes.size / headlineTotal
      else 0.0

    val all = headlineTimes ++ extendedTimes
    def fmt(r: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(r))
    val qs = all
      .map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rs = all
      .map { case (k, _, runs) =>
        // Locale.ROOT: the f-interpolator uses the JVM default locale,
        // and a comma-decimal locale would emit invalid JSON
        "\"" + k + "\":" + runs.map(fmt).mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    // machine load at measurement time: two rounds running, host noise
    // has masqueraded as per-query regression — record the evidence
    // (end-of-run reading kept for continuity; loadavg_start is the
    // ambient one bench_diff adjudicates on)
    val loadavg = readLoadavg()
    // self-adjudicated load verdict carried IN the snapshot: anyone
    // reading a single BENCH file sees whether its numbers were captured
    // hot without running bench_diff, and bench_diff itself reads the
    // embedded verdict + limit (its own constant is only a fallback for
    // pre-r11 files). JSON null when /proc/loadavg was unreadable — a
    // confident "false" there would make an UNKNOWN load read as
    // "verified not hot" downstream.
    val loadLimit = 2.0
    val loadHot = loadavgStart.split(" ").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .map(_ > loadLimit)
      .fold("null")(_.toString)
    // the driver stores only a bounded TAIL of this output, so: (1) the
    // per-run variance detail goes to a side file AND a first stdout
    // line; (2) the final JSON line ends with the headline scalars
    // (headline_total / events_per_sec LAST) so any tail capture
    // contains the numbers that matter even if the front is cut off
    // JSON-safe: the cpu model string is free text from /proc/cpuinfo
    val hostCpuJson = hostCpu.replace("\\", "\\\\").replace("\"", "\\\"")
    val hostFields =
      s""""host_cpu":"$hostCpuJson","calib_sec":${fmt(calibSec)},"""
    val failedJson =
      failed.result().map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val runsLine =
      s"""{"metric":"bench_runs","runs":$rs,"loadavg":"$loadavg",""" +
        s""""loadavg_start":"$loadavgStart","load_hot":$loadHot,""" +
        s""""load_limit":$loadLimit,""" +
        hostFields +
        s""""sf":"$sfDir"}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_RUNS.json"),
      runsLine.getBytes("UTF-8"))
    catch { case NonFatal(_) => }
    println(runsLine)
    println(
      s"""{"metric":"headline_total","unit":"sec","sf":"$sfDir",""" +
        s""""queries":$qs,""" +
        s""""failed":$failedJson,""" +
        s""""events_rows":$events,"loadavg":"$loadavg",""" +
        s""""loadavg_start":"$loadavgStart","load_hot":$loadHot,""" +
        s""""load_limit":$loadLimit,""" +
        hostFields +
        s""""drain_total":${fmt(drainTotal)},""" +
        s""""batch_extended_total":${fmt(extendedTotal - drainTotal)},""" +
        s""""extended_total":${fmt(extendedTotal)},""" +
        s""""headline_total":${fmt(headlineTotal)},""" +
        s""""value":${fmt(headlineTotal)},""" +
        s""""events_per_sec":${fmt(eventsPerSec)}}""")
    spark.stop()
  }
}
