package graft

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

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

  /** What a timed run does with the frame it built. `frame` gives the
    * frame the run executes, so a run's planning seconds are read off
    * the same plan that it then executes, and nothing is planned twice.
    */
  sealed abstract class Action(val frame: DataFrame => DataFrame,
                               val run: DataFrame => Unit)

  /** `Dataset.count`'s own plan and job: a global count, collected. */
  case object Count extends Action(_.groupBy().count(), _.collect())

  /** A noop sink's work: every column of every row of the planned
    * frame is computed and dropped (Catalyst prunes nothing a count
    * would not read).
    */
  case object NoopWrite extends Action(identity, df =>
    SQLExecution.withNewExecutionId(df.queryExecution, Some("noop")) {
      df.queryExecution.toRdd.foreach(_ => ())
    })

  /** One timed query: the wall seconds of each run, and per run the
    * seconds from building the frame to its executed plan.
    */
  final case class Timing(name: String, wall: Seq[Double], plan: Seq[Double])

  /** The one query timer: runs each query `runs` times over `dir`, each
    * run building a fresh frame, planning what `action` executes, and
    * executing it. A query whose run throws gets no time: it is named in
    * the returned failed list (and on stderr), and the next query is
    * still timed. Returns (timed, failed), each in call order.
    */
  def time(spark: SparkSession,
           queries: Seq[(String, (SparkSession, String) => DataFrame)],
           dir: String, runs: Int, action: Action): (Seq[Timing], Seq[String]) = {
    val results = queries.map { case (name, build) =>
      try {
        val (wall, plan) = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val df = action.frame(build(spark, dir))
          df.queryExecution.executedPlan
          val planned = System.nanoTime()
          action.run(df)
          ((System.nanoTime() - t0) / 1e9, (planned - t0) / 1e9)
        }.unzip
        Right(Timing(name, wall, plan))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Left(name)
      }
    }
    val (failed, timed) = results.partitionMap(identity)
    (timed, failed)
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

    // HOST FINGERPRINT: two quiet but DIFFERENT boxes can differ by more
    // than any code change, and a load verdict alone cannot tell them
    // apart. Two signals ship in every snapshot so bench_diff can
    // adjudicate host identity instead of being blind to it: the CPU
    // model string, and a fixed single-thread calibration loop (300M
    // xorshift64 steps, min-of-3 after one unbilled JIT warmup pass)
    // whose wall time moves with the box's single-thread speed — the
    // same axis that scales every per-query min.
    val hostCpu = HostCalib.cpuModel
    val calibSec = HostCalib.calibrate()

    warmup(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)

    // min of three runs per query: single-shot numbers at this scale
    // swing ±2s from GC/JIT transients (a first-execution Janino compile
    // occasionally lands on a measured run even after warmup); the
    // minimum is the steady-state figure the baseline's
    // sustained-throughput thresholds describe. All three raw runs ship
    // in the "runs" field so run-over-run comparisons can see the
    // variance instead of guessing whether a delta is noise.
    // A query that throws gets no time: it is listed in "failed" and
    // left out of every total.
    def timeAll(names: Seq[String]): (Seq[Timing], Seq[String]) =
      time(spark, names.map(n => n -> SparkEntry.queries(n)), sfDir, 3, Count)

    val (headlineTimes, headlineFailed) = timeAll(headline)
    val extended = SparkEntry.queries.keySet.diff(headline.toSet).toSeq.sorted
    val (extendedTimes, extendedFailed) = timeAll(extended)
    // the writeStream drains each execute a full multi-micro-batch
    // writeStream (staging, state store, checkpoint, read-back) per
    // run — verification machinery whose wall-clock grows with drain
    // COUNT, not engine speed. Split it out so run-over-run engine
    // comparisons read batch_extended_total; extended_total stays for
    // continuity with earlier snapshots. The split keys on the EXPLICIT
    // SparkEntry.drainQueries registry (spec-pinned against the name
    // prefix), not a prefix scrape here.
    val drainTotal = extendedTimes
      .filter(t => SparkEntry.drainQueries.contains(t.name)).map(_.wall.min).sum
    val extendedTotal = extendedTimes.map(_.wall.min).sum

    val events =
      try spark.read.parquet(s"$sfDir/events.parquet").count()
      catch { case NonFatal(_) => 0L }
    val headlineTotal = headlineTimes.map(_.wall.min).sum
    val eventsPerSec =
      if (headlineTotal > 0) events * headlineTimes.size / headlineTotal
      else 0.0

    val all = headlineTimes ++ extendedTimes
    def fmt(r: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(r))
    val qs = all
      .map(t => "\"" + t.name + "\":" + fmt(t.wall.min))
      .mkString("{", ",", "}")
    val rs = all
      .map { t =>
        // Locale.ROOT: the f-interpolator uses the JVM default locale,
        // and a comma-decimal locale would emit invalid JSON
        "\"" + t.name + "\":" + t.wall.map(fmt).mkString("[", ",", "]")
      }
      .mkString("{", ",", "}")
    // machine load at measurement time: with two workloads on the box,
    // host noise has masqueraded as per-query regression — record it
    // (end-of-run reading kept for continuity; loadavg_start is the
    // ambient one bench_diff adjudicates on)
    val loadavg = readLoadavg()
    // self-adjudicated load verdict carried IN the snapshot: anyone
    // reading a single BENCH file sees whether its numbers were captured
    // hot without running bench_diff, and bench_diff itself reads the
    // embedded verdict + limit (its own constant is only a fallback for
    // snapshots that carry none). JSON null when /proc/loadavg was
    // unreadable — a confident "false" there would make an UNKNOWN load
    // read as "verified not hot" downstream.
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
    val failedJson = (headlineFailed ++ extendedFailed)
      .map(n => "\"" + n + "\"").mkString("[", ",", "]")
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
