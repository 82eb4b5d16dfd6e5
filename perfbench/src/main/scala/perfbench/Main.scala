package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` stages the inputs, launches this
  * with the workload's arguments, and turns the result file it writes
  * into metrics. Each workload drives the engine only through its public
  * entry points and records raw samples; percentiles and layer sums are
  * computed by `run.py`.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --out FILE --cores N [--fail-query Q]`. `--fail-query`
  * replaces one query with one that throws; only the self-tests use it.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      out: String,
      cores: Int,
      failQuery: Option[String])

  def main(args: Array[String]): Unit =
    // Spark leaves non-daemon threads behind; end the JVM explicitly, also
    // on failure, so the benchmark never leaves a process running.
    try { run(parse(args)); sys.exit(0) }
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(o: Opts): Unit = {
    // Single-thread speed of the host, measured before any engine work so
    // it does not compete with the workload.
    val calibS = graft.HostCalib.calibrate()
    val upS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"perfbench: calibration loop $calibS%.3f s (JVM up $upS%.1f s)")
    val result = o.workload match {
      case "read_api"       => ReadApi.run(o)
      case "alert_stream"   => Alerts.stream(o)
      case "alert_backfill" => Alerts.backfill(o)
      case w                => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val doc = result ++ Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "calib_s" -> calibS,
      "posture" -> Posture.describe(o.cores))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(o.out), json.writeValueAsBytes(doc))
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      data = kv.getOrElse("data", ""),
      work = need("work"),
      out = need("out"),
      cores = need("cores").toInt,
      failQuery = kv.get("fail-query"))
  }
}

/** The one session posture every workload runs under: all cores of one
  * JVM, the engine's bench shuffle sizing (8 partitions, AQE off), and
  * the RocksDB state store with changelog checkpointing, which is the
  * reference's declared streaming backend.
  */
object Posture {
  private val rocksdb = graft.streaming.AnomalyStatefulProcessor.rocksdbConf

  private def settings(cores: Int): Seq[(String, String)] = Seq(
    "master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false",
    rocksdb._1 -> rocksdb._2,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def describe(cores: Int): Map[String, String] = settings(cores).toMap

  /** A fresh session; `work` holds Spark's scratch and warehouse dirs so
    * the run writes nothing outside the benchmark's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    settings(cores).foreach {
      case ("master", m) => b.master(m)
      case (k, v)        => b.config(k, v)
    }
    b.getOrCreate()
  }
}
