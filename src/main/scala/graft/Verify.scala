package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries that
  * throw are listed in failures.json (name → message) and make the run
  * exit 1 after every other query has been written. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only;
    // the driver always passes two args → full run)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // SPARK_GRAFT_AQE / SPARK_GRAFT_ROCKSDB toggles: see Posture.library
    val spark = Posture.library()
    // posture line: lets a gate log prove WHICH planner/provider posture
    // produced it (stderr, like the per-query failure lines)
    System.err.println(
      s"[verify] posture: shuffle_partitions=" +
        s"${spark.conf.get("spark.sql.shuffle.partitions")} " +
        s"state_store=${spark.conf.getOption(
          graft.streaming.AnomalyStatefulProcessor.rocksdbConf._1)
          .map(_.split('.').last).getOrElse("default(hdfs)")}")
    new java.io.File(outDir).mkdirs()
    // a query that throws is reported and the others still run; the
    // failures go to failures.json and the exit status after the loop
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(
      Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries failed: ${failures.map(_._1).mkString(",")}")
      sys.exit(1)
    }
  }
}
