package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.ThroughputProbe.{Leg, Result}

/** Pins the ThroughputProbe line contract: `tools/assemble_throughput.py`
  * and `tools/throughput_table.py` read these keys, and new captures are
  * compared line by line with the committed `THROUGHPUT_RUNS_*.jsonl`.
  * Every family's line, rendered from synthetic figures, must carry the
  * keys of the committed THROUGHPUT.json line for that family, in order.
  * No SparkSession needed — the lines are pure functions of the figures.
  */
class ThroughputLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq
  private def keys(json: String): Seq[String] = keys(mapper.readTree(json))

  private lazy val committed: Seq[JsonNode] =
    Files.readAllLines(Paths.get("THROUGHPUT.json")).asScala.toSeq
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l))

  private def result(config: String, leg: Option[Leg] = None): Result =
    Result(config, "hdfs", rowsPerTrigger = 5000L, intervalMs = 1000L,
           rows = 125000L, triggers = 25, sustained = 5012.3,
           inputAvg = 4900.1, procP50 = 9100.4, p50 = 510L, p95 = 640L,
           alerts = 10544L, exhausted = true, calibSec = 0.615, leg = leg)

  test("probe lines keep the committed keys and order of every family") {
    for (family <- Seq("reference_rate", "headroom", "chained", "chained_fused")) {
      val leg =
        if (family == "chained") Some(Leg(20, 800L, 950L, 400L, 900L, 575L))
        else None
      val pinned = committed.filter(_.path("config").asText == family)
      assert(pinned.nonEmpty, s"THROUGHPUT.json has no $family line")
      val line = result(family, leg).line
      pinned.foreach(n => assert(keys(line) == keys(n), s"$family: $line"))
    }
  }

  test("capacity_knee line and its probe entries keep the committed keys") {
    val knee = committed.filter(_.path("metric").asText == "capacity_knee")
    assert(knee.size == 1, "THROUGHPUT.json must hold one capacity_knee line")
    val pass = result("knee_6000")
    val fail = result("knee_9000").copy(failed = true)
    val line = mapper.readTree(ThroughputProbe.kneeLine(
      "hdfs", 6000L, Some(pass), 9000L, Seq(6000L -> pass, 9000L -> fail)))
    assert(keys(line) == keys(knee.head))
    val committedEntry = keys(knee.head.path("probes").get(0))
    line.path("probes").elements().asScala.foreach { e =>
      assert(keys(e) == committedEntry)
    }
    assert(line.path("probes").get(0).path("pass").asBoolean)
    assert(!line.path("probes").get(1).path("pass").asBoolean)
    // the zero-knee form drops only the at-knee figures
    val zero = ThroughputProbe.kneeLine("hdfs", 0L, None, 0L, Seq(9000L -> fail))
    assert(keys(zero) == keys(knee.head)
      .filterNot(Set("sustained_at_knee", "trigger_ms_p95_at_knee")))
  }

  test("a degraded probe line keeps the keys the probe has always written") {
    val line = result("knee_90000").copy(failed = true).line
    assert(keys(line) == Seq("metric", "config", "state_store", "rows",
      "data_triggers", "alerts_emitted", "trigger_ms_p95", "exhausted",
      "probe_failed", "calib_sec"))
    assert(mapper.readTree(line).path("probe_failed").asBoolean)
  }
}
