package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `read_api`: one closed-loop client issuing the engine's headline
  * read queries (`graft.Bench.headline`). A request builds the
  * DataFrame through `SparkEntry.queries` and collects the full result.
  *
  * Set-up is timed once: the JVM's first session plus one unbilled pass
  * over every query (persisted `FrameStore` frames, codegen). A second,
  * warm set-up would take the time the measured rounds need to fit the
  * run's time budget. The set-up pass's results are the reference:
  * `run.py` checks them against the DuckDB oracle, and every later
  * request must return the same rows. Measurement then runs whole
  * rounds, each in a seeded order, and starts another round while less
  * than `--seconds` have passed. It runs at least two: the first round
  * after set-up is still slowed by JIT compilation, so a run of one round
  * would read slower than runs of more.
  */
object ReadApi {

  private final case class Request(
      query: String, phase: String, ms: Double, ok: Boolean,
      error: Option[String], detail: Map[String, Any]) {
    def toMap: Map[String, Any] = Map(
      "query" -> query, "phase" -> phase, "ms" -> ms, "ok" -> ok,
      "error" -> error) ++ detail
  }

  def run(o: Main.Opts): Map[String, Any] = {
    val queries = graft.Bench.headline
    val entries = graft.SparkEntry.queries
    def build(q: String): (SparkSession, String) => DataFrame =
      if (o.failQuery.contains(q))
        (_, _) => throw new IllegalStateException(s"forced failure of $q")
      else entries(q)

    // First result of each query: checked by the oracle, then compared with
    // every later request's result.
    val reference = scala.collection.mutable.Map[String, (Array[Row], StructType)]()
    val requests = ArrayBuffer[Request]()
    val listener = if (o.trace) Some(new ExecListener) else None
    var seq = 0

    def request(spark: SparkSession, q: String, phase: String): Request = {
      seq += 1
      val group = s"req-$seq"
      spark.sparkContext.setJobGroup(group, q, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val df = build(q)(spark, o.data)
        val t1 = System.nanoTime()
        val builtAtMs = System.currentTimeMillis()
        // The traced run forces Catalyst's phases one at a time; the
        // untraced run lets collect() do all of them.
        val (t2, t3) =
          if (o.trace) {
            df.queryExecution.optimizedPlan
            val a = System.nanoTime()
            df.queryExecution.executedPlan
            (a, System.nanoTime())
          } else (t1, t1)
        val rows = df.collect()
        val t4 = System.nanoTime()
        val ms = (t4 - t0) / 1e6
        val ok = reference.get(q) match {
          case None =>
            reference(q) = (rows, df.schema)
            true
          case Some((ref, _)) => sameRows(rows, ref)
        }
        val detail: Map[String, Any] =
          if (!o.trace) Map("rows" -> rows.length)
          else {
            val qe = df.queryExecution
            val phases = qe.tracker.phases
            def phaseMs(p: String): Double =
              phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            val exec = listener.get.read(spark.sparkContext, group)
            Map(
              "rows" -> rows.length,
              "build_ms" -> (t1 - t0) / 1e6,
              "built_at_ms" -> builtAtMs,
              "optimize_ms" -> (t2 - t1) / 1e6,
              "physical_ms" -> (t3 - t2) / 1e6,
              "action_ms" -> (t4 - t3) / 1e6,
              "tracker_analysis_ms" -> phaseMs("analysis"),
              "tracker_optimization_ms" -> phaseMs("optimization"),
              "tracker_planning_ms" -> phaseMs("planning"),
              "plan_nodes" -> qe.executedPlan.collect { case p => p }.size,
              "exec" -> exec)
          }
        Request(q, phase, ms, ok,
                if (ok) None else Some("result differs from the reference result"),
                detail)
      } catch {
        case NonFatal(e) =>
          Request(q, phase, (System.nanoTime() - t0) / 1e6, ok = false,
                  Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)), Map.empty)
      } finally spark.sparkContext.clearJobGroup()
    }

    // Set-up: a fresh session and one full pass.
    val s0 = System.nanoTime()
    val spark = Posture.session(o.cores, o.work)
    queries.foreach(q => requests += request(spark, q, "setup1"))
    val setupS = Seq((System.nanoTime() - s0) / 1e9)
    System.err.println(f"perfbench: read_api set-up took ${setupS.head}%.2f s")
    listener.foreach(spark.sparkContext.addSparkListener)

    // Measurement: whole rounds in a seeded order until the time is up.
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var round = 0
    while (round < 2 || System.nanoTime() < deadline) {
      round += 1
      val order = new scala.util.Random(o.seed * 1000003L + round).shuffle(queries)
      order.foreach(q => requests += request(spark, q, "measure"))
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: read_api measured $round round(s) in $measureS%.2f s")

    val sc = spark.sparkContext
    val cacheBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val cacheFrames = sc.getPersistentRDDs.size

    // Reference results for the oracle check, written after timing.
    val resultDir = s"${o.work}/results"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try reference.toSeq.map { case (q, (rows, schema)) =>
        pool.submit(new Runnable {
          def run(): Unit =
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$q")
        })
      }.foreach(_.get())
    finally pool.shutdown()
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    spark.stop()
    System.err.println(f"perfbench: read_api results written and session stopped in ${
      (System.nanoTime() - t0) / 1e9 - measureS}%.2f s")

    Map(
      "setup_s" -> setupS,
      "measure_s" -> measureS,
      "rounds" -> round,
      "requests" -> requests.map(_.toMap),
      "cache_bytes" -> cacheBytes,
      "cache_frames" -> cacheFrames,
      "results_dir" -> resultDir,
      "oracle_sql" -> oracle)
  }

  /** Same rows as the reference: in order, or else as a multiset (row
    * order is only fixed where the query sorts).
    */
  def sameRows(rows: Array[Row], ref: Array[Row]): Boolean =
    rows.length == ref.length &&
      (rows.sameElements(ref) ||
        rows.map(_.toString).sorted.sameElements(ref.map(_.toString).sorted))
}
