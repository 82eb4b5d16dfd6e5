package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.AnomalyStatefulProcessor.rocksdbConf

/** Session posture: the one place a `SparkSession` is built, and the one
  * way code changes a session conf for a bounded scope. Every posture
  * runs `local[cpus]` (tests: `local[4]`) in UTC with the UI off, WARN
  * logging and the fork-free local file system (`graft.io.LocalFs`) for
  * both Hadoop APIs, plus only the confs its callers measured or need.
  */
object Posture {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every core. */
  val cpus: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** The RocksDB state-store provider as a [[withConf]] entry
    * (transformWithState needs its multiple column families).
    */
  val rocksDb: (String, Option[String]) = rocksdbConf._1 -> Some(rocksdbConf._2)

  private def build(master: String)(
      tune: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    val common = SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.io.LocalFs.settings.foreach { case (k, v) => common.config(s"spark.hadoop.$k", v) }
    val spark = tune(common).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's measured session, also used where times must be comparable
    * with BENCH_RUNS.json (QueryProbe, ScalingProbe).
    */
  def bench(): SparkSession = {
    val spark = build(s"local[$cpus]")(_
      // Local-bench shuffle sizing, measured at sf0.1 (best-of-3 over the
      // six slowest queries): 8 post-shuffle partitions beat 32 (task
      // overhead dominates sub-megabyte shuffles), and AQE's query-stage
      // materialization costs ~0.3-0.8s per exchange at this scale with
      // nothing to re-plan — together 9.45s -> 7.05s on the probe set.
      // These are BENCH-ONLY settings: the library sessions (Verify,
      // StreamJob, tests) keep AQE on, which is the posture that matters
      // on a real cluster (skew joins, runtime coalescing); a 600k-row
      // local run is where AQE has no upside.
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "false"))
    // Leak guard, both directions: this must be a FRESH session (an
    // already-running library session would make getOrCreate ignore the
    // bench configs and mislabel the numbers), and library sessions must
    // never inherit these configs (GateInvariantSpec scans for that).
    require(spark.conf.get("spark.sql.adaptive.enabled") == "false" &&
              spark.conf.get("spark.sql.shuffle.partitions") == "8",
            "Bench requires its own JVM/session: bench-only configs were " +
              "not applied, so an existing session would be mismeasured")
    spark
  }

  /** The library session (Verify, StreamJob): AQE on, `cpus` shuffle
    * partitions. `SPARK_GRAFT_AQE=1` → the cluster-default planner
    * (Spark's 200 partitions, AQE free to re-plan); every query ends in a
    * total orderBy, so a hash that flips under it is a determinism bug.
    * `SPARK_GRAFT_ROCKSDB=1` → RocksDB state store session-wide, so the
    * windowed-agg, session-window and stream-join drains also run on the
    * provider a production cluster deploys (the transformWithState legs
    * scope it on themselves); a flip is a provider-semantics bug.
    */
  def library(): SparkSession = build(s"local[$cpus]") { b =>
    val partitioned = b.config("spark.sql.shuffle.partitions",
      if (sys.env.get("SPARK_GRAFT_AQE").contains("1")) "200" else cpus)
    if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
      partitioned.config(rocksdbConf._1, rocksdbConf._2)
    else partitioned
  }

  /** ThroughputProbe's stateful-streaming latency session. */
  def streamingLatency(): SparkSession = build(s"local[$cpus]")(_
    // shuffle partitions = state store partitions = per-trigger commit
    // fan-out; 8 quarters the fixed per-trigger state-commit overhead vs
    // 32 while still spreading the 6 detector keys. Measured, that
    // overhead was one process start per checkpoint file op (Hadoop's
    // forked `readlink`/`chmod` without native libhadoop, ~20 per
    // partition commit), which the session's graft.io.LocalFs removes;
    // each partition still pays its own commit. A real low-latency
    // deployment pins this at the job's FIRST run (state partitioning
    // is frozen into the checkpoint thereafter).
    .config("spark.sql.shuffle.partitions", 8)
    // changelog checkpointing uploads per-commit DELTAS instead of full
    // RocksDB snapshots, cutting the per-trigger commit tail — the
    // documented production setting for sub-second RocksDB triggers
    // (the HDFS provider ignores it)
    .config("spark.sql.streaming.stateStore.rocksdb" +
              ".changelogCheckpointing.enabled", "true"))

  /** The spec session, shared by every suite in the test JVM: small
    * fixed parallelism for test speed.
    */
  def test(appName: String): SparkSession = build("local[4]")(_
    .appName(appName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse"))

  /** Run `body` with each `key -> Some(value)` set and each `key -> None`
    * unset, then put every key back as it was (its prior value, or
    * unset) on exit or throw. A streaming query freezes confs such as
    * the state-store provider into its checkpoint at start, so a conf
    * leaked into a shared session changes what later queries run on.
    */
  def withConf[T](spark: SparkSession, confs: (String, Option[String])*)(
      body: => T): T = {
    def put(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val explicit = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> explicit.get(k) }
    put(confs)
    try body
    finally put(prior)
  }
}
