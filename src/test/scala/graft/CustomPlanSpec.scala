package graft

import graft.operators.AnomalyOps

/** The custom whole-operator stack (RollingStatsPlan → Strategy →
  * RollingStatsExec): planned correctly and row-identical to the
  * declarative WindowExec formulation.
  */
class CustomPlanSpec extends SparkSpec {

  test("anomalyScore plans through RollingStatsExec") {
    val df = AnomalyOps.anomalyScore(spark, sf("sf0.001"))
    df.collect() // finalize the adaptive plan
    // SparkPlan.nodeName strips the Exec suffix: renders as "RollingStats"
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RollingStats "))
    assert(!plan.contains("Window "), "should not fall back to WindowExec")
  }

  test("custom operator output is identical to the WindowExec analog") {
    val fast = AnomalyOps.anomalyScore(spark, sf("sf0.001")).collect()
    val slow = AnomalyOps.anomalyScoreWindow(spark, sf("sf0.001")).collect()
    assert(fast.length == slow.length)
    fast.zip(slow).foreach { case (a, b) => assert(a == b) }
  }

  test("incremental sorted-window path matches WindowExec on adversarial data") {
    // targets the round-7 incremental order-statistics rewrite: heavy
    // DUPLICATE values (binary-search removal must take an equal
    // element, any one), monotone runs (insertion always at one end),
    // a constant key (mad = stddev = 0, zero deviations throughout),
    // and > window-size rows per key so eviction runs hot
    val session = spark
    import session.implicits._
    val rnd = new scala.util.Random(42)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, typ: String, v: Double) =
      (id, new java.sql.Timestamp(t0 + id * 1000), 1L, typ, v, "{}")
    val rows =
      (1L to 400L).map(i => ev(i, "dups", 1.0 + rnd.nextInt(3))) ++
        (1L to 300L).map(i => ev(400 + i, "up", i.toDouble)) ++
        (1L to 300L).map(i => ev(700 + i, "down", 301.0 - i)) ++
        (1L to 150L).map(i => ev(1000 + i, "flat", 7.5))
    val dir = java.nio.file.Files.createTempDirectory("advwin").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fast = AnomalyOps.anomalyScore(spark, dir).collect()
    val slow = AnomalyOps.anomalyScoreWindow(spark, dir).collect()
    assert(fast.length == slow.length && fast.length > 1000)
    fast.zip(slow).foreach { case (a, b) => assert(a == b) }
  }

  test("ann_topk plans as partial + final TopKPerKey around one exchange") {
    val df = graft.operators.VectorOps.annTopK(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // AQE prints initial + final plans: 2 stages render 2 or 4 times
    assert("TopKPerKey".r.findAllIn(plan).length >= 2,
           "expected a partial and a final top-k stage")
    assert(!plan.contains("Window "), "should not fall back to WindowExec")
  }

  test("TopKPerKey output is identical to the row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf("sf0.001"))
    val viaOp = graft.plans.TopK
      .perKey(ev, Seq("user_id"), Seq("value" -> false, "event_id" -> true),
              3, "rank")
      .select(col("user_id"), col("event_id"), col("rank"))
      .orderBy(col("user_id"), col("rank"))
      .collect()
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val viaWindow = ev
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("user_id"), col("event_id"), col("rank"))
      .orderBy(col("user_id"), col("rank"))
      .collect()
    assert(viaOp.length == viaWindow.length && viaOp.sameElements(viaWindow))
  }

  test("TopKPerKey handles ties, k > group size, and single-row keys") {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 4.0, 12L),
                 (2L, 1.0, 20L)).toDF("k", "v", "id")
    val rows = graft.plans.TopK
      .perKey(df, Seq("k"), Seq("v" -> false, "id" -> true), 5, "rank")
      .select(col("k"), col("id"), col("rank"))
      .orderBy(col("k"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
                             (2L, 20L, 1)))
  }

  test("partial-stage flush path (tiny buffer cap) is result-identical") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf("sf0.001"))
    def run(): Array[org.apache.spark.sql.Row] = graft.plans.TopK
      .perKey(ev, Seq("user_id"), Seq("value" -> false, "event_id" -> true),
              3, "rank")
      .select(col("user_id"), col("event_id"), col("rank"))
      .orderBy(col("user_id"), col("rank"))
      .collect()
    val normal = run()
    // cap of 7 rows forces hundreds of mid-partition flushes: the partial
    // stage degrades to a weaker prefilter but the final stage must still
    // produce the exact answer
    Posture.withConf(spark, "graft.topk.maxPartialBufferedRows" -> Some("7")) {
      val flushed = run()
      assert(flushed.length == normal.length && flushed.sameElements(normal))
    }
  }

  test("per-key buffers reset between adjacent keys in a partition") {
    val session = spark
    import session.implicits._
    // two keys forced into one shuffle partition: the second key's first
    // row must see n_samples=1, not a carried-over buffer
    val fast = AnomalyOps.anomalyScore(spark, sf("sf0.001"))
    val firstPerKey = fast
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.min("n_samples").as("min_n"))
      .collect()
    // warm-up gate means min surviving n is exactly MinSamples for every key
    firstPerKey.foreach(r => assert(r.getLong(1) == 10L))
  }
}
