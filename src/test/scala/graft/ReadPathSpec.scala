package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read path's fixed Spark work per request: a table's schema is
  * resolved once per file version ([[Tables]]), and a small result's
  * presentation sort runs in one task ([[graft.plans.SmallSortStrategy]]).
  */
class ReadPathSpec extends SparkSpec {

  /** Jobs started while `body` runs, counted by a listener keyed by job
    * group.
    */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"read-path-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ReadPathSpec", interruptOnCancel = false)
      try body
      finally sc.clearJobGroup()
      SpecBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("series_avg sorts in one task and collects in one job") {
    // the read API's posture: AQE off, so every shuffle is in one job
    Posture.withConf(spark, "spark.sql.adaptive.enabled" -> Some("false")) {
      val df = SparkEntry.queries("series_avg")(spark, sf("sf0.001"))
      assert(!planOf(df).contains("rangepartitioning"), planOf(df))
      assert(jobsIn(df.collect()) == 1)
    }
  }

  test("with the broadcast threshold off, the range-partitioned sort is back") {
    Posture.withConf(spark,
                     "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")) {
      val df = SparkEntry.queries("series_avg")(spark, sf("sf0.001"))
      assert(planOf(df).contains("rangepartitioning"), planOf(df))
    }
  }

  test("orderBy + limit still plans as TakeOrderedAndProject") {
    val sorted = Tables.events(spark, sf("sf0.001"))
      .orderBy(col("value").desc, col("event_id"))
    val top = sorted.limit(5)
    assert(planOf(top).contains("TakeOrderedAndProject"), planOf(top))
    assert(top.collect().toSeq == sorted.collect().take(5).toSeq)
  }

  test("a second Tables.events build on the same files starts no job") {
    val dir = Files.createTempDirectory("graft_read_path")
    Files.copy(Path.of(sf("sf0.001"), "events.parquet"),
               dir.resolve("events.parquet"))
    assert(jobsIn(Tables.events(spark, dir.toString)) >= 1,
           "the first build infers the schema from the footers")
    assert(jobsIn(Tables.events(spark, dir.toString)) == 0)
    assert(Tables.events(spark, dir.toString).count() ==
             Tables.events(spark, sf("sf0.001")).count())
  }

  test("a path overwritten with a different schema is read with the new one") {
    val dir = Files.createTempDirectory("graft_read_path").toString
    val path = s"$dir/documents.parquet"
    spark.range(3).toDF("doc_id").write.parquet(path)
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id"))
    spark.range(3).select(col("id").as("doc_id"), lit("x").as("text"))
      .write.mode("overwrite").parquet(path)
    val reread = Tables.documents(spark, dir)
    assert(reread.columns.toSeq == Seq("doc_id", "text"))
    assert(reread.filter(col("text") === "x").count() == 3)
  }
}
