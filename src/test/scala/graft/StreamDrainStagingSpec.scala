package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamDrain

/** Pins the one environmental assumption every multi-batch drain rests
  * on: [[graft.streaming.StreamDrain.stageChunked]] writes contiguous
  * range chunks (ntile's sizes: the first n % k chunks hold one row
  * more) with ascending modification times, and the file stream source
  * under `maxFilesPerTrigger=1` replays them as micro-batches in exactly
  * that order. If a Spark upgrade ever changed the source's file
  * ordering, the order-dependent drains would fail their hash gates
  * downstream — this spec points at the cause directly. Also pins a
  * drain's fixture-validity guard: the warm start refuses a corpus its
  * fixed cut leaves without a seed.
  */
class StreamDrainStagingSpec extends SparkSpec {

  /** Stage `n` rows of key k = 0..n-1 as `chunks` chunk files, replay
    * them one file per trigger, and return each micro-batch's
    * (batch_id, min k, max k, rows) in batch order.
    */
  private def replayChunks(n: Int, chunks: Int): Seq[(Long, Long, Long, Long)] = {
    val df = spark.range(n).select(col("id").as("k"), (col("id") * 10).as("v"))
    val stage = Files.createTempDirectory("graft_stage_spec").toString
    StreamDrain.stageChunked(df, stage, chunks, Seq(col("k")))

    val files = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length === chunks)
    assert(files.map(_.lastModified()).sliding(2)
      .forall(p => p.length < 2 || p(0) < p(1)),
      "chunk mtimes must be strictly ascending in name order")
    files.foreach { f =>
      val ks = spark.read.parquet(f.getPath).select("k").collect().map(_.getLong(0))
      assert(ks.toSeq === ks.sorted.toSeq, s"${f.getName} must store its rows in k order")
    }

    val work = Files.createTempDirectory("graft_stage_spec_store").toString
    val q = spark.readStream
      .schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$work/out")
        ()
      }
      .start()
    q.awaitTermination()

    spark.read.parquet(s"$work/out")
      .groupBy(col("batch_id"))
      .agg(min("k").as("lo"), max("k").as("hi"), count(lit(1)).as("n"))
      .orderBy("batch_id")
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("lo"),
                 r.getAs[Long]("hi"), r.getAs[Long]("n")))
      .toSeq
  }

  test("stageChunked + maxFilesPerTrigger=1 replays chunks in range order") {
    assert(replayChunks(90, 3) ===
      Seq((0L, 0L, 29L, 30L), (1L, 30L, 59L, 30L), (2L, 60L, 89L, 30L)))
    // an uneven count: the first chunk takes the extra row
    assert(replayChunks(91, 3) ===
      Seq((0L, 0L, 30L, 31L), (1L, 31L, 60L, 30L), (2L, 61L, 90L, 30L)))
  }

  test("warm start fails loudly when its cut leaves the seed empty") {
    // every event at or after the fixed 2024-01-16 cut: no batch state
    // precedes it, so the drain would be a plain snapshot drain
    val dir = Files.createTempDirectory("graft_warmstart_delta_only").toString
    Tables.events(spark, sf("sf0.001"))
      .filter(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"))
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](
      StreamDrain.streamWarmstartDrain(spark, dir))
    assert(e.getMessage.contains("warm-start seed is empty"), e.getMessage)
  }
}
