package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.operators.{FrameStore, VersionedMemo}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Direct contract tests for the bounded persisted-frame store every
  * operator persists through, and for the value memo that shares its
  * validity rule (an entry holds while its directory's files keep the
  * version it was built over).
  */
class FrameStoreSpec extends SparkSpec {

  test("getOrBuild builds once per key and returns the same frame") {
    val store = new FrameStore(4)
    var builds = 0
    def build() = { builds += 1; spark.range(10).toDF("n") }
    val a = store.getOrBuild(spark, "dirA", "n")(build())
    val b = store.getOrBuild(spark, "dirA", "n")(build())
    assert(builds == 1)
    assert(a eq b)
    assert(a.storageLevel.useMemory || a.storageLevel.useDisk)
    assert(a.count() == 10)
  }

  test("distinct keys get distinct frames; FIFO eviction unpersists") {
    val store = new FrameStore(2)
    val f1 = store.getOrBuild(spark, "d1", "n")(spark.range(1).toDF("n"))
    val f2 = store.getOrBuild(spark, "d2", "n")(spark.range(2).toDF("n"))
    assert(!(f1 eq f2))
    f1.count(); f2.count() // materialize the cached blocks
    // third key evicts the OLDEST (d1) and unpersists it
    val f3 = store.getOrBuild(spark, "d3", "n")(spark.range(3).toDF("n"))
    f3.count()
    assert(f1.storageLevel == StorageLevel.NONE)
    assert(f2.storageLevel != StorageLevel.NONE)
    // d1 rebuilds after eviction — a fresh frame, values intact
    val f1b = store.getOrBuild(spark, "d1", "n")(spark.range(1).toDF("n"))
    assert(!(f1 eq f1b))
    assert(f1b.count() == 1)
  }

  test("cached frame results are bit-identical to the uncached plan") {
    val store = new FrameStore(2)
    val uncached = spark.range(100).toDF("n")
      .withColumn("h", md5(col("n").cast("string")))
    val cached = store.getOrBuild(spark, "parity", "n")(
      spark.range(100).toDF("n")
        .withColumn("h", md5(col("n").cast("string"))))
    assert(cached.collect().map(_.toString).sorted
      .sameElements(uncached.collect().map(_.toString).sorted))
  }

  /** (Re)writes `dir/t.parquet` as one file of `n` rows by plain file
    * copy, as an outside writer would: Spark sees no write of its own.
    */
  private def table(dir: Path, n: Int): Unit = {
    val stage = Files.createTempDirectory("graft_framestore_stage")
    spark.range(n).toDF("n").coalesce(1).write.parquet(s"$stage/t")
    val part = Files.list(stage.resolve("t")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a changed file version rebuilds and drops the old frames of every session") {
    val store = new FrameStore(8)
    val dir = Files.createTempDirectory("graft_framestore_version")
    table(dir, 3)
    def read(s: org.apache.spark.sql.SparkSession) =
      store.getOrBuild(s, dir.toString, "t")(s.read.parquet(s"$dir/t.parquet"))
    val other = spark.newSession()
    val a = read(spark)
    val b = read(other)
    assert(a.count() == 3 && b.count() == 3)
    assert(read(spark) eq a)
    table(dir, 5)
    // any read of the dir drops both sessions' frames over the old files
    // (checked before a frame over the new files exists: Spark reports
    // the level of any cached plan that reads the same paths)
    store.getOrBuild(other, dir.toString, "other")(other.range(1).toDF("n"))
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    val a2 = read(spark)
    assert(!(a2 eq a))
    assert(a2.count() == 5 && read(other).count() == 5)
  }

  test("the value memo derives once per file version, and a builder may read another entry") {
    val dir = Files.createTempDirectory("graft_memo_version")
    table(dir, 3)
    var builds = 0
    def rows(): Long = VersionedMemo(spark, dir.toString, "rows") {
      builds += 1
      spark.read.parquet(s"$dir/t.parquet").count()
    }
    def twice(): Long = VersionedMemo(spark, dir.toString, "twice")(2 * rows())
    assert(twice() == 6 && rows() == 3)
    assert(builds == 1)
    table(dir, 5)
    assert(twice() == 10 && builds == 2)
  }
}
