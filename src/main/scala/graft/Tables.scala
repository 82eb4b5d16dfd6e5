package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.plans.{GraftExtensions, SmallSortStrategy}

/** Loaders for the driver-generated parquet tables (`/root/testdata/sf*`).
  *
  * Every loader reads through one private `parquet(spark, path)`, which
  * resolves a table's schema once per file version: it lists the path
  * (name, length and modification time of every file), infers the schema
  * from the parquet footers the first time a session sees that listing,
  * and reads with the resolved schema from then on. A later read of the
  * same files therefore starts no footer job, while a file rewritten in
  * place changes the listing and is inferred again. The memo is keyed
  * weakly by session and holds schemas only, never data. The loaders also
  * register [[graft.plans.SmallSortStrategy]], so a result's small
  * presentation sort runs in one task.
  *
  * The only normalization applied at load time is the
  * `events.ts` column: the parquet files store µs timestamps WITHOUT the
  * UTC-adjusted flag, which Spark reads as `TIMESTAMP_NTZ`; every session
  * here pins `spark.sql.session.timeZone=UTC`, so casting to the session
  * `TIMESTAMP` type is value-identical and keeps the whole downstream
  * surface (timestamp literals, `window()`, `date_trunc`) on one type.
  * DuckDB reads the same files as naive `TIMESTAMP` — the oracle and
  * Spark see identical wall-clock values.
  *
  * Scale notes: these are plain columnar scans; predicates and column
  * pruning push down to parquet (verify with `.explain` →
  * `PushedFilters`/`ReadSchema`). At cluster scale the same loaders work
  * over directory-partitioned datasets unchanged.
  */
object Tables {

  /** (file, length, modification time) of every file under a path,
    * sorted: the version of the files a memo derived from the path holds
    * ([[graft.operators.FrameStore]], [[graft.operators.VersionedMemo]]).
    */
  private[graft] type Listing = Seq[(String, Long, Long)]

  private val schemas =
    new java.util.WeakHashMap[SparkSession, Map[String, (Listing, StructType)]]

  /** The [[Listing]] of `path` (a file or a directory tree), empty when
    * it does not exist. Walks with `listStatus`, never `listFiles`:
    * `LocatedFileStatus` reads permissions, which Hadoop's local file
    * system does by starting an `ls` per file (Spark's own leaf listing
    * avoids it for the same reason).
    */
  private[graft] def listing(spark: SparkSession, path: String): Listing = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    try walk(new Path(path)).sorted
    catch { case _: FileNotFoundException => Nil } // inference reports it
  }

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    GraftExtensions.useStrategy(spark, SmallSortStrategy)
    val files = listing(spark, path)
    val known = schemas.synchronized(
      Option(schemas.get(spark)).flatMap(_.get(path)))
    val schema = known.collect { case (`files`, s) => s }.getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemas.synchronized {
        val paths = Option(schemas.get(spark)).getOrElse(Map.empty)
        schemas.put(spark, paths.updated(path, (files, inferred)))
      }
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Event stream table — the analog of the reference's `events.v1` topic
    * (reference: `ingestors/kafka-producer/event_producer.py:47-103`).
    * Columns: event_id, ts (µs), user_id, event_type, value, props(JSON).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))

  /** Events restricted to a time range, with the predicate applied to the
    * RAW `ts` column BEFORE the NTZ→session-type cast — a filter on
    * `cast(ts)` is opaque to parquet filter pushdown, so filtering after
    * conversion reads every row group; this form pushes
    * `GreaterThanOrEqual/LessThanOrEqual(ts, …)` into the scan and prunes
    * row groups by min/max stats (the 100 TB path for time-sliced reads).
    * The bound literals are typed to match the stored column (NTZ for the
    * driver tables, session TIMESTAMP for test fixtures written by
    * Spark) so the comparison stays pushdown-eligible either way.
    */
  def eventsTimeRange(spark: SparkSession,
                      dir: String,
                      fromIso: String,
                      toIso: String): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    val litType = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => "timestamp_ntz"
      case _                                           => "timestamp"
    }
    raw
      .filter(col("ts") >= lit(fromIso).cast(litType) &&
        col("ts") <= lit(toIso).cast(litType))
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** The reference flattens each event to typed fields and derives a
    * status from the metric (`event_producer.py:59-69` correlates status
    * with metric magnitude). We mirror that as a deterministic rule so the
    * DuckDB oracle can reproduce it: value>=100 → error (the producer's
    * outlier band), >=75 → warning, else ok.
    */
  def eventsWithStatus(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn(
      "status",
      when(col("value") >= 100, "error")
        .when(col("value") >= 75, "warning")
        .otherwise("ok"))

  /** Same status rule as ANSI SQL for oracle queries. */
  val statusSql: String =
    "CASE WHEN value >= 100 THEN 'error' WHEN value >= 75 THEN 'warning' ELSE 'ok' END"

  /** Events FROM-clause fragment for DuckDB oracles: µs-truncated ts. */
  val eventsSql: String =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

  def documents(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/embeddings.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/lineitem.parquet")

  def orders(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/orders.parquet")

  def customer(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/customer.parquet")

  def supplier(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/supplier.parquet")

  def part(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/part.parquet")

  def nation(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/nation.parquet")

  def region(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/region.parquet")
}
