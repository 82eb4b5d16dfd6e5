package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{DedupOps, Dims}

/** Cached results follow the files they were derived from: after an
  * outside writer replaces a dataset's table files in place (plain file
  * copy, so Spark sees no write of its own), every cached family —
  * persisted frames, value probes, drain stagings — serves the new
  * files, in the session that cached the old ones and in a new one.
  */
class FileSwapSpec extends SparkSpec {

  /** One registered query per cached family: the alert store, the QI
    * counts, the posting frame, the vector stores (k-means assignment,
    * PQ codebooks + codes), the dedup/calibration chain (recall_matrix
    * reads the shingles, both signature widths, the truths, the sign-LSH
    * passes and the IVF ranking; then the LSH pairs, cascade, clusters
    * and span grams), the OLAP basket and trade-edge frames, and one
    * events drain with a memoized bounds probe and staging.
    */
  private val Queries = Seq(
    "anomaly_alerts", "k_anonymity", "tfidf_topterms", "kmeans_centroids",
    "pq_encode", "recall_matrix", "dedup_cascade", "dedup_clusters",
    "dup_span_fraction", "basket_rules", "trade_triangles",
    "stream_late_drop_drain")

  private val TableNames = Seq(
    "customer", "documents", "embeddings", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier")

  /** The row subset each table keeps in the swapped version. */
  private val Kept = Map(
    "customer" -> (col("c_custkey") % 3 =!= 0),
    "documents" -> (col("doc_id") % 3 =!= 0),
    "embeddings" -> (col("vec_id") % 3 =!= 0),
    "events" -> (col("event_id") % 3 =!= 0),
    "lineitem" -> (col("l_orderkey") % 3 =!= 0),
    "orders" -> (col("o_orderkey") % 3 =!= 0))

  private def copyTables(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    TableNames.foreach(t =>
      Files.copy(from.resolve(s"$t.parquet"), to.resolve(s"$t.parquet"),
                 StandardCopyOption.REPLACE_EXISTING))
  }

  /** Sorted rows of every family's query, plus the customer row bound. */
  private def results(s: SparkSession, dir: Path): Map[String, Seq[String]] =
    Queries.map(q => q -> SparkEntry.queries(q)(s, dir.toString)
      .collect().map(_.toString).toSeq.sorted).toMap +
      ("Dims.baseRows" -> Seq(Dims.baseRows(s, dir.toString, "customer").toString))

  test("a plain file copy over a dataset's tables refreshes every cached family, in this and a new session") {
    val work = Files.createTempDirectory("graft_file_swap")
    val live = work.resolve("live")
    copyTables(java.nio.file.Paths.get(sf("sf0.001")), live)
    // the swapped bytes: each table's kept subset as one parquet file,
    // NTZ timestamps kept as stored
    val swapped = work.resolve("swapped")
    Files.createDirectories(swapped)
    for (t <- TableNames) {
      val out = work.resolve(s"stage/$t").toString
      val raw = spark.read.parquet(s"${sf("sf0.001")}/$t.parquet")
      Kept.get(t).fold(raw)(raw.filter).coalesce(1).write.parquet(out)
      val part = Files.list(java.nio.file.Paths.get(out)).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, swapped.resolve(s"$t.parquet"))
    }

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val before = results(spark, live)
    val oldSig = DedupOps.minhashSigFrame(spark, live.toString, 16)
    assert(oldSig.storageLevel != StorageLevel.NONE)
    val oldRdds = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(oldRdds.nonEmpty)

    copyTables(swapped, live)
    // the first store read after the swap, from another session, drops
    // every frame cached over the old files before any is rebuilt (Spark
    // reports the level of any cached plan that reads the same paths)
    SparkEntry.queries("k_anonymity")(spark.newSession(), live.toString)
    assert(oldSig.storageLevel == StorageLevel.NONE)
    val stillPersisted = oldRdds.intersect(spark.sparkContext.getPersistentRDDs.keySet)
    assert(stillPersisted.isEmpty, "frames cached over the old files stay persisted")

    val same = results(spark, live)
    val fresh = results(spark.newSession(), live)
    // a dir no session has read holds the same swapped bytes
    val unseen = work.resolve("unseen")
    copyTables(swapped, unseen)
    val expected = results(spark.newSession(), unseen)

    val families = expected.keys.toSeq.sorted
    assert(families.filter(q => before(q) == expected(q)).isEmpty,
           "the swap does not change these results")
    val stale = families.flatMap(q =>
      Seq("same session" -> same(q), "new session" -> fresh(q))
        .collect { case (where, got) if got != expected(q) => s"$q ($where)" })
    assert(stale.isEmpty, "results over the old files")
  }
}
