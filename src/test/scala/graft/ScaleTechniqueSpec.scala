package graft

import graft.operators.{DedupOps, SkewOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster-scale join techniques, demonstrated and guarded: bucketed
  * co-located joins (no exchange at all) and salted joins for hot keys
  * (equivalence with the plain join).
  */
class ScaleTechniqueSpec extends SparkSpec {

  test("undersized bloom degrades to pruning less, never to wrong rows") {
    // no-false-negative law: however small the filter, the exact
    // semi-join behind it must still see every true match — verified by
    // probing a 64-bit bloom (saturated, ~everything passes) against
    // the full key set
    val keys = Tables.part(spark, sf("sf0.001"))
      .filter(col("p_size") <= 5).select("p_partkey")
    val bloom = keys.agg(graft.functions.BloomExprs
      .bloomAgg(xxhash64(col("p_partkey")), 4L, 64L).as("bf"))
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val candidates = li.filter(graft.functions.BloomExprs
      .mightContain(bloom, xxhash64(col("l_partkey"))))
    val exactThroughBloom = candidates
      .join(keys, col("l_partkey") === col("p_partkey"), "left_semi").count()
    val plain = li
      .join(keys, col("l_partkey") === col("p_partkey"), "left_semi").count()
    assert(exactThroughBloom == plain)
  }

  test("bucketed tables co-locate the join: no exchange in the plan") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val o = Tables.orders(spark, sf("sf0.001"))
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must pick a shuffle-or-bucket plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
              col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
             "bucketed scan should satisfy the join distribution — no shuffle")
      // and the same rows as the plain parquet join
      assert(j.count() ==
        li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("date-partitioned cold store prunes partitions on time filters") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString
    // the 100 TB cold-store layout: events partitioned by event date
    // (the hypertable-chunking analog, SURVEY §4 partition-pruning row)
    Tables.events(spark, sf("sf0.001"))
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(dir)

    val filtered = spark.read.parquet(dir)
      .filter(col("event_date") === "2024-01-05")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
           "date predicate must prune directories, not filter rows")
    // pruned read equals the full-scan filter
    val full = Tables.events(spark, sf("sf0.001"))
      .filter(to_date(col("ts")) === "2024-01-05").count()
    assert(filtered.count() == full && full > 0)
  }

  test("ssjoin prefix index is complete AND smaller than full postings") {
    val dir = sf("sf0.001")
    val cands = DedupOps.ssjoinPrefixCandidates(spark, dir)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val results = DedupOps.ssjoinPrefix(spark, dir)
      .select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // completeness: every true pair came through the candidate set
    // (the oracle hash-match proves results == exact truth)
    assert(results.nonEmpty && results.subsetOf(cands))
    // pruning: the prefix index expands far fewer pair slots than the
    // full posting index (Σ C(df,2) over all shingles)
    val fullSlots = graft.Tables.documents(spark, dir)
      .select(explode(graft.functions.TextExprs.wordShingles(col("text"), 3))
        .as("s"))
      .groupBy("s").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head.getDouble(0)
    assert(cands.size < fullSlots / 2,
      s"prefix candidates ${cands.size} vs full posting slots $fullSlots")
  }

  test("salted join equals the plain join on a hot-key fixture") {
    val session = spark
    import session.implicits._
    // 10k rows of one hot key + a long tail, joined to a 100-row dim
    val left = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 1000).map(i => (i.toLong % 100 + 2, i.toLong)))
      .toDF("k", "payload")
    val right = (1 to 100).map(i => (i.toLong, s"dim_$i")).toDF("rk", "name")

    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    val salted = SkewOps
      .saltedJoin(left, right, col("k"), col("rk"), col("payload"), 8)
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(plain == salted)
    assert(salted.count(_._1 == 1L) == 10000)
  }

  test("AQE skew-join splits the hot bucket in the LSH verification join shape") {
    val session = spark
    import session.implicits._
    // the dedupMinhashLsh verification join in miniature: candidate pairs
    // joined back to per-doc payloads, with one pathologically hot doc —
    // the skew a boilerplate cluster produces at corpus scale. AQE's
    // skew-join splits the oversized partition at runtime; this pins the
    // behavior (and the thresholds that trigger it) so the scale path
    // stays exercised.
    Posture.withConf(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> Some("true"),
      // scaled-down thresholds so a test-sized hot key trips the same
      // machinery a 256MB-default cluster partition would
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> Some("16KB"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> Some("2"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> Some("8KB"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> Some("false"),
      "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")) {
      val hot = (1 to 20000).map(i => (1L, 100000L + i))
      val tail = (1 to 2000).map(i => (i.toLong + 1, 200000L + i))
      val cand = (hot ++ tail).toDF("doc1", "doc2").repartition(8)
      val payload = (1L to 2001L).map(d => (d, "s" * 64)).toDF("doc_id", "payload")
      val j = cand.join(payload, cand("doc1") === payload("doc_id"))
      // collect() executes THIS QueryExecution, so AQE finalizes the
      // plan we inspect (count() would plan its own execution)
      assert(j.collect().length == 22000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
             s"expected a skew-split join in:\n${plan.take(1500)}")
    }
  }

  test("pointer-jumping contracts an adversarial path graph in O(log n) rounds") {
    val session = spark
    import session.implicits._
    // a 512-node PATH is the worst case for min-label propagation
    // (needs ~n rounds); large-star/small-star must do it in ~log2(n).
    // Shuffle node ids so the path order ≠ id order (truly adversarial).
    val n = 512
    val ids = new scala.util.Random(42).shuffle((0L until n.toLong).toVector)
    val pathEdges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc1", "doc2")
    // plus a disjoint triangle and two isolated-pair components
    val extra = Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L),
                    (2000L, 2001L), (3000L, 3001L)).toDF("doc1", "doc2")
    val (labels, rounds) =
      graft.operators.DedupOps.starContractLabels(pathEdges.union(extra))
    assert(rounds <= 12, s"path of $n nodes took $rounds rounds (want ~log2)")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == n + 7)
    (0L until n.toLong).foreach(d => assert(got(d) == 0L, s"node $d"))
    Seq(1000L, 1001L, 1002L).foreach(d => assert(got(d) == 1000L))
    assert(got(2000L) == 2000L && got(2001L) == 2000L)
    assert(got(3000L) == 3000L && got(3001L) == 3000L)
    labels.unpersist()
  }

  test("minhash banding: s-curve explains k=128; wideband agrees on shared pairs") {
    import graft.operators.DedupOps
    // analytic s-curve 1-(1-s^r)^b at the 0.5 Jaccard threshold: dev
    // (b=4, r=4) catches ~23% of threshold pairs per the curve; the
    // production choice k=128 → (b=32, r=4) catches ~87%
    val dev = DedupOps.lshCatchProbability(0.5, bands = 4, rows = 4)
    val prod = DedupOps.lshCatchProbability(0.5, bands = 32, rows = 4)
    assert(math.abs(dev - (1 - math.pow(1 - 0.0625, 4))) < 1e-12 &&
           dev > 0.22 && dev < 0.23)
    assert(prod > 0.85)
    // monotone in s, and monotone in bands at fixed rows
    val curve = (0 to 20).map(i => DedupOps.lshCatchProbability(i / 20.0, 4, 4))
    assert(curve == curve.sorted && curve.head == 0.0 && curve.last == 1.0)
    assert((1 to 32).map(b => DedupOps.lshCatchProbability(0.5, b, 4))
             .sliding(2).forall(p => p(0) < p(1)))

    // the wider banding (bands=8, rows=2): still a valid dedup output
    // (the exact-Jaccard verification is banding-independent), and
    // pairs found by both bandings carry identical verified scores
    val alt = DedupOps.dedupMinhashWideband(spark, sf("sf0.001")).cache()
    assert(alt.filter(col("jaccard") < 0.5).isEmpty)
    assert(alt.count() > 0)
    val shared = alt
      .select(col("doc1"), col("doc2"), col("jaccard").as("j_alt"))
      .join(DedupOps.dedupMinhashLsh(spark, sf("sf0.001")), Seq("doc1", "doc2"))
    assert(!shared.isEmpty)
    assert(shared.filter(col("jaccard") =!= col("j_alt")).isEmpty)
    alt.unpersist()
  }

  /** (query_id, rank) → cosine of a top-k neighbor frame. */
  private def byRank(df: DataFrame): Map[(Long, Long), Double] = {
    val session = spark
    import session.implicits._
    df.select("query_id", "rank", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, r, c) => (q, r) -> c }.toMap
  }

  test("sign-bit LSH: wider codes refine buckets, never improve any rank") {
    val b8 = byRank(VectorOps.annLshBucketed(spark, sf("sf0.001")))
    val b12 = byRank(VectorOps.annLshWideband(spark, sf("sf0.001")))
    // a 12-bit bucket match implies an 8-bit prefix match, so wider
    // codes can only LOSE candidates — the recall/volume trade the
    // wider code makes: at every (query, rank) the 8-bit neighbor is at
    // least as close
    assert(b12.nonEmpty)
    assert(b12.forall { case (k, c12) => b8.get(k).exists(_ >= c12 - 1e-9) })
  }

  test("IVF nprobe: more probes never worsen any rank") {
    val one = byRank(VectorOps.annIvf(spark, sf("sf0.001")))
    val two = byRank(VectorOps.annIvfProbed(spark, sf("sf0.001")))
    // probing more cells only ADDS candidates, so the cosine at every
    // (query, rank) position can only improve or stay equal
    assert(two.nonEmpty)
    assert(one.forall { case (k, c1) => two.get(k).exists(_ >= c1 - 1e-9) })
  }

  test("pointer-jumping on an empty pair set yields empty labels") {
    val session = spark
    import session.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc1", "doc2")
    val (labels, rounds) = graft.operators.DedupOps.starContractLabels(empty)
    assert(rounds == 0 && labels.isEmpty)
    labels.unpersist()
  }
}
