package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantic specs for the round-3 additions: search/relevance scoring,
  * event-sequence analytics, dedup clustering, and the new profiling /
  * repetition signals. The DuckDB gate proves engine parity; these prove
  * the semantics are the INTENDED ones.
  */
class SearchFunnelSpec extends SparkSpec {

  test("tfidf_topterms: ≤3 ranked terms per doc, scores descending, idf sane") {
    val df = SearchOps.tfidfTopterms(spark, sf("sf0.001")).cache()
    val perDoc = df.groupBy("doc_id").agg(count(lit(1)).as("n"),
                                          max("rank").as("maxr"))
    assert(perDoc.filter(col("n") > 3 || col("maxr") > 3).isEmpty)
    // within a doc, score never increases with rank
    val bad = df
      .groupBy("doc_id")
      .agg(min(when(col("rank") === 1, col("tfidf"))).as("s1"),
           min(when(col("rank") === 2, col("tfidf"))).as("s2"))
      .filter(col("s2") > col("s1"))
    assert(bad.isEmpty)
    // a corpus-ubiquitous term (df = N) has idf 0 → never outranks a
    // positive-score term; check scores are non-negative (df ≤ N)
    assert(df.filter(col("tfidf") < 0).isEmpty)
    df.unpersist()
  }

  test("bm25_search: only docs containing a query term, scores ordered") {
    val session = spark
    import session.implicits._
    val df = SearchOps.bm25Search(spark, sf("sf0.001")).collect()
    assert(df.nonEmpty && df.length <= 50)
    val scores = df.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val nTerms = df.map(_.getAs[Long]("n_terms"))
    assert(nTerms.forall(n => n >= 1 && n <= 3))
  }

  test("doc_logprob: mean token logprob is negative and finite") {
    val df = SearchOps.docLogprob(spark, sf("sf0.001"))
    val bad = df.filter(col("logprob_per_token") >= 0 ||
      isnan(col("logprob_per_token")) || col("n_tokens") <= 0)
    assert(bad.isEmpty)
  }

  test("perplexity_buckets: terciles partition each lang; head beats tail") {
    val df = SearchOps.perplexityBuckets(spark, sf("sf0.001")).cache()
    val docs = Tables.documents(spark, sf("sf0.001"))
    // every doc lands in exactly one bucket
    assert(df.agg(sum(col("n_docs"))).head.getLong(0) == docs.count())
    val perLang = df.collect().groupBy(_.getAs[String]("lang"))
    perLang.values.foreach { rows =>
      val byBucket = rows.map(r => r.getAs[String]("bucket") -> r).toMap
      assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
      // bucket ranges respect the cutoffs and order: tail ≤ middle ≤ head
      for (r <- rows) {
        assert(r.getAs[Double]("min_logprob") <= r.getAs[Double]("max_logprob"))
        assert(r.getAs[Double]("cut_low") <= r.getAs[Double]("cut_high"))
      }
      for (t <- byBucket.get("tail"); h <- byBucket.get("head"))
        assert(t.getAs[Double]("max_logprob") < h.getAs[Double]("min_logprob"))
      // terciles: no bucket holds more than half the language's docs
      val n = rows.map(_.getAs[Long]("n_docs")).sum
      assert(rows.forall(_.getAs[Long]("n_docs") <= (n + 1) / 2))
    }
    df.unpersist()
  }

  test("funnel_conversion: counts shrink down the funnel, head rate is 1") {
    val rows = FunnelOps
      .funnelConversion(spark, sf("sf0.001"))
      .orderBy("stage_order")
      .collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("view", "click", "purchase"))
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2))
    assert(rows(0).getAs[Double]("conv_rate") == 1.0)
  }

  test("cohort_retention: offsets within range; day-0 covers every user") {
    val df = FunnelOps.cohortRetention(spark, sf("sf0.001")).cache()
    assert(df.filter(col("day_offset") < 0 || col("day_offset") > 13).isEmpty)
    val day0 = df
      .filter(col("day_offset") === 0)
      .agg(sum("n_users"))
      .head()
      .getLong(0)
    val users = Tables
      .events(spark, sf("sf0.001"))
      .select("user_id")
      .distinct()
      .count()
    assert(day0 == users) // every user is active on their own cohort day
    df.unpersist()
  }

  test("kpi_cube: grand total equals sum of finest cells") {
    val df = OlapOps.kpiCube(spark, sf("sf0.001")).cache()
    val grand = df
      .filter(col("event_type") === "ALL" && col("hour") === -1L)
      .head()
    val fine = df
      .filter(col("event_type") =!= "ALL" && col("hour") =!= -1L)
      .agg(sum("n_events"), sum("sum_cents"))
      .head()
    assert(grand.getAs[Long]("n_events") == fine.getLong(0))
    assert(grand.getAs[Long]("sum_cents") == fine.getLong(1))
    df.unpersist()
  }

  test("doc_length_histogram: doc and token totals are conserved") {
    val df = PipelineOps.docLengthHistogram(spark, sf("sf0.001")).cache()
    val total = df.agg(sum("n_docs")).head().getLong(0)
    assert(total == Tables.documents(spark, sf("sf0.001")).count())
    assert(df.filter(col("min_tokens") > col("max_tokens")).isEmpty)
    assert(df.filter(col("bucket") < 0 || col("bucket") > 15).isEmpty)
    df.unpersist()
  }

  test("dedup_clusters: labels are component minima and sizes consistent") {
    val session = spark
    import session.implicits._
    val df = DedupOps.dedupClusters(spark, sf("sf0.001")).cache()
    // every cluster's canonical member is the cluster id itself
    val canon = df.filter(col("is_canonical"))
    assert(canon.filter(col("doc_id") =!= col("cluster_id")).isEmpty)
    // cluster_size agrees with the actual member count
    val sizes = df.groupBy("cluster_id").agg(count(lit(1)).as("n"))
    val mism = df
      .join(sizes, "cluster_id")
      .filter(col("cluster_size") =!= col("n"))
    assert(mism.isEmpty)
    // transitivity: both endpoints of every verified near-dup pair share
    // a cluster
    val pairs = DedupOps.dedupMinhashLsh(spark, sf("sf0.001"))
      .select(col("doc1"), col("doc2"))
    val lab = df.select(col("doc_id"), col("cluster_id"))
    val broken = pairs
      .join(lab.withColumnRenamed("doc_id", "doc1")
              .withColumnRenamed("cluster_id", "c1"), "doc1")
      .join(lab.withColumnRenamed("doc_id", "doc2")
              .withColumnRenamed("cluster_id", "c2"), "doc2")
      .filter(col("c1") =!= col("c2"))
    assert(broken.isEmpty)
    df.unpersist()
  }

  test("dedup_clusters: driver union-find and distributed loop agree exactly") {
    val fast = DedupOps
      .dedupClustersImpl(spark, sf("sf0.001"), driverMaxPairs = Long.MaxValue)
      .collect()
      .map(_.toSeq)
    val dist = DedupOps
      .dedupClustersImpl(spark, sf("sf0.001"), driverMaxPairs = -1L)
      .collect()
      .map(_.toSeq)
    assert(fast.toSeq == dist.toSeq)
  }

  test("event_transitions: totals equal events minus one per active user") {
    val total = FunnelOps
      .eventTransitions(spark, sf("sf0.001"))
      .agg(sum("n_transitions"))
      .head()
      .getLong(0)
    val perUser = Tables
      .events(spark, sf("sf0.001"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1))
      .head()
      .getLong(0)
    assert(total == perUser)
  }

  test("user_value_quartiles: four near-equal bands covering every user") {
    val rows = OlapOps
      .userValueQuartiles(spark, sf("sf0.001"))
      .orderBy("quartile")
      .collect()
    assert(rows.map(_.getAs[Long]("quartile")).toSeq == Seq(1L, 2L, 3L, 4L))
    val sizes = rows.map(_.getAs[Long]("n_users"))
    assert(sizes.max - sizes.min <= 1)
    val users = Tables
      .events(spark, sf("sf0.001"))
      .select("user_id")
      .distinct()
      .count()
    assert(sizes.sum == users)
    // quartile 1 holds the highest totals
    assert(rows(0).getAs[Long]("min_cents") >= rows(1).getAs[Long]("max_cents"))
  }

  test("series_ewma: smoothed level stays inside the bucket-average range") {
    val df = SeriesOps.seriesEwma(spark, sf("sf0.001"))
    val buckets = Tables
      .events(spark, sf("sf0.001"))
      .groupBy(col("event_type"), date_trunc("minute", col("ts")))
      .agg(avg(col("value")).as("av"))
      .groupBy(col("event_type"))
      .agg(min("av").as("lo"), max("av").as("hi"))
    val joined = df.join(buckets, "event_type")
    // a convex combination of the series can never leave its range
    // (tolerance for the 6-dp rounding of fold inputs/output)
    assert(joined
      .filter(col("ewma_value") < col("lo") - 1e-5 ||
        col("ewma_value") > col("hi") + 1e-5)
      .isEmpty)
    assert(df.count() == 5)
  }

  test("chi2_label_terms: ≤3 positive-association terms per label, chi2 ordered") {
    val df = SearchOps.chi2LabelTerms(spark, sf("sf0.001")).cache()
    assert(df.filter(col("rank") > 3 || col("chi2") < 0).isEmpty)
    val bad = df
      .groupBy("lang")
      .agg(min(when(col("rank") === 1, col("chi2"))).as("c1"),
           min(when(col("rank") === 2, col("chi2"))).as("c2"))
      .filter(col("c2") > col("c1"))
    assert(bad.isEmpty)
    df.unpersist()
  }

  test("langid_confusion: per-label shares sum to one over full label counts") {
    val df = TextOps.langidConfusion(spark, sf("sf0.001"))
    val sums = df
      .groupBy("label_lang")
      .agg(sum("n_docs").as("n"), sum("label_share").as("share"))
    val labels = Tables
      .documents(spark, sf("sf0.001"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_label"))
    val bad = sums
      .join(labels, col("label_lang") === col("lang"))
      .filter(col("n") =!= col("n_label") ||
        abs(col("share") - 1.0) > 1e-4)
    assert(bad.isEmpty)
  }

  test("dataset_split: covers every doc, deterministic, roughly 90/5/5") {
    val df = PipelineOps.datasetSplit(spark, sf("sf0.001")).cache()
    val total = df.agg(sum("n_docs")).head().getLong(0)
    assert(total == Tables.documents(spark, sf("sf0.001")).count())
    val bySplit = df
      .groupBy("split")
      .agg(sum("n_docs").as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(bySplit("train").toDouble / total > 0.75) // hash-balance, small corpus
    assert(bySplit.keySet == Set("train", "valid", "test"))
    // determinism: a second evaluation is identical
    val again = PipelineOps.datasetSplit(spark, sf("sf0.001")).collect()
    assert(df.collect().toSeq == again.toSeq)
    df.unpersist()
  }

  test("embed_rp_sketch: bounded by the weight lattice, one row per vector") {
    val df = VectorOps.embedRpSketch(spark, sf("sf0.001")).cache()
    assert(df.count() ==
      Tables.embeddings(spark, sf("sf0.001")).count())
    // |s_i| ≤ 3·Σ|v_j| with |v_j| ≤ ~3 for the synthetic vectors; use a
    // loose structural bound and NaN guard
    val bad = df.filter((0 until 8)
      .map(i => isnan(col(s"s$i")) || abs(col(s"s$i")) > 1e6)
      .reduceLeft(_ || _))
    assert(bad.isEmpty)
    df.unpersist()
  }

  test("concurrent_sessions: peak bounded by user count, verified by brute force") {
    val row = TemporalOps.concurrentSessions(spark, sf("sf0.001")).head()
    val maxC = row.getAs[Long]("max_concurrent")
    val peak = row.getAs[java.sql.Timestamp]("peak_ts")
    val users = Tables
      .events(spark, sf("sf0.001"))
      .select("user_id")
      .distinct()
      .count()
    assert(maxC >= 1 && maxC <= users)
    // brute-force check at the reported peak instant: count sessions
    // with start <= peak < end (exclusive end, matching the sweep rule)
    val live = TemporalOps
      .sessionize(spark, sf("sf0.001"))
      .filter(col("session_start") <= lit(peak) &&
        col("session_end") > lit(peak))
      .count()
    assert(live == maxC)
  }

  test("text_repetition: a self-repeating doc scores higher than a unique one") {
    val session = spark
    import session.implicits._
    val df = TextOps.textRepetition(spark, sf("sf0.001"))
    // invariants: n_bigrams = n_tokens - 1 (all docs have ≥1 token);
    // 0 ≤ dup_ratio < 1
    val bad = df.filter(
      col("n_bigrams") =!= col("n_tokens") - 1 ||
        col("dup_ratio") < 0 || col("dup_ratio") >= 1)
    assert(bad.isEmpty)
    // word-salad corpus: expect SOME duplicated bigrams overall
    assert(df.agg(max("dup_ratio")).head().getDouble(0) > 0)
  }
}
