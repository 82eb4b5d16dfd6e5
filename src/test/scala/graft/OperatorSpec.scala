package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Targeted semantic specs per operator family over tiny frames / the
  * sf0.001 fixture — complements the DuckDB oracle gate (which checks
  * engine parity) with checks of the *intended* semantics.
  */
class OperatorSpec extends SparkSpec {

  test("kpi tumbling: exact nearest-rank percentiles and error rate") {
    val session = spark
    import session.implicits._
    val df = KpiOps.kpiTumbling(spark, sf("sf0.001"))
    val row = df.orderBy(desc("n_events")).head()
    val n = row.getAs[Long]("n_events")
    assert(row.getAs[Long]("error_count") <= n)
    val er = row.getAs[Double]("error_rate")
    assert(er >= 0 && er <= 1)
    assert(row.getAs[Double]("p99_value") >= row.getAs[Double]("p95_value"))
    // windows are exactly one minute
    assert(
      row.getAs[java.sql.Timestamp]("window_end").getTime -
        row.getAs[java.sql.Timestamp]("window_start").getTime == 60000L)
  }

  test("sliding windows produce exactly 6 panes per event") {
    val total = KpiOps
      .kpiSliding(spark, sf("sf0.001"))
      .agg(sum("n_events"))
      .head()
      .getLong(0)
    val events = Tables.events(spark, sf("sf0.001")).count()
    assert(total == events * 6)
  }

  test("anomaly severity classification is consistent with scores") {
    val df = AnomalyOps.anomalyScore(spark, sf("sf0.001"))
    val bad = df
      .filter(
        (col("severity") === "critical" &&
          !(abs(col("z_score")) > 4 || col("mad_score") > 4)) ||
          (col("severity") =!= "info" && !col("is_anomaly")) ||
          (col("anomaly_type") === "normal" && col("is_anomaly")))
      .count()
    assert(bad == 0)
    // warm-up gate: nothing with fewer than 10 samples
    assert(df.filter(col("n_samples") < 10).count() == 0)
  }

  test("minhash LSH finds planted near-duplicates") {
    val session = spark
    import session.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // 1 word of 13 differs
    val far = "completely different content with nothing shared at all here now"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.dedupMinhashLsh(spark, dir)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pane-composed sliding KPIs agree with the direct expansion") {
    // the direct 6×-expansion form stated INLINE: since r13 both
    // kpiSliding and kpiSlidingPaned ship the pane-composed plan, so
    // the equivalence anchor must be independent of either
    val direct = Tables
      .eventsWithStatus(spark, sf("sf0.001"))
      .groupBy(col("event_type"),
               window(col("ts"), "1 minute", "10 seconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
           count(when(col("status") === "error", 1)).as("error_count"))
      .select(col("event_type"), col("w.start").as("window_start"),
              col("n_events"), col("error_count"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
                           r.getLong(2), r.getLong(3))).toSet
    for (form <- Seq(KpiOps.kpiSliding(spark, sf("sf0.001")),
                     KpiOps.kpiSlidingPaned(spark, sf("sf0.001")))) {
      val paned = form
        .select("event_type", "window_start", "n_events", "error_count")
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
                             r.getLong(2), r.getLong(3))).toSet
      assert(direct == paned)
    }
  }

  test("minhash LSH: megabuckets are dropped by the skew guard") {
    val session = spark
    import session.implicits._
    val boiler = "identical boilerplate text repeated across many documents here"
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    // 300 identical docs (> MaxBucket=256): every band bucket for them
    // is capped, so no pairs — while the planted near-dup pair elsewhere
    // is still found
    val docs = ((1 to 300).map(i => (i.toLong, boiler)) ++
      Seq((1001L, base), (1002L, near)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("mb").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.dedupMinhashLsh(spark, dir)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1001L, 1002L)))
  }

  test("simhash: identical docs hash identically, different docs differ") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("sh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sig = DedupOps.simhashSignatures(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    assert(sig(1L).matches("[0-9a-f]{16}"))
  }

  test("simhash_pairs finds planted duplicates at hamming 0") {
    val session = spark
    import session.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words entirely separate vocabulary cluster apart far")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("shp").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.simhashPairs(spark, dir)
      .select("doc1", "doc2", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => (p._1 == 3L || p._2 == 3L) && p._3 == 0L))
  }

  test("winnowing: shared long substring implies shared fingerprint") {
    val session = spark
    import session.implicits._
    val shared = "this exact passage is copied verbatim between the two documents"
    val docs = Seq(
      (1L, s"first document begins here $shared and then ends its own way"),
      (2L, s"a different opening precedes $shared followed by other words"),
      (3L, "entirely unrelated content with no overlap whatsoever present")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("wn").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = TextOps.textWinnow(spark, dir)
      .groupBy("doc_id").agg(collect_set(col("fp")).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    val common12 = fp(1L).toSet.intersect(fp(2L).toSet)
    assert(common12.nonEmpty, "copied passage must share fingerprints")
    val common13 = fp(1L).toSet.intersect(fp(3L).toSet)
    assert(common13.size < common12.size)
  }

  test("ann_topk returns correctly ranked non-self neighbors") {
    val df = VectorOps.annTopK(spark, sf("sf0.001"))
    assert(df.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // per query: ranks are 1..k and cosine non-increasing along rank
    val perQuery = df
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
           max("rank").as("maxr"),
           min("cosine").as("mn"),
           max("cosine").as("mx"),
           first("cosine").as("f"))
    assert(perQuery.filter(col("k") =!= col("maxr")).count() == 0)
    val rows = df.orderBy("query_id", "rank").collect()
    rows.sliding(2).foreach { w =>
      if (w.length == 2 && w(0).getLong(0) == w(1).getLong(0))
        assert(w(0).getDouble(2) >= w(1).getDouble(2))
    }
  }

  test("multimodal stub decode: schema and deterministic values") {
    val df = MultimodalOps.mediaMeta(spark, sf("sf0.001"))
    assert(df.columns.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "n_frames", "checksum_first"))
    val r = df.head()
    val n = r.getAs[Long]("n_bytes")
    assert(r.getAs[Int]("width") == ((n * 7) % 640 + 16).toInt)
    assert(r.getAs[Int]("n_frames") == (n % 24 + 1).toInt)
  }

  test("image resize plan preserves aspect ratio inside the 224 box") {
    val df = MultimodalOps.imageResize(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getAs[Int]("width").toLong, r.getAs[Int]("height").toLong)
      val (ow, oh) = (r.getAs[Long]("out_width"), r.getAs[Long]("out_height"))
      assert(ow <= 224 && oh <= 224 && (ow == 224 || oh == 224))
      // floor(224*min(w,h)/max(w,h)) on the short side
      val short = math.floor(224.0 * math.min(w, h) / math.max(w, h)).toLong
      assert(math.min(ow, oh) == math.max(short, 1L))
      assert(r.getAs[Long]("pad_left") == (224 - ow) / 2)
    }
  }

  test("audio window features sum back to the payload total") {
    val session = spark
    import session.implicits._
    val feats = MultimodalOps.audioFeatures(spark, sf("sf0.001"))
    // per doc: sum(n_samples) == payload byte count; peak <= 127 (ASCII)
    val perDoc = feats.groupBy("doc_id")
      .agg(sum("n_samples").as("n"), max("peak").as("p"))
      .join(MultimodalOps.payloads(spark, sf("sf0.001"))
              .select(col("doc_id"), length(col("payload")).as("len")),
            "doc_id")
    assert(perDoc.filter(col("n") =!= col("len")).count() == 0)
    assert(perDoc.filter(col("p") > 127).count() == 0)
    // windows are dense 0..k per doc
    val w = feats.filter(col("doc_id") === feats.head().getLong(0))
      .select("window_idx").as[Long].collect()
    assert(w.toSeq == (0L until w.length).toSeq)
  }

  test("quantile normalize: disjoint length regimes map onto one scale") {
    val session = spark
    import session.implicits._
    // source A: short docs (lengths ~1..50); source B: long (~1000+).
    // After QN both sources draw from the GLOBAL length multiset:
    // within-source order preserved, and each source's top rank maps to
    // (near) the global maximum despite A never containing long docs.
    val docs = ((1 to 50).map(i => (i.toLong, "x" * i, "A")) ++
      (1 to 50).map(i => (1000L + i, "y" * (1000 + i), "B")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("qn").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineOps.quantileNormalize(spark, dir).collect()
    val bySource = out.groupBy(_.getString(1))
    for ((_, rows) <- bySource) {
      val ordered = rows.sortBy(_.getAs[Long]("r")).map(_.getAs[Long]("norm_chars"))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b })
      // top within-source rank lands in the global top 2%
      assert(ordered.last >= 1049)
    }
    // and the two normalized distributions now overlap heavily: source
    // A's median normalized value is global-scale, not 25
    val aMed = bySource("A").map(_.getAs[Long]("norm_chars")).sorted.apply(24)
    assert(aMed >= 40 && aMed <= 1060)
    assert(bySource("A").map(_.getAs[Long]("norm_chars")).max >= 1000)
  }

  test("scene cuts: sub-24-byte payloads emit no phantom empty frame") {
    val session = spark
    import session.implicits._
    // 5 bytes → k = 6 stub frames, but only frames 0..4 receive a byte;
    // the empty 6th frame must NOT appear (it would fire a zero-sig cut
    // the byte-driven oracle never sees)
    val dir = writeDocs(Seq((1L, "abcde")).toDF("doc_id", "text"))
    val scenes = MultimodalOps.sceneCuts(spark, dir).collect()
    val frames = scenes.map(r => r.getAs[Long]("start_frame") ->
      r.getAs[Long]("end_frame"))
    assert(frames.forall { case (s, e) => s >= 0 && e <= 4 },
           s"phantom frame beyond the occupied range: ${frames.toSeq}")
    assert(scenes.map(_.getAs[Long]("n_frames")).sum == 5)
  }

  test("image aHash: planted near-dup pair found, unrelated image not") {
    val session = spark
    import session.implicits._
    // ~640-byte "image": near-dup differs in ONE byte (sub-cell change
    // → Hamming ≤ 3), the third payload is unrelated content
    val base = ("the quick brown fox jumps over the lazy dog " * 15).trim
    val near = base.updated(100, 'x')
    val far = ("zz AA 09 !! completely different byte histogram " * 13).trim
    val dir = writeDocs(Seq((1L, base), (2L, near), (3L, far))
      .toDF("doc_id", "text"))
    val hashes = MultimodalOps.imageAhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashes.values.forall(_.length == 16))
    val pairs = MultimodalOps.imageDupPairs(spark, dir)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"hashes: $hashes")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  private def writeDocs(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    docs
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dup_span_fraction covers exactly the planted shared spans") {
    val session = spark
    import session.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val dir = writeDocs(Seq(
      (1L, s"one two three four five six seven $shared"),
      (2L, s"$shared eight nine ten eleven twelve thirteen"),
      (3L, "totally unrelated words with no overlap at all in here present")
    ).toDF("doc_id", "text"))
    val rows = DedupOps.dupSpanFraction(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getDouble(5))).toMap
    // doc1: 13 tokens, shared block at positions 8-13 → 6 covered
    assert(rows(1L) == ((13L, 6L, math.floor(6.0 / 13 * 1e6 + 0.5) / 1e6)))
    // doc2: 12 tokens, shared block at positions 1-6 → 6 covered
    assert(rows(2L) == ((12L, 6L, 0.5)))
    // doc3: nothing duplicated
    assert(rows(3L)._2 == 0L && rows(3L)._3 == 0.0)
  }

  test("dedup_verify_editdist confirms the planted near-duplicate") {
    val session = spark
    import session.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val dir = writeDocs(Seq(
      (1L, base),
      (2L, base.replace("today", "tomorrow")),
      (3L, "completely different content with nothing shared at all here now")
    ).toDF("doc_id", "text"))
    val rows = DedupOps.dedupVerifyEditdist(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val r = rows.head
    assert(r.getAs[Long]("lev_dist") > 0) // texts differ
    assert(r.getAs[Double]("edit_sim") > 0.9) // by a few chars only
    assert(r.getAs[Boolean]("verified"))
  }

  test("chunk_documents: stride geometry, no fully-contained trailing chunk") {
    val session = spark
    import session.implicits._
    // 100 tokens → chunks at 1 and 49 (49..100 reaches the end; a chunk
    // at 97 would be wholly inside 49..100 and must not be emitted);
    // 60 tokens → a single whole-doc chunk; 130 → 1/49/97 with 97..130
    val dir = writeDocs(Seq(
      (1L, (1 to 100).map(i => s"tok$i").mkString(" ")),
      (2L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (3L, (1 to 130).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text"))
    val rows = PipelineOps.chunkDocuments(spark, dir)
      .select("doc_id", "chunk_index", "start_token", "n_chunk_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(
      (1L, 0L, 1L, 64L), (1L, 1L, 49L, 52L),
      (2L, 0L, 1L, 60L),
      (3L, 0L, 1L, 64L), (3L, 1L, 49L, 64L), (3L, 2L, 97L, 34L)))
  }

  test("source_mix_weights: normalized and tempered toward uniform") {
    val df = PipelineOps.sourceMixWeights(spark, sf("sf0.001")).collect()
    val wSum = df.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4)
    val pSum = df.map(_.getAs[Double]("p_raw")).sum
    assert(math.abs(pSum - 1.0) < 1e-4)
    // tempering compresses shares toward uniform: the biggest source
    // loses weight, the smallest gains
    val byP = df.sortBy(_.getAs[Double]("p_raw"))
    assert(byP.last.getAs[Double]("weight") <= byP.last.getAs[Double]("p_raw") + 1e-9)
    assert(byP.head.getAs[Double]("weight") >= byP.head.getAs[Double]("p_raw") - 1e-9)
  }

  test("bigram logprob: negative, and repetitive text scores higher") {
    val session = spark
    import session.implicits._
    val dir = writeDocs(Seq(
      (1L, Array.fill(20)("ping pong").mkString(" ")), // one dominant bigram
      (2L, (1 to 40).map(i => s"w$i").mkString(" "))   // all-distinct bigrams
    ).toDF("doc_id", "text"))
    val rows = SearchOps.docLogprobBigram(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows.values.forall(_ < 0)) // smoothed probabilities are < 1
    assert(rows(1L) > rows(2L)) // predictable text is more probable
  }

  test("lsh_recall: caught ⊆ truth, probabilities bounded") {
    val r = DedupOps.lshRecall(spark, sf("sf0.001")).head()
    assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true_pairs"))
    val rec = r.getAs[Double]("recall")
    val exp = r.getAs[Double]("expected_recall")
    assert(rec >= 0 && rec <= 1 && exp >= 0 && exp <= 1)
    // this corpus's true pairs are high-similarity, so the analytic
    // expectation should predict near-total recall
    assert(exp > 0.9)
  }

  test("q1 aggregates are internally consistent") {
    val df = OlapOps.q1Pricing(spark, sf("sf0.001"))
    val r = df.head()
    assert(r.getAs[Double]("sum_base_price") > 0)
    assert(r.getAs[Double]("avg_disc") >= 0 && r.getAs[Double]("avg_disc") < 1)
    val total = df.agg(sum("count_order")).head().getLong(0)
    val filtered = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .count()
    assert(total == filtered)
  }

  test("cluster representatives are members with maximal quality") {
    val session = spark
    import session.implicits._
    val reps = DedupOps.clusterRepresentatives(spark, sf("sf0.001"))
    val members = DedupOps.dedupClusters(spark, sf("sf0.001"))
      .filter(col("cluster_size") >= 2)
      .select(col("cluster_id"), col("doc_id"))
    val quality = TextOps.textQuality(spark, sf("sf0.001"))
      .select(col("doc_id"), col("quality_score"))
    // every representative belongs to its cluster...
    assert(reps.join(members,
                     reps("cluster_id") === members("cluster_id") &&
                       reps("rep_doc_id") === members("doc_id")).count() ==
      reps.count())
    // ...and no member of the cluster has strictly higher quality
    val better = reps
      .join(members, "cluster_id")
      .join(quality, "doc_id")
      .filter(col("quality_score") > col("rep_quality"))
      .count()
    assert(better == 0)
    assert(reps.count() > 0)
  }

  test("strip_dup_spans removes exactly the planted shared block") {
    val session = spark
    import session.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val dir = writeDocs(Seq(
      (1L, s"one two three four five six seven $shared"),
      (2L, s"$shared eight nine ten eleven twelve thirteen"),
      (3L, "totally unrelated words with no overlap at all in here present")
    ).toDF("doc_id", "text"))
    val rows = DedupOps.stripDupSpans(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(rows(1L) == ((13L, 7L, "one two three four five six seven")))
    assert(rows(2L) == ((12L, 6L, "eight nine ten eleven twelve thirteen")))
    assert(rows(3L) == ((11L,
      11L, "totally unrelated words with no overlap at all in here present")))
  }

  test("gopher_rules: each rule trips on its own planted violation") {
    val session = spark
    import session.implicits._
    val filler = (1 to 48).map(i => f"word$i%02d").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, s"the a $filler"),              // 50 varied tokens, 2 stopwords
      (2L, "the a cat"),                   // too short
      (3L, (1 to 50).map(i => f"term$i%02d").mkString(" ")), // no stopwords
      (4L, "the a " + Seq.fill(48)("spam").mkString(" ")),   // repetition
      (5L, "the a " + Seq.fill(48)("x").mkString(" "))       // mean len 1.24
    ).toDF("doc_id", "text"))
    val r = TextOps.gopherRules(spark, dir)
      .collect()
      .map(row => row.getLong(0) -> row)
      .toMap
    assert(r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("r_word_count") && !r(2L).getAs[Boolean]("keep"))
    assert(r(3L).getAs[Boolean]("r_word_count") &&
      !r(3L).getAs[Boolean]("r_stopwords"))
    assert(!r(4L).getAs[Boolean]("r_repetition"))
    assert(!r(5L).getAs[Boolean]("r_mean_word_len"))
  }

  test("cascade accounting partitions the corpus exactly") {
    val savings = DedupOps.cascadeSavings(spark, sf("sf0.001"))
    val byVerdict = DedupOps.qualityByVerdict(spark, sf("sf0.001"))
    val docs = Tables.documents(spark, sf("sf0.001"))
    val nDocs = docs.count()
    val nChars = docs.agg(sum(col("n_chars"))).head.getLong(0)
    // every document lands in exactly one (source, reason) bucket, and
    // the character budget is conserved
    assert(savings.agg(sum(col("n_docs"))).head.getLong(0) == nDocs)
    assert(savings.agg(sum(col("n_chars"))).head.getLong(0) == nChars)
    assert(byVerdict.agg(sum(col("n_docs"))).head.getLong(0) == nDocs)
  }

  test("pii_scrub: every pattern class is masked and counted") {
    val rows = PrivacyOps.piiScrub(spark, sf("sf0.001")).collect()
    assert(rows.length == 1500) // one per order
    rows.foreach { r =>
      val s = r.getAs[String]("scrubbed")
      // nothing PII-shaped survives the scrub
      assert(!s.contains("@") && !s.contains("Customer#") && !s.contains("555-"))
      assert(!s.matches(".*\\d{4,}.*"))
      // the rendered line always carries exactly one email/phone/name
      assert(r.getAs[Long]("n_emails") == 1L)
      assert(r.getAs[Long]("n_phones") == 1L)
      assert(r.getAs[Long]("n_names") == 1L)
      assert(s.contains("[EMAIL]") && s.contains("[PHONE]") && s.contains("[NAME]"))
    }
  }

  test("k_anonymity: released groups meet k, rows conserved, lattice climbs") {
    val dir = sf("sf0.001")
    val total = Tables.customer(spark, dir).count()
    val out = PrivacyOps.kAnonymity(spark, dir).collect()
    // every row of the input is accounted for exactly once in the release
    assert(out.map(_.getAs[Long]("n_rows")).sum == total)
    // every non-suppressed group satisfies k-anonymity at k=10
    out.filter(!_.getAs[Boolean]("suppressed"))
      .foreach(r => assert(r.getAs[Long]("n_rows") >= 10L))
    // suppression can only happen at the top of the lattice
    out.filter(_.getAs[Boolean]("suppressed"))
      .foreach(r => assert(r.getAs[Int]("gen_level") == 2))
    // sf0.001 has sub-k (segment, nation) cells, so the lattice must climb
    assert(out.exists(_.getAs[Int]("gen_level") > 0))
    // a fixture whose every group, segment and total is below k=10
    // collapses into the level-2 residual, still conserved
    val small = customerFixture("kanon", Seq(
      (1L, "AUTOMOBILE", 1L, 100.0), (2L, "AUTOMOBILE", 2L, 200.0),
      (3L, "BUILDING", 1L, 300.0), (4L, "BUILDING", 1L, 5300.0),
      (5L, "MACHINERY", 3L, -50.0), (6L, "MACHINERY", 4L, 9000.0)))
    val all = PrivacyOps.kAnonymity(spark, small).collect()
    assert(all.length == 1 && all.head.getAs[Long]("n_rows") == 6L &&
      all.head.getAs[Boolean]("suppressed"))
  }

  /** A temp-dir `customer.parquet` of (custkey, segment, nation, acctbal)
    * rows — the columns the privacy audits read.
    */
  private def customerFixture(prefix: String,
                              rows: Seq[(Long, String, Long, Double)]): String = {
    val session = spark
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    rows.toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  test("window_funnel: planted chains hit exactly their reachable depth") {
    val session = spark
    import session.implicits._
    val t0 = 1700000000000L
    val day = 86400000L
    def ev(id: Long, uid: Long, typ: String, offMs: Long) =
      (id, new java.sql.Timestamp(t0 + offMs), uid, typ, 1.0, "{}")
    val rows = Seq(
      // user 1: full chain inside 7 days → depth 3
      ev(1, 1, "view", 0), ev(2, 1, "click", day), ev(3, 1, "purchase", 2 * day),
      // user 2: purchase BEFORE any view; view only afterwards → depth 1
      ev(4, 2, "purchase", 0), ev(5, 2, "view", day),
      // user 3: view→click quick, purchase 8 days after the view → depth 2
      ev(6, 3, "view", 0), ev(7, 3, "click", day), ev(8, 3, "purchase", 8 * day),
      // user 4: a LATER view restarts the window; purchase lands in the
      // second chain's 7 days → depth 3 (earliest-start must not block it)
      ev(9, 4, "view", 0), ev(10, 4, "click", 10 * day),
      ev(11, 4, "view", 9 * day), ev(12, 4, "purchase", 11 * day),
      // user 5: no funnel events at all → depth 0
      ev(13, 5, "error", 0))
    val dir = java.nio.file.Files.createTempDirectory("wf").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val hist = FunnelOps.windowFunnel(spark, dir).collect()
      .map(r => r.getAs[Int]("depth") -> r.getAs[Long]("n_users")).toMap
    assert(hist == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 2L))
    // nobody near the 4096-event cap → audit column all zero
    assert(FunnelOps.windowFunnel(spark, dir).collect()
      .forall(_.getAs[Long]("n_at_cap") == 0L))
  }

  test("window_funnel hot-user cap truncates to the LATEST events and audits it") {
    val session = spark
    import session.implicits._
    val t0 = 1700000000000L
    def ev(id: Long, uid: Long, typ: String, offMs: Long) =
      (id, new java.sql.Timestamp(t0 + offMs), uid, typ, 1.0, "{}")
    // user 1 floods: an early full chain, then 10 trailing purchases —
    // with cap=8 only trailing purchases survive (the view and click are
    // truncated away), so the cap DEMOTES the user from depth 3 to 0,
    // which is exactly what the audit column must surface
    val rows =
      Seq(ev(1, 1, "view", 0), ev(2, 1, "click", 1000),
          ev(3, 1, "purchase", 2000)) ++
        (4L to 13L).map(i => ev(i, 1, "purchase", 2000 + i * 1000)) ++
        Seq(ev(20, 2, "view", 0), ev(21, 2, "click", 1000)) // control user
    val dir = java.nio.file.Files.createTempDirectory("wfcap").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // uncapped: user 1 depth 3, user 2 depth 2
    val full = FunnelOps.windowFunnel(spark, dir).collect()
      .map(r => r.getAs[Int]("depth") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_at_cap"))).toMap
    assert(full == Map(2 -> ((1L, 0L)), 3 -> ((1L, 0L))))
    Posture.withConf(spark, "graft.funnel.maxEvents" -> Some("8")) {
      // cap=8 keeps user 1's latest 8 purchases only (view+click gone)
      // → depth 1 is impossible (no view): depth 0, flagged at-cap;
      // user 2 (2 events) is untouched
      val capped = FunnelOps.windowFunnel(spark, dir).collect()
        .map(r => r.getAs[Int]("depth") ->
          (r.getAs[Long]("n_users"), r.getAs[Long]("n_at_cap"))).toMap
      assert(capped == Map(0 -> ((1L, 1L)), 2 -> ((1L, 0L))))
    }
  }

  test("anomaly_regions: partitions alerts into gap-separated incidents") {
    val dir = sf("sf0.001")
    val regions = AnomalyOps.anomalyRegions(spark, dir).collect()
    val nAlerts = AnomalyOps.anomalyAlerts(spark, dir).count()
    assert(regions.map(_.getAs[Long]("n_alerts")).sum == nAlerts)
    regions.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("start_ts").getTime)
      sorted.foreach { r =>
        assert(!r.getAs[java.sql.Timestamp]("end_ts")
          .before(r.getAs[java.sql.Timestamp]("start_ts")))
        assert(r.getAs[Long]("n_critical") <= r.getAs[Long]("n_alerts"))
      }
      // consecutive incidents of one source are separated by > 10 min
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[java.sql.Timestamp]("start_ts").getTime -
            a.getAs[java.sql.Timestamp]("end_ts").getTime > 600000L)
        case _ => ()
      }
    }
  }

  test("drift_tv: stable distribution passes, planted shift is flagged") {
    val session = spark
    import session.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00").getTime
    val t1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00").getTime
    def ev(id: Long, base: Long, typ: String, v: Double) =
      (id, new java.sql.Timestamp(base + id * 60000L), 1L, typ, v, "{}")
    val rows =
      // "stable": identical value multiset in both halves → TV = 0
      (0 until 200).map(i => ev(i.toLong, t0, "stable", (i % 10) * 10.0)) ++
        (0 until 200).map(i => ev(500L + i, t1, "stable", (i % 10) * 10.0)) ++
        // "shifted": disjoint bands across halves → TV = 1
        (0 until 200).map(i => ev(2000L + i, t0, "shifted", 5.0)) ++
        (0 until 200).map(i => ev(3000L + i, t1, "shifted", 405.0))
    val dir = java.nio.file.Files.createTempDirectory("tv").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.driftTv(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("stable").getAs[Double]("tv_distance") == 0.0)
    assert(!out("stable").getAs[Boolean]("drifted"))
    assert(out("shifted").getAs[Double]("tv_distance") == 1.0)
    assert(out("shifted").getAs[Boolean]("drifted"))
  }

  test("trend_ols: recovers a planted linear trend exactly") {
    val session = spark
    import session.implicits._
    // y = 2.5x + 10 (in value units; slope 2500 millis/sec), plus one
    // noisy key to check r2 < 1 stays bounded
    val rows = (0 until 100).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
       1L, "linear", 10.0 + 2.5 * i, "{}")
    } ++ (0 until 100).map { i =>
      (1000L + i, new java.sql.Timestamp(1700000000000L + i * 1000L),
       1L, "flat", 7.0 + (if (i % 2 == 0) 1.0 else -1.0), "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("ols").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SeriesOps.trendOls(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val lin = out("linear")
    assert(math.abs(lin.getAs[Double]("slope_millis_per_sec") - 2500.0) < 1e-6)
    assert(math.abs(lin.getAs[Double]("intercept_millis") - 10000.0) < 1e-6)
    assert(math.abs(lin.getAs[Double]("r2") - 1.0) < 1e-9)
    val flat = out("flat")
    assert(math.abs(flat.getAs[Double]("slope_millis_per_sec")) < 25.0)
    assert(flat.getAs[Double]("r2") < 0.05)
  }

  test("robust_stats: cutoffs order, clamping bounds the mean, trim subset") {
    val rows = SeriesOps.robustStats(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p05 = r.getAs[Double]("p05")
      val p95 = r.getAs[Double]("p95")
      assert(p05 <= p95)
      // clamped and trimmed means live inside the clamp interval
      assert(r.getAs[Double]("winsor_mean") >= p05 - 1e-6 &&
        r.getAs[Double]("winsor_mean") <= p95 + 1e-6)
      assert(r.getAs[Double]("trim_mean") >= p05 - 1e-6 &&
        r.getAs[Double]("trim_mean") <= p95 + 1e-6)
      // trimming drops ≈10% of rows, never more than ~12%
      val n = r.getAs[Long]("n").toDouble
      val kept = r.getAs[Long]("n_trim").toDouble
      assert(kept <= n && kept >= n * 0.88)
    }
  }

  test("l_diversity: bands counted per group, homogeneous fixture flagged") {
    val rows = PrivacyOps.lDiversity(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bands") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Boolean]("l_ok") == (r.getAs[Long]("n_bands") >= 3L))
    }
    // a fixture whose every group holds fewer than l=3 distinct bands —
    // one homogeneous 5-row group among them — is flagged everywhere
    val small = customerFixture("ldiv", Seq(
      (1L, "AUTOMOBILE", 1L, 2100.0), (2L, "AUTOMOBILE", 1L, 2200.0),
      (3L, "AUTOMOBILE", 1L, 2300.0), (4L, "AUTOMOBILE", 1L, 2400.0),
      (5L, "AUTOMOBILE", 1L, 2900.0),
      (6L, "BUILDING", 2L, 100.0), (7L, "BUILDING", 2L, 5100.0),
      (8L, "MACHINERY", 3L, 700.0)))
    val flagged = PrivacyOps.lDiversity(spark, small).collect()
    assert(flagged.map(r => r.getAs[String]("qi_segment") ->
      r.getAs[Long]("n_bands")).toMap ==
      Map("AUTOMOBILE" -> 1L, "BUILDING" -> 2L, "MACHINERY" -> 1L))
    assert(flagged.forall(!_.getAs[Boolean]("l_ok")))
  }

  test("t_closeness: EMD bounded in [0,1], verdict matches the integer gate") {
    val rows = PrivacyOps.tCloseness(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val emd = r.getAs[Double]("emd")
      assert(emd >= 0.0 && emd <= 1.0)
      // the float display value agrees with the exact integer verdict
      assert(r.getAs[Boolean]("t_ok") == (emd <= 0.25 + 1e-9) ||
        math.abs(emd - 0.25) < 1e-6)
    }
    // the whole-population "group" would have EMD 0; tiny groups drift:
    // at least one group must be flagged at sf0.001 (cells of 1-6 rows)
    assert(rows.exists(!_.getAs[Boolean]("t_ok")))
    assert(rows.exists(_.getAs[Boolean]("t_ok")))
  }

  test("dsir_weights: target-language docs score above the rest") {
    val rows = SearchOps.dsirWeights(spark, sf("sf0.001")).collect()
    assert(rows.length == 500)
    def mean(lang: String => Boolean) = {
      val v = rows.filter(r => lang(r.getAs[String]("lang")))
        .map(_.getAs[Double]("dsir_weight"))
      v.sum / v.length
    }
    // the importance weight must separate the target domain: English
    // docs average strictly above the non-English rest
    assert(mean(_ == "en") > mean(_ != "en"))
    // weights are per-token log-ratios: bounded magnitude, never NaN
    rows.foreach { r =>
      val w = r.getAs[Double]("dsir_weight")
      assert(!w.isNaN && math.abs(w) < 20.0)
    }
  }

  test("dp_counts: noise table sane, release integral, salt redraws noise") {
    // the quantized inverse-CDF table is symmetric-ish, median-centered,
    // and bounded by the analytic tails of Laplace(b=1) at 1/512 mass
    val t = PrivacyOps.DpNoiseMillis
    assert(t.length == 256 && t.head < 0 && t.last > 0)
    assert(t.sliding(2).forall(p => p(0) <= p(1))) // monotone inverse CDF
    assert(math.abs(t.head) <= 6000 && t.last <= 6000) // |ln(1/256)|·1000 ≈ 5545
    val dir = sf("sf0.001")
    val out = PrivacyOps.dpCounts(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("noisy_millis") ==
        r.getAs[Long]("n_orders") * 1000L + r.getAs[Long]("noise_millis"))
      assert(t.contains(r.getAs[Long]("noise_millis")))
    }
    // a new release epoch (salt) redraws noise but never touches counts
    Posture.withConf(spark, "graft.privacy.salt" -> Some("epoch1")) {
      val redrawn = PrivacyOps.dpCounts(spark, dir).collect()
      assert(redrawn.map(_.getAs[Long]("n_orders")).toSeq ==
        out.map(_.getAs[Long]("n_orders")).toSeq)
      assert(redrawn.map(_.getAs[Long]("noise_millis")).toSeq !=
        out.map(_.getAs[Long]("noise_millis")).toSeq)
    }
  }

  test("pagerank_types: mass bounded, teleport floor held, deterministic") {
    val dir = sf("sf0.001")
    val ranks = FunnelOps.pagerankTypes(spark, dir).collect()
    val n = ranks.length
    assert(n >= 2)
    val scale = 10000000000L
    val teleport = 15L * scale / (100L * n)
    // every node keeps at least the teleport floor; total mass never
    // exceeds one unit (floor remainders + dangling mass only leak)
    ranks.foreach(r => assert(r.getAs[Long]("rank_scaled") >= teleport))
    val total = ranks.map(_.getAs[Long]("rank_scaled")).sum
    assert(total <= scale && total >= scale / 2)
    // fixed-point arithmetic: a rerun is bit-identical
    val again = FunnelOps.pagerankTypes(spark, dir).collect()
    assert(ranks.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("incr_agg_merge: merged partials equal the full recompute") {
    val dir = sf("sf0.001")
    val merged = TemporalOps.incrAggMerge(spark, dir)
    val direct = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(graft.functions.Rounding.microUnits(col("value")))
             .as("sum_micros"),
           max(col("ts")).as("last_ts"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    // both the base-only and delta-only paths are actually exercised
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"))
  }

  test("compaction_plan: conserves rows/bytes, bins are contiguous and bounded") {
    val dir = sf("sf0.001")
    val plan = LayoutOps.compactionPlan(spark, dir).collect()
    val nEvents = Tables.events(spark, dir).count()
    assert(plan.map(_.getAs[Long]("n_rows")).sum == nEvents)
    assert(plan.forall(r => r.getAs[Long]("n_files") >= 1 &&
      r.getAs[Long]("bin_bytes") > 0))
    // within a day: bin ids strictly increase and hour ranges never overlap
    plan.groupBy(_.getAs[java.sql.Timestamp]("event_date")).foreach {
      case (_, bins) =>
        val sorted = bins.sortBy(_.getAs[Long]("bin_id"))
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getAs[Long]("bin_id") < b.getAs[Long]("bin_id"))
            assert(a.getAs[Long]("last_hour") < b.getAs[Long]("first_hour"))
          case _ => ()
        }
        // next-fit bound: can't use more bins than byte quanta (+1 tail)
        val bytes = sorted.map(_.getAs[Long]("bin_bytes")).sum
        assert(sorted.length <= bytes / 4096 + 1)
    }
    // a huge target packs each day into a single bin
    Posture.withConf(spark, "graft.compact.target" -> Some((1L << 40).toString)) {
      val one = LayoutOps.compactionPlan(spark, dir).collect()
      assert(one.forall(_.getAs[Long]("bin_id") == 0L))
      assert(one.map(_.getAs[Long]("n_rows")).sum == nEvents)
    }
  }

  test("theta_overlap: set algebra reconciles and all sketch gates hold") {
    val df = MiscOps.thetaOverlap(spark, sf("sf0.001")).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Boolean]("intersect_ok") &&
      r.getAs[Boolean]("union_ok") && r.getAs[Boolean]("diff_ok")))
    // exact set identities: 0 ≤ |A∩B| ≤ min(|A|,|B|), |A∪B| ≤ |A|+|B|,
    // max(|A|,|B|) ≤ |A∪B|
    rows.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_a_exact"), r.getAs[Long]("n_b_exact"))
      val (ni, nu) = (r.getAs[Long]("n_intersect_exact"),
                      r.getAs[Long]("n_union_exact"))
      assert(ni >= 0 && ni <= math.min(na, nb))
      assert(nu >= math.max(na, nb) && nu <= na + nb)
    }
    // pair frame covers exactly the type pairs sharing ≥1 user
    val nTypes = Tables.events(spark, sf("sf0.001"))
      .select("event_type").distinct().count()
    assert(rows.length <= nTypes * (nTypes - 1) / 2)
    df.unpersist()
  }

  test("kll_by_day: rank gates hold; exact p95s bracket the data") {
    val df = MiscOps.kllByDay(spark, sf("sf0.001")).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("day_ok")))
    assert(rows.forall(_.getAs[Boolean]("merged_ok")))
    // nearest-rank p95 is an actual data value ≤ the max
    val ev = Tables.events(spark, sf("sf0.001"))
    val vmax = ev.agg(max(col("value"))).head.getDouble(0)
    assert(rows.forall(r => r.getAs[Double]("p95_exact") <= vmax))
    // corpus p95 sits within the envelope of the daily p95s
    val total = rows.head.getAs[Double]("p95_total_exact")
    val dayP = rows.map(_.getAs[Double]("p95_exact"))
    assert(total >= dayP.min && total <= dayP.max)
    df.unpersist()
  }

  test("zorder_layout: z-order files prune both dims; linear files don't") {
    val df = LayoutOps.zorderLayout(spark, sf("sf0.001")).cache()
    val nEvents = Tables.events(spark, sf("sf0.001")).count()
    // both layouts partition the table
    val byLayout = df.groupBy("layout").agg(sum("n_rows").as("n")).collect()
      .map(r => r.getAs[String]("layout") -> r.getAs[Long]("n")).toMap
    assert(byLayout == Map("zorder" -> nEvents, "linear" -> nEvents))
    // envelopes are sane fractions
    assert(df.filter(col("user_span_frac") <= 0 || col("user_span_frac") > 1 ||
      col("minute_span_frac") <= 0 || col("minute_span_frac") > 1).isEmpty)
    def meanFrac(layout: String, c: String): Double = df
      .filter(col("layout") === layout)
      .agg(avg(col(c))).head.getDouble(0)
    // the point of z-order: each file covers a small rectangle of
    // (user, minute) space, so BOTH dimensions prune; arrival order
    // scatters users across every file
    assert(meanFrac("zorder", "user_span_frac") <
      meanFrac("linear", "user_span_frac") / 2)
    assert(meanFrac("zorder", "minute_span_frac") <
      meanFrac("linear", "minute_span_frac"))
    df.unpersist()
  }

  test("semdedup: verdict partitions the corpus; cell minima survive; knob gates") {
    val df = VectorOps.semdedup(spark, sf("sf0.001")).cache()
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    assert(df.count() == emb.count())
    // dropped rows carry an auditable lower-id partner above the bar
    val badDrop = df.filter(!col("kept") &&
      (col("dup_of").isNull || col("dup_of") >= col("vec_id") ||
        col("dup_cosine") < 0.3))
    val badKeep = df.filter(col("kept") && col("dup_of").isNotNull)
    assert(badDrop.isEmpty && badKeep.isEmpty)
    // the lowest-id member of every cell has no lower mate → always kept
    val cellMin = df.groupBy("cell").agg(min("vec_id").as("vec_id"))
    assert(df.join(cellMin, Seq("cell", "vec_id")).filter(!col("kept")).isEmpty)
    assert(df.filter(!col("kept")).count() > 0) // non-degenerate at default τ
    df.unpersist()
  }

  test("bloom_semi_join: equals the plain semi-join; bloom prunes at the scan") {
    val df = SkewOps.bloomSemiJoin(spark, sf("sf0.001")).cache()
    assert(df.filter(!col("bloom_pruned") || !col("fp_ok")).isEmpty)
    // the bloom path must be invisible in the result: same rows as the
    // un-pruned semi-join aggregate
    val keys = Tables.part(spark, sf("sf0.001"))
      .filter(col("p_size") <= 5).select("p_partkey")
    val plain = Tables.lineitem(spark, sf("sf0.001"))
      .join(keys, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
           graft.functions.Rounding.round(sum(col("l_quantity")), 2).as("sum_qty"),
           count_distinct(col("l_partkey")).as("n_parts"))
    assert(df.select("l_returnflag", "n_rows", "sum_qty", "n_parts")
      .exceptAll(plain).isEmpty)
    assert(plain.exceptAll(
      df.select("l_returnflag", "n_rows", "sum_qty", "n_parts")).isEmpty)
    // the probe filter is planted in the plan (scan-side pruning)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"bloom probe missing from plan:\n$p")
    df.unpersist()
  }

  test("hll_by_day: both sketch gates hold and exact counts reconcile") {
    val df = MiscOps.hllByDay(spark, sf("sf0.001")).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // a healthy in-spec sketch never trips the 5σ gates
    assert(rows.forall(_.getAs[Boolean]("day_ok")))
    assert(rows.forall(_.getAs[Boolean]("merged_ok")))
    // the merged total is a DISTINCT union, not a sum of days: users
    // active on several days must be counted once
    val total = rows.head.getAs[Long]("n_total_exact")
    val sumOfDays = rows.map(_.getAs[Long]("n_users_exact")).sum
    assert(total <= sumOfDays)
    val exactTotal = Tables.events(spark, sf("sf0.001"))
      .select(col("user_id")).distinct().count()
    assert(total == exactTotal)
    df.unpersist()
  }

  test("incident_overlap equals the brute-force interval join") {
    val session = spark
    import session.implicits._
    // sf0.01: the sf0.001 fixture has no cross-type incident overlap at
    // all, which would vacuously pass — this SF has real pairs
    val regions = AnomalyOps.anomalyRegions(spark, sf("sf0.01"))
      .select("event_type", "start_ts", "end_ts", "n_alerts")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect()
    val expected = (for {
      a <- regions; b <- regions
      if a._1 < b._1 && !a._2.after(b._3) && !b._2.after(a._3)
    } yield (a._1, b._1,
             if (a._2.after(b._2)) a._2 else b._2,
             if (a._3.before(b._3)) a._3 else b._3)).toSet
    val got = AnomalyOps.incidentOverlap(spark, sf("sf0.01"))
      .select("type_a", "type_b", "overlap_start", "overlap_end")
      .as[(String, String, java.sql.Timestamp, java.sql.Timestamp)]
      .collect()
    // hour-grid bucketing + anchor dedup must emit each overlapping
    // cross-type pair exactly once — no misses, no double-counting
    assert(got.length == got.toSet.size, "duplicate pair emitted")
    assert(got.toSet == expected)
    assert(expected.nonEmpty)
  }

  test("autocorr_lags matches brute-force ACF and stays within [-1, 1]") {
    val session = spark
    import session.implicits._
    val rows = SeriesOps.autocorrLags(spark, sf("sf0.001"))
      .as[(String, Long, Long, Option[Double])].collect()
    assert(rows.nonEmpty && rows.length % 3 == 0)
    rows.foreach { case (_, _, _, r) =>
      r.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9)) }
    // brute-force replay over the collected hourly series
    val hourly = Tables.events(spark, sf("sf0.001"))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("x"))
      .select("event_type", "hr", "x")
      .as[(String, java.sql.Timestamp, Long)]
      .collect().groupBy(_._1)
      .view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
    rows.foreach { case (t, k, nPairs, r) =>
      val xs = hourly(t)
      val n = xs.length.toDouble
      val mean = xs.sum.toDouble / n
      val den = xs.map(x => (x - mean) * (x - mean)).sum
      val pairs = xs.drop(k.toInt).zip(xs.dropRight(k.toInt))
      assert(nPairs == pairs.length)
      val num = pairs.map { case (a, b) => (a - mean) * (b - mean) }.sum
      if (den == 0) assert(r.isEmpty)
      else assert(math.abs(r.get - num / den) < 1e-5,
                  s"$t lag $k: ${r.get} vs ${num / den}")
    }
  }

  test("pps_sample: keep rule exact, HT weights >= 1, certainty docs kept") {
    val session = spark
    import session.implicits._
    val dir = sf("sf0.001")
    val sampled = PipelineOps.ppsSample(spark, dir).cache()
    // every Horvitz–Thompson weight is 1/p with p <= 1
    assert(sampled.filter(col("ht_weight") < 1.0).isEmpty)
    // docs whose size alone reaches the per-source target (p = 1) must
    // ALL be present — certainty units of a PPS design
    val totals = Tables.documents(spark, dir)
      .groupBy("source").agg(sum("n_chars").as("w_total"))
    val certain = Tables.documents(spark, dir)
      .join(totals, "source")
      .filter(lit(10L) * col("n_chars") >= col("w_total"))
      .select("doc_id")
    assert(certain.join(sampled, "doc_id").count() == certain.count())
    // and certainty docs carry exactly weight 1
    assert(sampled.join(certain, "doc_id")
      .filter(col("ht_weight") =!= 1.0).isEmpty)
    sampled.unpersist()
  }

  test("gini_concentration equals brute-force Gini on sorted user totals") {
    val session = spark
    import session.implicits._
    val got = OlapOps.giniConcentration(spark, sf("sf0.001"))
      .as[(String, Long, Long, Option[Double])].collect()
    assert(got.nonEmpty)
    val totals = Tables.events(spark, sf("sf0.001"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select("event_type", "cents").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    got.foreach { case (t, nUsers, totalCents, gini) =>
      val xs = totals(t).sorted
      assert(nUsers == xs.length && totalCents == xs.sum)
      val n = xs.length.toLong
      val s = xs.sum
      val weighted = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
      if (n * s == 0) assert(gini.isEmpty)
      else {
        val expect = (2.0 * weighted - (n + 1.0) * s) / (n.toDouble * s)
        assert(math.abs(gini.get - expect) < 1e-6, s"$t: $gini vs $expect")
        assert(gini.get >= 0.0 && gini.get < 1.0)
      }
    }
  }

  test("q21/q22 equal their brute-force replays") {
    val session = spark
    import session.implicits._
    // sf0.01: at sf0.001 NATION_7 has no waiting supplier and no
    // customer passes the dormancy slice — both replays would be
    // vacuous; this SF exercises real rows (collects stay ~60k rows)
    val dir = sf("sf0.01")
    // q21: per-order supplier sets and late-supplier sets, counted per line
    val ordersF = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    val lines = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .as[(Long, Long, java.sql.Timestamp)].collect()
    val suppsByOrder = lines.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def isLate(l: (Long, Long, java.sql.Timestamp)): Boolean =
      ordersF.get(l._1).exists(od =>
        l._3.getTime > od.getTime + 60L * 86400000L)
    val lateLines = lines.filter(isLate)
    val lateSupps = lateLines.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nation7 = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir)
              .filter(col("n_name") === "NATION_7"),
            col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name").as[(Long, String)].collect().toMap
    val expected = lateLines
      .filter(l => suppsByOrder(l._1).exists(_ != l._2) &&
        !lateSupps(l._1).exists(_ != l._2))
      .flatMap(l => nation7.get(l._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got21 = OlapOps.q21WaitSuppliers(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got21 == expected && expected.nonEmpty)

    // q22: above-average balance (integer cross-multiplied), dormant
    // since the cutoff, rolled up by segment
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .as[(Long, String, Double)].collect()
    def cents(b: Double): Long = math.floor(b * 100 + 0.5).toLong
    val pos = cust.filter(_._3 > 0)
    val (nPos, sumPos) = (pos.length.toLong, pos.map(c => cents(c._3)).sum)
    val cutoff = java.sql.Timestamp.valueOf("1999-06-01 00:00:00")
    val active = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff))
      .select("o_custkey").as[Long].collect().toSet
    val expected22 = cust
      .filter(c => cents(c._3) * nPos > sumPos && !active.contains(c._1))
      .groupBy(_._2).view
      .mapValues(g => (g.length.toLong, g.map(c => cents(c._3)).sum)).toMap
    val got22 = OlapOps.q22DormantBalance(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got22 == expected22 && expected22.nonEmpty)
  }

  test("series_holt equals a straight scalar replay of the recursion") {
    val session = spark
    import session.implicits._
    val rows = SeriesOps.seriesHolt(spark, sf("sf0.001"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect()
    assert(rows.nonEmpty)
    val series = Tables.events(spark, sf("sf0.001"))
      .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("bucket"))
      .agg(graft.functions.Rounding.round(avg(col("value")), 6).as("av"))
      .select("event_type", "bucket", "av")
      .as[(String, java.sql.Timestamp, Double)]
      .collect().groupBy(_._1)
      .view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
    rows.foreach { case (t, nBuckets, level, trend, forecast) =>
      val vs = series(t)
      assert(nBuckets == vs.length)
      if (vs.length < 2) assert(level.isEmpty)
      else {
        var l = vs(1); var b = vs(1) - vs(0)
        vs.drop(2).foreach { x =>
          val ln = 0.3 * x + 0.7 * (l + b)
          b = 0.1 * (ln - l) + 0.9 * b
          l = ln
        }
        def r6(x: Double) = graft.functions.Rounding.scalar(x, 6)
        assert(level.contains(r6(l)), s"$t level: $level vs ${r6(l)}")
        assert(trend.contains(r6(b)))
        assert(forecast.contains(r6(l + 3.0 * b)))
      }
    }
  }

  test("pq_encode is the argmin against the pq_codebooks table") {
    val session = spark
    import session.implicits._
    val dir = sf("sf0.001")
    // rebuild each subspace codebook from the long-form output
    val books = VectorOps.pqCodebooks(spark, dir)
      .select("m", "code", "pos", "c")
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2))
      .view.mapValues(_.sortBy(_._3).map(_._4)).toMap
    assert(books.nonEmpty)
    val vecs = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val enc = VectorOps.pqEncode(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(enc.length == vecs.size * 4)
    enc.foreach { case (vid, m, code, qerr) =>
      val sv = vecs(vid).slice(m.toInt * 16, m.toInt * 16 + 16)
        .map(_.toDouble)
      def d2(cb: Seq[Double]): Double = {
        var acc = 0.0
        var j = 0
        while (j < sv.length) {
          val t = sv(j) - cb(j); acc += t * t; j += 1
        }
        graft.functions.Rounding.scalar(acc, 6)
      }
      val best = books.collect { case ((bm, bc), cb) if bm == m => (d2(cb), bc) }
        .minBy(identity)
      assert(best == ((qerr, code)),
             s"vec $vid subspace $m: got ($qerr, $code), best $best")
    }
  }

  test("q16 excludes flagged suppliers; trade_triangles counts close") {
    val session = spark
    import session.implicits._
    val dir = sf("sf0.01")
    // q16: no surviving (brand, size) group may count a flagged supplier
    // — recompute one group's distinct suppliers minus the flagged set
    val flagged = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
      .as[Long].collect().toSet
    assert(flagged.nonEmpty, "fixture lost its negative-balance suppliers")
    val got = OlapOps.q16PartSuppliers(spark, dir)
      .as[(String, Int, Long)].collect()
    assert(got.length == 40)
    val (brand, size, cnt) = got.head
    val recount = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_size") <= 15),
            col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === brand && col("p_size") === size)
      .select("l_suppkey").as[Long].collect().toSet
      .count(s => !flagged.contains(s))
    assert(cnt == recount)

    // trade_triangles: each triangle contributes exactly 3 nation slots
    val tri = OlapOps.tradeTriangles(spark, dir)
      .as[(String, Long)].collect()
    assert(tri.nonEmpty)
    assert(tri.map(_._2).sum % 3 == 0)
    assert(tri.forall(_._2 > 0))
  }
}
