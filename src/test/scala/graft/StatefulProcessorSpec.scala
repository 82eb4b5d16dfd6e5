package graft

import java.nio.file.Files
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** transformWithState (Spark 4 StatefulProcessor + RocksDB state store)
  * parity with the flatMapGroupsWithState processor, and checkpointed
  * exactly-once recovery of the KPI sink (T11).
  */
class StatefulProcessorSpec extends SparkSpec {

  // transformWithState needs RocksDB; scoped per test so the shared
  // session's later suites keep the default provider
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    Posture.withConf(spark, Posture.rocksDb)(super.withFixture(test))

  test("transformWithState produces the same alerts as flatMapGroupsWithState") {
    val session = spark
    import session.implicits._

    val events = Tables
      .events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))

    val input = MemoryStream[Event](spark, 2)
    val alerts = TypedStatefulProcessors.anomalyListStream(spark, input.toDS())
    val q = alerts.writeStream
      .format("memory")
      .queryName("tws_alerts")
      .outputMode(OutputMode.Update)
      .start()
    try {
      events.grouped(400).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    val tws = spark.table("tws_alerts").as[AnomalyAlert].collect()
      .map(a => (a.event_id, a.z_score, a.mad_score, a.severity)).toSet

    val fmgws = graft.operators.AnomalyOps
      .anomalyScore(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "z_score", "mad_score", "severity")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      .toSet

    assert(tws == fmgws)
  }

  /** Runs `events` through `stream` in 3 micro-batches, returning the
    * memory-sink table rows.
    */
  private def runStream[I: org.apache.spark.sql.Encoder, O](
      name: String,
      events: Seq[I],
      stream: MemoryStream[I] => org.apache.spark.sql.Dataset[O]): org.apache.spark.sql.DataFrame = {
    val input = MemoryStream[I](spark, 2)
    val q = stream(input).writeStream
      .format("memory")
      .queryName(name)
      .outputMode(OutputMode.Update)
      .start()
    try {
      events.grouped(math.max(1, events.size / 3 + 1)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  private def sortedEvents(): Array[Event] = {
    val session = spark
    import session.implicits._
    Tables
      .events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
  }

  test("user snapshot stream converges to the batch incr_agg_merge view") {
    val session = spark
    import session.implicits._

    val events = Tables
      .events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))

    val input = MemoryStream[Event](spark, 3)
    val snaps = TypedStatefulProcessors.userSnapshotStream(spark, input.toDS())
    val q = snaps.toDF().writeStream
      .format("memory")
      .queryName("tws_user_snaps")
      .outputMode(OutputMode.Update)
      .start()
    try {
      events.grouped(300).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    // final snapshot per user = the row with the highest event count
    val streamed = spark.table("tws_user_snaps").as[UserSnapshot].collect()
      .groupBy(_.user_id)
      .map { case (_, v) => v.maxBy(_.n_events) }
      .map(s => (s.user_id, s.n_events, s.sum_micros, s.last_ts_micros))
      .toSet

    val batch = graft.operators.TemporalOps
      .incrAggMerge(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "n_events", "sum_micros", "unix_micros(last_ts)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    assert(streamed == batch)
  }

  test("streaming funnel depths aggregate to the batch window_funnel histogram") {
    val session = spark
    import session.implicits._

    val dir = "/root/testdata/sf0.001"
    val events = Tables
      .events(spark, dir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))

    val input = MemoryStream[Event](spark, 4)
    val q = TypedStatefulProcessors
      .funnelStream(spark, input.toDS())
      .toDF()
      .writeStream
      .format("memory")
      .queryName("tws_funnel")
      .outputMode(OutputMode.Update)
      .start()
    try {
      events.grouped(250).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    // depth is monotone per user, so the final depth is the max emitted
    val streamed = spark.table("tws_funnel").as[FunnelProgress].collect()
      .groupBy(_.user_id)
      .map { case (u, v) => u -> v.map(_.depth).max }
    val allUsers = events.map(_.user_id).distinct.length
    val hist = streamed.values
      .groupBy(identity).map { case (d, v) => d -> v.size.toLong }
    val histWithZero =
      if (allUsers > streamed.size)
        hist + (0 -> (hist.getOrElse(0, 0L) + (allUsers - streamed.size)))
      else hist

    val batch = graft.operators.FunnelOps.windowFunnel(spark, dir).collect()
      .map(r => r.getAs[Int]("depth") -> r.getAs[Long]("n_users")).toMap

    assert(histWithZero == batch)
  }

  test("ListState-buffered detector emits exactly the anomalyStream detector's alerts") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()

    def alerts(df: org.apache.spark.sql.DataFrame): Set[AnomalyAlert] =
      df.as[AnomalyAlert].collect().toSet

    val list = alerts(runStream[Event, AnomalyAlert](
      "ls_alerts", events.toSeq,
      in => TypedStatefulProcessors.anomalyListStream(spark, in.toDS())))
    val grouped = alerts(runStream[Event, AnomalyAlert](
      "fmgws_alerts", events.toSeq,
      in => EventPipeline.anomalyStream(spark, in.toDF())))

    assert(list.nonEmpty)
    assert(list == grouped)
  }

  test("fused detector+cooldown stage matches the two-stage composition") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()

    // the fused single-stage processor through an actual 3-batch stream
    val fused = runStream[Event, CooldownProcessor.FiredAlert](
      "fused_alerts", events.toSeq,
      in => EventPipeline.fusedAlertStream(spark, in.toDF()))
      .as[CooldownProcessor.FiredAlert]
      .collect()
      .map(f => (f.event_id, f.event_type, f.severity))
      .toSet

    // reference: the two stages as pure folds over the same per-key
    // arrival order (detector scoring, then the chained cooldown gate)
    val alerts = events.toSeq
      .filter(_.value > 0)
      .groupBy(_.event_type)
      .values.toSeq
      .flatMap { es =>
        val window = new graft.functions.RollingWindow(AnomalyProcessor.Window)
        es.sortBy(e => (EventTime.micros(e.ts), e.event_id)).flatMap { e =>
          window.add(e.value)
          if (window.size >= AnomalyProcessor.MinSamples)
            Some(AnomalyProcessor.score(e, window))
          else None
        }
      }
      .filter(_.is_anomaly)
    val fired = alerts
      .groupBy(a => (a.event_type, a.severity))
      .values.toSeq
      .flatMap(as => CooldownProcessor.advance(None, as.iterator)._2)
      .map(f => (f.event_id, f.event_type, f.severity))
      .toSet

    assert(fused.nonEmpty)
    assert(fused == fired)
  }

  test("EWMA drops events whose minute bucket already closed") {
    val session = spark
    import session.implicits._
    def ev(id: Long, t: String, v: Double): Event =
      Event(id, java.sql.Timestamp.valueOf(t), 1L, "web", v)

    // batch 1 closes minute 00 and opens minute 01; batch 2's late event
    // (minute 00) must not perturb the level or the in-progress bucket
    val b1 = Seq(ev(1, "2024-01-01 00:00:10", 10.0),
                 ev(2, "2024-01-01 00:01:10", 20.0))
    val b2late = Seq(ev(3, "2024-01-01 00:00:30", 999.0))

    def lastLevel(name: String, batches: Seq[Seq[Event]]): EwmaProcessor.EwmaLevel = {
      val input = MemoryStream[Event](spark, 2)
      val q = EventPipeline.ewmaStream(spark, input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[EwmaProcessor.EwmaLevel].collect().last
    }

    val withLate = lastLevel("ewma_late", Seq(b1, b2late))
    val withoutLate = lastLevel("ewma_nolate", Seq(b1))
    assert(withLate == withoutLate)
  }

  test("timer-based sessionization matches the batch session_window exactly") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()
    val maxTs = events.map(_.ts.getTime).max

    val input = MemoryStream[Event](spark, 2)
    val q = SessionStatefulProcessor.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("tws_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      events.grouped(400).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      // flush: advance the watermark past every live session's close
      // instant so the remaining timers fire
      input.addData(Event(-1L, new java.sql.Timestamp(maxTs + 7200000L), -1L, "web", 1.0))
      q.processAllAvailable()
    } finally q.stop()

    def key(uid: Long, st: java.sql.Timestamp, en: java.sql.Timestamp, n: Long) =
      (uid, st.getTime, en.getTime, n)

    val streamed = spark.table("tws_sessions").as[SessionClosed].collect()
      .filter(_.user_id != -1L)
      .map(s => key(s.user_id, s.session_start, s.session_end, s.n_events) -> s.sum_value)
      .toMap
    val batch = graft.operators.TemporalOps.sessionize(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => key(r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)) ->
        r.getDouble(4))
      .toMap

    assert(streamed.keySet == batch.keySet)
    assert(streamed.keySet.nonEmpty)
    // sums agree to float tolerance (addition order differs batch vs stream)
    streamed.foreach { case (k, v) => assert(math.abs(v - batch(k)) < 1e-6) }
  }

  test("session timers fire on watermark, not on data arrival") {
    val session = spark
    import session.implicits._
    def ev(id: Long, uid: Long, t: String): Event =
      Event(id, java.sql.Timestamp.valueOf(t), uid, "web", 1.0)

    val input = MemoryStream[Event](spark, 2)
    val q = SessionStatefulProcessor.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("tws_timerfire")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1's session is gap-complete at 00:00 + 30min, but the
      // watermark has not reached it → nothing emitted
      input.addData(ev(1, 1L, "2024-01-01 00:00:00"))
      q.processAllAvailable()
      assert(spark.table("tws_timerfire").count() == 0)
      // another USER's event advances the global watermark past the
      // close instant → user 1's timer fires without user 1 sending data
      input.addData(ev(2, 2L, "2024-01-01 01:00:00"))
      q.processAllAvailable()
      val closed = spark.table("tws_timerfire").as[SessionClosed].collect()
      assert(closed.map(_.user_id).toSeq == Seq(1L))
      assert(closed.head.session_end.getTime -
        closed.head.session_start.getTime == 30 * 60 * 1000L)
    } finally q.stop()
  }

  test("session start extends backwards for in-slack out-of-order events") {
    val session = spark
    import session.implicits._
    def ev(id: Long, uid: Long, t: String): Event =
      Event(id, java.sql.Timestamp.valueOf(t), uid, "web", 1.0)

    val input = MemoryStream[Event](spark, 2)
    val q = SessionStatefulProcessor.sessionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("tws_ooo")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: watermark advances to 09:59:50
      input.addData(ev(1, 1L, "2024-01-01 10:00:00"))
      q.processAllAvailable()
      // batch 2: 09:59:55 is within the 10 s slack — delivered, and it
      // PRECEDES the stored session start (session_window would extend
      // the window backwards, so the processor must too)
      input.addData(ev(2, 1L, "2024-01-01 09:59:55"))
      q.processAllAvailable()
      // flush: another user far in the future fires user 1's timer
      input.addData(ev(3, 2L, "2024-01-01 12:00:00"))
      q.processAllAvailable()
    } finally q.stop()

    val s = spark.table("tws_ooo").as[SessionClosed].collect()
      .filter(_.user_id == 1L)
    assert(s.length == 1)
    assert(s.head.session_start == java.sql.Timestamp.valueOf("2024-01-01 09:59:55"))
    assert(s.head.n_events == 2L)
  }

  test("warm-started snapshot stream equals the cold full-history run") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()
    val cutIdx = events.length * 3 / 5
    val (hist, live) = (events.take(cutIdx), events.drop(cutIdx))
    assert(hist.nonEmpty && live.nonEmpty)
    // batch bootstrap: the snapshot table a cutover would seed from,
    // built with the SAME shared fold the processors use
    val initial = hist.groupBy(_.user_id).map { case (u, es) =>
      UserSnapshotFold.fold(u, UserSnapshotFold.empty(u), es.iterator)
    }.toSeq
    def finals(rows: Array[UserSnapshot]): Map[Long, UserSnapshot] =
      rows.groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
    // warm run: seeded store + only the delta
    val warm = finals(runStream[Event, UserSnapshot](
      "tws_warm_snaps", live.toSeq,
      in => TypedStatefulProcessors.userSnapshotWarmStream(
        spark, in.toDS(), initial.toDS()))
      .as[UserSnapshot].collect())
    // cold run: the whole history as a stream
    val cold = finals(runStream[Event, UserSnapshot](
      "tws_cold_snaps", events.toSeq,
      in => TypedStatefulProcessors.userSnapshotStream(spark, in.toDS()))
      .as[UserSnapshot].collect())
    // every user with delta events must match the full-history state
    val liveUsers = live.map(_.user_id).toSet
    liveUsers.foreach { u =>
      assert(warm.get(u) == cold.get(u), s"user $u: ${warm.get(u)} vs ${cold.get(u)}")
    }
    // and the seed genuinely mattered: some live user carries history
    val histUsers = hist.map(_.user_id).toSet
    assert(liveUsers.exists(histUsers.contains))
    val carried = liveUsers.filter(histUsers.contains).head
    assert(warm(carried).n_events >
      live.count(_.user_id == carried).toLong)
  }

  test("streaming drift monitor converges to the batch drift_tv rows") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()
    val streamed = runStream[Event, DriftSnapshot](
      "tws_drift", events.toSeq,
      in => TypedStatefulProcessors.driftStream(spark, in.toDS()))
      .as[DriftSnapshot].collect()
      // update mode re-emits per batch; the final (max-count) row per
      // type is the converged histogram
      .groupBy(_.event_type)
      .map { case (_, v) => v.maxBy(s => s.n_first + s.n_second) }
      .map(s => (s.event_type, s.n_first, s.n_second, s.tv_num,
                 s.tv_distance, s.drifted))
      .toSet
    val batch = graft.operators.SeriesOps
      .driftTv(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Option[Double], Boolean)]
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming ingest dedup keeps exactly the batch first-occurrences") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()
    // inject replays: every 7th event is re-delivered two batches later
    // with a LATER ts (an at-least-once redelivery, not a new event)
    val replays = events.zipWithIndex.collect { case (e, i) if i % 7 == 0 =>
      e.copy(ts = new java.sql.Timestamp(e.ts.getTime + 123456L))
    }
    val feed = (events ++ replays).toSeq

    val streamed = runStream[Event, Event](
      "tws_dedup", feed,
      in => TypedStatefulProcessors.dedupStream(spark, in.toDS()))
      .as[Event].collect()

    // first occurrence per event_id == the original events (replays all
    // carry later timestamps), and nothing is emitted twice
    assert(streamed.length == events.length)
    assert(streamed.map(e => e.event_id -> e.ts).toMap ==
      events.map(e => e.event_id -> e.ts).toMap)
  }

  test("drains terminate under a session TTL (scoped off inside)") {
    // a TTL forces processing-time mode where transformWithState always
    // requests another batch — AvailableNow would hang; the drain
    // wrapper must scope graft.state.ttl OFF (and restore it after)
    Posture.withConf(spark, StateTtl.Key -> Some("60000")) {
      val out = StreamDrain
        .streamSnapshotDrain(spark, "/root/testdata/sf0.001")
        .collect()
      assert(out.length > 0)
      assert(spark.conf.get(StateTtl.Key) == "60000")
    }
  }

  test("online LSH buckets: exact-once pair discovery, megabucket poisoned") {
    val session = spark
    import session.implicits._
    import graft.operators.DedupOps.MaxBucket
    // one hot bucket fed MaxBucket+5 docs across batches plus one small
    // 3-doc bucket: the small bucket must emit all C(3,2) pairs exactly
    // once; the hot bucket admits members only up to the cap (state
    // bounded), so its pair count is exactly C(MaxBucket, 2) no matter
    // how the batches split
    val hot = (1 to MaxBucket + 5).map(i => BandKeyRow(i.toLong, 0, "hot"))
    val small = Seq(1001L, 1002L, 1003L).map(d => BandKeyRow(d, 1, "small"))
    val out = runStream[BandKeyRow, LshCandidate](
      "tws_lsh", hot ++ small,
      in => TypedStatefulProcessors.lshCandidateStream(spark, in.toDS()))
      .as[LshCandidate].collect()

    val smallPairs = out.filter(_.band_hash == "small")
    assert(smallPairs.map(p => (p.doc1, p.doc2)).toSet ==
      Set((1001L, 1002L), (1001L, 1003L), (1002L, 1003L)))
    assert(smallPairs.length == 3)

    val hotPairs = out.filter(_.band_hash == "hot")
    assert(hotPairs.length == MaxBucket * (MaxBucket - 1) / 2)
    assert(hotPairs.map(p => (p.doc1, p.doc2)).distinct.length ==
      hotPairs.length)
    // exactly MaxBucket distinct members ever participate — the bucket
    // never grew past the cap
    assert(hotPairs.flatMap(p => Seq(p.doc1, p.doc2)).distinct.length ==
      MaxBucket)
  }

  test("built-in dropDuplicatesWithinWatermark agrees with the custom dedup") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()
    val replays = events.zipWithIndex.collect { case (e, i) if i % 7 == 0 =>
      e.copy(ts = new java.sql.Timestamp(e.ts.getTime + 1234L))
    }
    val feed = (events ++ replays).toSeq
    // Spark's own bounded-window dedup (the API twin of the TTL'd
    // DedupStatefulProcessor: both re-admit a replay once the id has
    // aged out — here every replay is in-window, so none survive)
    val builtin = runStream[Event, Event](
      "builtin_dedup", feed,
      in => in.toDS()
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"))
      .as[Event].collect()
    assert(builtin.length == events.length)
    // identical id set to the custom processor's output; the kept ROW
    // may differ (built-in keeps the batch-arbitrary first-seen, the
    // custom processor pins the deterministic min) — which is exactly
    // why the custom one exists for the oracle-checked path
    val custom = runStream[Event, Event](
      "custom_dedup_cmp", feed,
      in => TypedStatefulProcessors.dedupStream(spark, in.toDS()))
      .as[Event].collect()
    assert(builtin.map(_.event_id).sorted.toSeq ==
      custom.map(_.event_id).sorted.toSeq)
  }

  test("streaming corpus dedup: one survivor per content hash, min doc_id wins") {
    val session = spark
    import session.implicits._
    // runStream splits 5 rows into micro-batches [10,3], [7,20], [9]:
    // ids 10 and 3 share a hash INSIDE one batch (min wins), 20 replays
    // that hash two batches later (state wins), 7 and 9 are unique
    val docs = Seq(
      IngestDoc(10L, "h_a", "s1"),
      IngestDoc(3L, "h_a", "s1"),
      IngestDoc(7L, "h_b", "s2"),
      IngestDoc(20L, "h_a", "s3"),
      IngestDoc(9L, "h_c", "s1"))
    val streamed = runStream[IngestDoc, IngestDoc](
      "tws_doc_dedup", docs,
      in => TypedStatefulProcessors.docDedupStream(spark, in.toDS()))
      .as[IngestDoc].collect()
    assert(streamed.length == 3)
    assert(streamed.map(d => d.content_hash -> d.doc_id).toMap ==
      Map("h_a" -> 3L, "h_b" -> 7L, "h_c" -> 9L))
  }

  test("graft.state.ttl evicts idle per-user snapshot state") {
    val session = spark
    import session.implicits._
    def ev(id: Long, uid: Long, t: Long, tp: String): Event =
      Event(id, new java.sql.Timestamp(t), uid, tp, 1.0)

    // same two-batch feed, with and without a TTL between the batches:
    // user 1's second snapshot counts both events ONLY if the stored
    // UserSnapshot survived the idle wall-clock gap. A processing-time-TTL
    // query schedules continuous no-data batches for eviction, so
    // processAllAvailable / AvailableNow never settle (the production
    // posture is a ProcessingTime trigger interval); instead batch 2
    // carries a SENTINEL user 2 — a key with input always emits one
    // snapshot row regardless of TTL — and the test polls the sink for
    // it, which proves batch 2 is fully processed, then stops the query
    // and inspects user 1's rows.
    def user1Events(name: String, ttlMs: Option[Long]): Long = {
      Posture.withConf(spark, StateTtl.Key -> ttlMs.map(_.toString)) {
        val input = MemoryStream[Event](spark, 2)
        val q = TypedStatefulProcessors.userSnapshotStream(spark, input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update).start()
        try {
          input.addData(ev(1, 1L, 1704067200000L, "click"))
          // wait for batch 1 (user 1's snapshot stored), not by drain
          val t0 = System.nanoTime()
          while (q.recentProgress.map(_.numInputRows).sum < 1 &&
                 System.nanoTime() - t0 < 60e9.toLong) Thread.sleep(50)
          Thread.sleep(1500) // > the 400 ms TTL, a no-op without one
          input.addData(Seq(ev(2, 1L, 1704067260000L, "view"),
                            ev(3, 2L, 1704067260000L, "click"),
                            ev(4, 2L, 1704067261000L, "view")))
          val t1 = System.nanoTime()
          while (spark.table(name).filter(col("user_id") === 2L).isEmpty &&
                 System.nanoTime() - t1 < 60e9.toLong) Thread.sleep(100)
        } finally q.stop()
        assert(spark.table(name).filter(col("user_id") === 2L).count() == 1L)
        spark.table(name).filter(col("user_id") === 1L)
          .as[UserSnapshot].collect().map(_.n_events).max
      }
    }

    assert(user1Events("ttl_none", None) == 2L) // parity default: state kept
    assert(user1Events("ttl_on", Some(400L)) == 1L) // state expired: restarts
    // validation mirrors the other knobs
    Posture.withConf(spark, StateTtl.Key -> Some("junk"))(
      intercept[IllegalArgumentException](StateTtl.of(spark)))
  }

  test("cooldown timers clear state once the watermark passes the gate") {
    val session = spark
    import session.implicits._
    def al(id: Long, src: String, t: String): AnomalyAlert =
      AnomalyAlert(id, src, java.sql.Timestamp.valueOf(t),
                   200.0, 50, 50, 5, 50, 3, 5.0, 5.0,
                   is_anomaly = true, "critical", "z-score")

    val ckpt = Files.createTempDirectory("cdexpiry").toString
    val input = MemoryStream[AnomalyAlert](spark, 2)
    val q = TypedStatefulProcessors.cooldownStreamWithExpiry(spark, input.toDS())
      .writeStream.format("memory").queryName("cd_expiry")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(al(1, "web", "2024-01-01 10:00:00")) // fires, arms 10:05
      q.processAllAvailable()
      input.addData(al(2, "web", "2024-01-01 10:02:00")) // in cooldown: suppressed
      q.processAllAvailable()
      input.addData(al(3, "api", "2024-01-01 11:00:00")) // fires; advances watermark
      q.processAllAvailable()
      // the watermark from batch 3 (10:59:50) exceeds web's 10:05 gate;
      // this batch processes the expired timer and clears web's state
      input.addData(al(4, "api", "2024-01-01 11:00:01")) // in cooldown: suppressed
      q.processAllAvailable()
    } finally q.stop()

    // output parity with the non-expiry gate on the same feed
    val fired = spark.table("cd_expiry").as[CooldownProcessor.FiredAlert]
      .collect().map(_.event_id).toSet
    assert(fired == Set(1L, 3L))

    // the state store itself shows the eviction: web's lastFired is gone,
    // api's (still inside its own cooldown window) remains
    val state = spark.read.format("statestore")
      .option("stateVarName", "lastFired")
      .load(ckpt)
    assert(state.count() == 1L)
  }

  test("KPI sink recovers from checkpoint without duplicating batches") {
    val session = spark
    import session.implicits._
    def ev(id: Long, t: String, v: Double): Event =
      Event(id, java.sql.Timestamp.valueOf(t), 1L, "web", v)

    val out = Files.createTempDirectory("kpiout").toString
    val ckpt = Files.createTempDirectory("kpickpt").toString
    val input = MemoryStream[Event](spark, 2)
    val kpi = EventPipeline.slidingKpi(input.toDF())

    def start() =
      kpi.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("append").parquet(s"$out/batch_$id")
          ()
        }
        .start()

    val q1 = start()
    input.addData(ev(1, "2024-01-01 00:00:05", 10.0))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint; feed one more event
    val q2 = start()
    input.addData(ev(2, "2024-01-01 00:00:15", 20.0))
    q2.processAllAvailable()
    q2.stop()

    val batches = new java.io.File(out).listFiles().map(_.getName).sorted
    // batch ids continue (no re-run of batch 0) and data is complete
    assert(batches.head == "batch_0")
    val all = spark.read.parquet(s"$out/batch_*").selectExpr("sum(n_events)")
      .head().getLong(0)
    // event1 appears in 6 panes from batch0; batch1 re-emits updated panes
    assert(all >= 6)
    assert(batches.length >= 2)
  }

  test("streaming per-day HLL equals hll_sketch_agg bit-for-bit after 3 batches") {
    val session = spark
    import session.implicits._
    val events = sortedEvents()

    val updates = runStream[Event, DayUsers](
      "hll_days", events.toSeq,
      in => TypedStatefulProcessors.hllDayStream(spark, in.toDS()))
      .as[DayUsers].collect()
    // final state per day = the row with the highest cumulative count
    val streamed = updates.groupBy(_.epoch_day).map { case (d, rows) =>
      d -> rows.maxBy(_.n_seen).est_users
    }

    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("CAST(ts AS LONG) DIV 86400 AS epoch_day", "user_id")
      .groupBy("epoch_day")
      .agg(org.apache.spark.sql.functions
        .expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(streamed.keySet == batch.keySet)
    // same DataSketches type + lgK + update(long) → identical registers →
    // identical estimates (hll_sketch_estimate rounds its double to long)
    streamed.foreach { case (d, est) =>
      assert(Math.round(est) == batch(d), s"day $d")
    }
    // cumulative counts cover every event exactly once
    assert(updates.groupBy(_.epoch_day).values
      .map(_.maxBy(_.n_seen).n_seen).sum == events.length)
  }

  test("streaming top-tokens equals the batch Misra–Gries summary after 3 batches") {
    val session = spark
    import session.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("lang",
        "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS tokens")
      .as[DocTokens].collect().sortBy(_.lang)

    val updates = runStream[DocTokens, LangTokenEst](
      "top_tokens", docs.toSeq,
      in => TypedStatefulProcessors.topTokensStream(spark, in.toDS()))
      .as[LangTokenEst].collect()
    // final emission per lang = rows with the highest estimate total
    // (estimates only grow across batches at exact k)
    val streamed = updates.groupBy(_.lang).map { case (l, rows) =>
      val best = rows.groupBy(_.token).map { case (_, v) => v.maxBy(_.est) }
      l -> best.toSeq.sortBy(e => (-e.est, e.token)).take(10)
        .map(e => (e.token, e.est, e.maxerr))
    }

    // batch truth: exact per-(lang, token) counts — k=64 > vocab, so the
    // sketch never compresses and est = exact, maxerr = 0
    val batch = docs.groupBy(_.lang).map { case (l, ds) =>
      val counts = ds.flatMap(_.tokens).groupBy(identity)
        .map { case (t, o) => (t, o.length.toLong, 0L) }
      l -> counts.toSeq.sortBy(e => (-e._2, e._1)).take(10)
    }
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (l, top) => assert(top == batch(l), s"lang $l") }
  }
}
