package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** End-to-end runnable of the full reference pipeline (SURVEY §3.1-3.2)
  * as one Structured Streaming job graph:
  *
  *   events (file source ≙ Kafka `events.v1`)
  *     ├─ watermark → sliding 1m/10s KPI agg → kafka-envelope → hot store
  *     └─ keyed rolling-stats anomaly detection → alerts
  *          └─ cooldown gate → fired notifications (cold store)
  *
  * Runs with `Trigger.AvailableNow` so it drains the input and stops —
  * the batch-verifiable form of the always-on job; swap the trigger for
  * `ProcessingTime("30 seconds")` and the source for Kafka options and
  * this is the production deployment, unchanged.
  *
  * Usage: `runMain graft.streaming.StreamJob [sfDir] [outDir]`
  */
object StreamJob {

  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] =
    // the transformWithState session store requires RocksDB; queries
    // capture this at start, so scoping it here covers every caller
    graft.Posture.withConf(spark, graft.Posture.rocksDb) {
      runImpl(spark, sfDir, outDir)
    }

  private def runImpl(spark: SparkSession, sfDir: String,
                      outDir: String): Map[String, Long] = {
    // stage the events table as the streaming input dir (drops props,
    // normalizes ts via Tables.events)
    val stageDir = s"$outDir/staged_events"
    graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(stageDir)

    val events = spark.readStream
      .schema(EventPipeline.eventSchema)
      .parquet(stageDir)

    val kpiQuery = EventPipeline
      .toKafkaEnvelope(EventPipeline.slidingKpi(events))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_kpi")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/hot_aggregates"))
      .start()

    val alerts = EventPipeline.anomalyStream(spark, events)
    val alertQuery = alerts
      .filter(col("is_anomaly"))
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_alerts")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/alerts"))
      .start()

    // session store: gap sessions close as the watermark passes (append
    // mode), giving the cold store exactly-once final session rows
    val sessionQuery = EventPipeline
      .sessionStream(events)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/ckpt_sessions")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/sessions"))
      .start()

    // smoothed-KPI store: EWMA levels per key over closed minute buckets
    val ewmaQuery = EventPipeline
      .ewmaStream(spark, events)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_ewma")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/ewma_levels"))
      .start()

    // timer-closed sessions (transformWithState + event-time timers) —
    // the same gap semantics as the session_window store above, closed
    // explicitly by watermark timers; both stores should agree
    val typed = EventPipeline.typedEvents(events)
    val timerSessionQuery = SessionStatefulProcessor
      .sessionStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/ckpt_sessions_timer")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/sessions_timer"))
      .start()

    // live drift dashboard: per-type TV distance vs the reference
    // window, folded online in MapState (streaming twin of batch
    // drift_tv — parity spec'd in StatefulProcessorSpec)
    val driftQuery = TypedStatefulProcessors
      .driftStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_drift")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/drift_snapshots"))
      .start()

    // streaming CUSUM change-point counts: baselines learned offline
    // from the same dataset (the standard deployment split), the
    // two-sided fold online per type — final counts equal the batch
    // cusum_changepoints (parity spec'd in StreamingParitySpec)
    val cusumQuery = EventPipeline
      .cusumStream(spark, events,
                   graft.operators.SeriesOps.cusumBaselines(spark, sfDir))
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_cusum")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/cusum_counts"))
      .start()

    val transQuery = EventPipeline
      .transitionStream(spark, events)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_trans")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/transitions"))
      .start()

    // ingest dedup: first occurrence per event_id to the deduped cold
    // store — idempotent ingestion for an at-least-once transport
    // (the fixture has no replays, so the count equals events; the
    // replay path is spec-exercised in StatefulProcessorSpec)
    val dedupQuery = TypedStatefulProcessors
      .dedupStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_dedup")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/deduped_events"))
      .start()

    // live distinct-users dashboard: per-day HLL sketches folded online
    // (streaming twin of the batch hll_by_day rollup; register-identical
    // to hll_sketch_agg — parity spec'd in StatefulProcessorSpec)
    val hllQuery = TypedStatefulProcessors
      .hllDayStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_hll")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/hll_days"))
      .start()

    // per-user snapshot store: streaming incremental view maintenance
    // (the transformWithState twin of the batch incr_agg_merge — parity
    // spec'd in StatefulProcessorSpec); the store's latest row per user
    // IS the materialized view
    val snapQuery = TypedStatefulProcessors
      .userSnapshotStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_usersnap")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/user_snapshots"))
      .start()

    // live funnel dashboard: per-user windowed-funnel progress (the
    // transformWithState twin of batch window_funnel — histogram parity
    // spec'd in StatefulProcessorSpec)
    val funnelQuery = TypedStatefulProcessors
      .funnelStream(spark, typed)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_funnel")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/funnel_progress"))
      .start()

    // corpus-ingest dedup: the documents table replayed as a stream
    // (≙ a crawler/mirror feed), online exact dedup by content hash —
    // the count equals the batch dedup_exact distinct-hash count
    // (first-occurrence semantics spec'd in StatefulProcessorSpec)
    val session0 = spark
    import session0.implicits._
    val stageDocs = s"$outDir/staged_docs"
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
                .as("content_hash"),
              col("source"), col("lang"),
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
                .as("tokens"))
      .write.mode("overwrite").parquet(stageDocs)
    val docsIn = spark.readStream
      .schema(spark.read.parquet(stageDocs).schema)
      .parquet(stageDocs)
      .as[IngestDoc]
    val docDedupQuery = TypedStatefulProcessors
      .docDedupStream(spark, docsIn)
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_doc_dedup")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/deduped_docs"))
      .start()

    // live corpus-composition dashboard: per-language Misra–Gries top
    // tokens folded online (streaming twin of batch approx_top_tokens;
    // exact at k=64 > corpus vocab — parity spec'd in
    // StatefulProcessorSpec)
    val topTokQuery = TypedStatefulProcessors
      .topTokensStream(spark, spark.readStream
        .schema(spark.read.parquet(stageDocs).schema)
        .parquet(stageDocs)
        .select(col("lang"), col("tokens"))
        .as[DocTokens])
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_toptok")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/top_tokens"))
      .start()

    kpiQuery.awaitTermination()
    driftQuery.awaitTermination()
    cusumQuery.awaitTermination()
    alertQuery.awaitTermination()
    sessionQuery.awaitTermination()
    timerSessionQuery.awaitTermination()
    ewmaQuery.awaitTermination()
    transQuery.awaitTermination()
    dedupQuery.awaitTermination()
    hllQuery.awaitTermination()
    snapQuery.awaitTermination()
    funnelQuery.awaitTermination()
    docDedupQuery.awaitTermination()
    topTokQuery.awaitTermination()

    // Second job, exactly the reference topology: the alert service
    // consumes the anomaly job's output topic (`alerts.v1` ≙ the alerts
    // store written above) in its own streaming query — Spark also
    // requires stateful stages in update mode to live in separate
    // queries, so the two-job split is structural, not incidental.
    val alertsIn = spark.readStream
      .schema(spark.read.parquet(s"$outDir/alerts").schema)
      .parquet(s"$outDir/alerts")
      .as[AnomalyAlert]
    val fired = EventPipeline.cooldownStream(spark, alertsIn)
    val firedQuery = fired
      .toDF()
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$outDir/ckpt_fired")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/fired_alerts"))
      .start()
    firedQuery.awaitTermination()

    // notification routing: fired alerts × broadcast rules (P8) — the
    // reference alert service's channel dispatch as a stream–static
    // broadcast join over the fired-alert store (store-then-consume,
    // like every other stage boundary here)
    val firedIn = spark.readStream
      .schema(spark.read.parquet(s"$outDir/fired_alerts").schema)
      .parquet(s"$outDir/fired_alerts")
      .as[CooldownProcessor.FiredAlert]
    val routedQuery = EventPipeline
      .routedAlerts(spark, firedIn)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/ckpt_routed")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(s"$outDir/routed"))
      .start()
    routedQuery.awaitTermination()

    // TTL'd drain: the same ingest-dedup stage re-run under a small
    // `graft.state.ttl`, proving end-to-end that the knob bounds the
    // store — pass 1 admits every event, the TTL passes, and a replay
    // pass finds its state EVICTED (numRowsRemoved > 0 in the state
    // operator's progress) so every replay is re-admitted: exactly the
    // bounded dedup-window trade the DedupStatefulProcessor scaladoc
    // promises. The main drains above keep the reference-parity default
    // (no TTL), so their counts are unchanged by this pass.
    val (ttlEvicted, ttlReadmitted) = ttlDrain(spark, stageDir, outDir)

    Map(
      "ttl_evicted" -> ttlEvicted,
      "ttl_readmitted" -> ttlReadmitted,
      "hot_aggregates" -> spark.read.parquet(s"$outDir/hot_aggregates").count(),
      "alerts" -> spark.read.parquet(s"$outDir/alerts").count(),
      "fired_alerts" -> spark.read.parquet(s"$outDir/fired_alerts").count(),
      "sessions" -> (try spark.read.parquet(s"$outDir/sessions").count()
                     catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "routed" -> (try spark.read.parquet(s"$outDir/routed").count()
                   catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "sessions_timer" -> (try spark.read.parquet(s"$outDir/sessions_timer").count()
                           catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "ewma_levels" -> (try spark.read.parquet(s"$outDir/ewma_levels").count()
                        catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "transitions" -> (try spark.read.parquet(s"$outDir/transitions").count()
                        catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "deduped_events" -> (try spark.read.parquet(s"$outDir/deduped_events").count()
                           catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "deduped_docs" -> (try spark.read.parquet(s"$outDir/deduped_docs").count()
                         catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "funnel_users" -> (try spark.read.parquet(s"$outDir/funnel_progress")
                             .select("user_id").distinct().count()
                         catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "user_snapshots" -> (try spark.read.parquet(s"$outDir/user_snapshots")
                             .select("user_id").distinct().count()
                           catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "hll_days" -> (try spark.read.parquet(s"$outDir/hll_days")
                       .select("epoch_day").distinct().count()
                     catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "drift_types" -> (try spark.read.parquet(s"$outDir/drift_snapshots")
                          .select("event_type").distinct().count()
                        catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "cusum_types" -> (try spark.read.parquet(s"$outDir/cusum_counts")
                          .select("event_type").distinct().count()
                        catch { case _: org.apache.spark.sql.AnalysisException => 0L }),
      "top_token_langs" -> (try spark.read.parquet(s"$outDir/top_tokens")
                              .select("lang").distinct().count()
                            catch { case _: org.apache.spark.sql.AnalysisException => 0L })
    )
  }

  /** Millisecond TTL and post-expiry slack for the TTL'd drain — small
    * enough to keep the job quick, large enough that pass 1 (a single
    * AvailableNow batch over the staged fixture) finishes inside it.
    */
  private val TtlMillis = 4000L

  /** Two AvailableNow drains of the ingest-dedup stage through ONE
    * checkpoint under `graft.state.ttl`: pass 1 over the staged events,
    * a sleep past the TTL, then a replay of the same events appended as
    * new files. Returns (state rows evicted by TTL as reported by the
    * state operator's `numRowsRemoved`, replays re-admitted because
    * their dedup state had expired).
    */
  private def ttlDrain(spark: SparkSession, stageDir: String,
                       outDir: String): (Long, Long) = {
    val ttlDir = s"$outDir/staged_events_ttl"
    spark.read.parquet(stageDir).write.mode("overwrite").parquet(ttlDir)
    graft.Posture.withConf(spark, StateTtl.Key -> Some(TtlMillis.toString)) {
      // NOT AvailableNow, and NOT processAllAvailable(): the TTL forces
      // TimeMode.ProcessingTime, under which the transformWithState
      // operator answers shouldRunAnotherBatch=true on every batch (it
      // may always have state to expire) — so AvailableNow's end
      // condition never fires and processAllAvailable's noNewData flag
      // is never signaled; both block forever while no-data batches
      // churn. The bounded form: default trigger, poll the sink until
      // the expected rows have committed (and, for the replay pass, the
      // TTL sweep has reported evictions), then stop. The poll deadline
      // is a safety net — the asserting spec fails on a zero count, so
      // a hang converts to a visible assertion, not a stuck build.
      def outputCount(): Long =
        try spark.read.parquet(s"$outDir/deduped_events_ttl").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      def drain(expectTotal: Long, awaitEviction: Boolean): Long = {
        val q = TypedStatefulProcessors
          .dedupStream(spark, EventPipeline.typedEvents(spark.readStream
            .schema(EventPipeline.eventSchema)
            .parquet(ttlDir)))
          .toDF()
          .writeStream
          .outputMode(OutputMode.Update)
          .option("checkpointLocation", s"$outDir/ckpt_dedup_ttl")
          .foreachBatch { (b: DataFrame, id: Long) =>
            // empty no-data batches (the TTL's ProcessingTime mode churns
            // them) skip the write; non-empty ones use the idempotent
            // per-batch-dir recipe like every other sink
            if (!b.isEmpty) {
              EventPipeline.idempotentBatchWriter(
                s"$outDir/deduped_events_ttl")(b, id)
            }
            ()
          }
          .start()
        // evictions accumulate across the progress ring (no-data batches
        // cycle it slowly — ~2/s against a 100-entry ring — so polling
        // every 200 ms cannot miss a batch's report)
        var removed = 0L
        val seenBatches = scala.collection.mutable.Set.empty[Long]
        def sweep(): Unit = q.recentProgress.foreach { p =>
          if (seenBatches.add(p.batchId)) {
            removed += Option(p.stateOperators).toSeq.flatten
              .map(_.numRowsRemoved).sum
          }
        }
        // stop only after a NO-DATA batch follows the output: foreachBatch
        // writes parquet BEFORE the batch commits to the offset log, so
        // stopping on the raw count races the commit — the idempotent
        // per-batch-dir sink would absorb the re-run, but the POLL below
        // would have counted the uncommitted batch's rows and declared
        // the pass done before its state actually committed. The zero-
        // input entry must come AFTER the last data batch: checking
        // lastProgress alone is not enough, because the warm-up empty
        // batch precedes the first data batch and progress posts after
        // the foreachBatch write — the poll can see the parquet output
        // while lastProgress is still that earlier empty batch, the
        // exact stop-vs-commit race this guard closes. The max data
        // batch id is LATCHED across polls (not re-derived from
        // recentProgress each time): the progress ring is bounded and
        // no-data batches cycle it at ~2/s, so in a slow-eviction pass
        // the data entry would rotate out within a minute and a
        // ring-only derivation would go permanently false, pinning the
        // loop to its deadline.
        var maxDataId = -1L
        def dataBatchCommitted(): Boolean = {
          val ps = q.recentProgress
          ps.foreach { p =>
            if (p.numInputRows > 0 && p.batchId > maxDataId)
              maxDataId = p.batchId
          }
          maxDataId >= 0 &&
            ps.exists(p => p.numInputRows == 0 && p.batchId > maxDataId)
        }
        val deadline = System.currentTimeMillis() + 180000L
        while (System.currentTimeMillis() < deadline &&
               (outputCount() < expectTotal ||
                 { sweep(); awaitEviction && removed == 0L } ||
                 !dataBatchCommitted()))
          Thread.sleep(200)
        sweep()
        q.stop()
        q.awaitTermination()
        removed
      }
      val n = spark.read.parquet(stageDir).count()
      drain(n, awaitEviction = false) // pass 1: every event is new
      Thread.sleep(TtlMillis + 500)   // let every pass-1 state row expire
      spark.read.parquet(stageDir).write.mode("append").parquet(ttlDir)
      // pass 2: expired state swept, replays re-admitted
      val evicted = drain(2 * n, awaitEviction = true)
      (evicted, outputCount() - n)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft_stream").toString)
    val spark = graft.Posture.library()
    val t0 = System.nanoTime()
    val counts = run(spark, sfDir, outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val events =
      try spark.read.parquet(s"$sfDir/events.parquet").count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    // throughput analog of the reference's ≥5k events/sec floor: events
    // drained through the full four-query pipeline / wall seconds
    println(counts.map { case (k, v) => s"$k=$v" }.mkString(
      "STREAMJOB ", " ",
      f" events=$events wall_s=$secs%.1f events_per_sec=${events / secs}%.0f out=$outDir"))
    spark.stop()
  }
}
