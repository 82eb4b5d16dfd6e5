package graft.streaming

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.functions.Rounding.round
import graft.operators.VersionedMemo

/** Oracle-gated streaming drains: queries whose Spark side actually
  * executes `writeStream` — the same micro-batch machinery, state
  * store, and sink path the always-on job runs — then reads the drained
  * store back as the query result, so the driver's DuckDB hash gate
  * verifies a streaming execution end-to-end instead of only a batch
  * twin. Every stateful leg runs under the gate this way: windowed
  * aggregation ([[streamKpiDrain]] — `EventAggregationJob.java:79-96`),
  * the keyed rolling-stats detector in BOTH processor forms
  * ([[streamAlertsDrain]] fMGWS — `AnomalyDetectionJob.java:279-368` —
  * and [[streamAlertsListDrain]] ListState), the EWMA / CUSUM T-series
  * processors, gap sessionization in append mode (session_window and
  * timer forms), watermark-bounded dedup (fed REAL duplicates), the
  * stream-stream attribution join, keyed transitions, the MapState
  * drift histogram, the cooldown gate (fMGWS and event-time-timer
  * forms — `alert-service/main.py:189-202`), incremental per-user
  * views (cold, warm-start migration, read DIRECTLY from the
  * checkpointed state store, and killed-and-resumed from the
  * checkpoint mid-stream), per-day HLL and per-language Misra–Gries
  * sketch folds, online LSH near-dup ingest, and the windowed funnel.
  *
  * Every drain executes MULTIPLE micro-batches: inputs stage as
  * time-ranged chunk files read one per trigger ([[stageChunked]]), so
  * cross-batch state persistence, restore, and merge — the production
  * failure mode a single-batch drain never exercises — is itself under
  * the hash gate, with a fail-loud batch-count assertion in
  * [[drainToStore]]. In-batch the processors sort by (event-time µs,
  * event_id) and across batches the range split preserves that global
  * order, so the order-dependent folds remain exactly the batch
  * analog's; ProcessorProperties proves each fold split-invariant
  * under carried state.
  */
object StreamDrain {

  /** Chunk count for the multi-batch legs: the associative folds stage
    * their input as this many time-ranged files read one per trigger, so
    * every such drain executes ≥3 micro-batches — state persisted at
    * batch k is restored and EXTENDED at batch k+1, and the final result
    * still hash-matches the from-scratch oracle (fold∘batches =
    * aggregate, now with real batch boundaries in the fold).
    */
  private val MultiBatchChunks = 3

  /** Per-run work dirs (staged events copy, store, checkpoint) are
    * cleaned two ways: (a) when the SAME drain allocates its next work
    * dir, the previous one is deleted eagerly — by then its lazy
    * read-back has been consumed (Verify writes each result before the
    * next query; Bench counts each run before the next), so a min-of-N
    * bench holds at most one live dir per drain instead of N; (b) one
    * static JVM shutdown hook drains whatever remains at exit.
    * (Deletion cannot happen inside the query itself: the returned
    * DataFrame lazily reads the store until the caller consumes it.)
    */
  private val liveDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => liveDirs.values().forEach(deleteTree(_))))

  /** Base dir for all drain work/staging state: the
    * drains' checkpoints, staged chunk files and stores are THROWAWAY
    * verification state re-derived per run, but each micro-batch pays
    * real file I/O for them (offset/commit WAL, 8 state-store deltas,
    * per-batch parquet stores — measured ~120 ms/batch of WAL+offset
    * latency alone on the disk-backed default tmp). When a tmpfs is
    * available (`/dev/shm` in the bench sandbox) they live there
    * instead; `SPARK_GRAFT_DRAIN_TMP` overrides (e.g. point it at a
    * large disk if a corpus outgrows RAM). Semantics are unchanged —
    * the checkpoint/commit protocol, dirty-restart file surgery, and
    * state-store reads are path-based and FS-agnostic; a production
    * deployment's checkpoints live on durable DFS and are not this
    * code path.
    */
  private lazy val workBase: Path = {
    val base = sys.env.get("SPARK_GRAFT_DRAIN_TMP").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    base
  }

  private def tempWorkDir(prefix: String): String = {
    exitHook
    val dir = Files.createTempDirectory(workBase, prefix)
    val prev = liveDirs.put(prefix, dir)
    if (prev != null) deleteTree(prev)
    dir.toString
  }

  private def deleteTree(root: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => try Files.deleteIfExists(p) catch { case NonFatal(_) => })
      finally s.close()
    }
  }

  /** Staged-input cache, shared across drains and runs: the staged
    * copy of a source table is immutable for a given (dir, variant,
    * chunks) and version of the files under `dir` ([[VersionedMemo]]),
    * so the ~18 drains (×3 bench runs) share ONE staging write per
    * variant instead of re-copying the table per drain per run.
    * Augmented variants (sentinel, duplicated, delta) key their own
    * entries. A staging built over older files is deleted when its
    * replacement is built; the rest live for the JVM and are removed by
    * the shutdown hook; per-run store/checkpoint dirs stay in
    * [[tempWorkDir]].
    *
    * CONTRACT: the (variant, chunks) name must uniquely determine the
    * staged CONTENTS for a given version of `dir` — a second caller
    * reusing a variant name with a different `build` would silently be
    * served the first staging.
    * Each variant string here belongs to exactly one staging recipe
    * (events: plain / dup / sentinel / delta / latedrop / shuffled /
    * ooo / ooo_session / dirty_session / dirty_join and the restart
    * halves `<name>_p1` / `<name>_p2` of restart_kpi / restart_session /
    * restart_join / restart; other tables: alerts / docs / ingestdocs /
    * bands); a new recipe takes a new name.
    */
  private def stagedPath(spark: SparkSession, dir: String, variant: String,
                         chunks: Int)(build: String => Unit): String =
    VersionedMemo(spark, dir, s"stage $variant $chunks") {
      exitHook
      val stage = Files.createTempDirectory(workBase, s"graft_stage_$variant")
      Option(liveDirs.put(s"stage|$dir|$variant|$chunks", stage)).foreach(deleteTree)
      build(stage.toString)
      stage.toString
    }

  /** Copy the immutable chunk files of a cached staging into a per-run
    * stage dir (COPY_ATTRIBUTES preserves the deterministic mtimes that
    * drive the file source's replay order). The clean-restart drains
    * must mutate the VISIBLE file set between passes, so they cannot
    * stream from the shared cache dir itself — but re-deriving the
    * chunk SPLIT per run (a persist + ntile sort + per-chunk
    * filter/write Spark job chain, ×2 passes ×3 bench runs) is pure
    * re-computation of an immutable artifact; building each pass's
    * files once per (dataset, recipe) in the staged cache and copying
    * them in (metadata-scale, tmpfs) replaces those jobs (don't
    * recompute what you throw away).
    */
  private def copyCachedChunks(spark: SparkSession, dir: String, variant: String,
                               chunks: Int, stage: String)
                              (build: String => Unit): Unit = {
    val cache = stagedPath(spark, dir, variant, chunks)(build)
    val target = java.nio.file.Paths.get(stage)
    Files.createDirectories(target)
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(cache))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("chunk-"))
      .foreach { p =>
        Files.copy(p, target.resolve(p.getFileName.toString),
                   java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                   java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    finally s.close()
  }

  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** The global event order every event staging splits and replays in. */
  private val ByTime = Seq(col("ts"), col("event_id"))

  /** The corpus's event-time bounds (min, max) in epoch ms: the one
    * bounds probe every cut, plant and sentinel derives from. It and the
    * drains' other staging probes (cut timestamps, fixture-validity
    * booleans) are deterministic 1-row driver probes over the input,
    * memoized per file version ([[VersionedMemo]]): a min-of-N bench
    * pays each once, while every drained result still computes from the
    * staged parquet each run.
    */
  private def corpusBounds(spark: SparkSession, dir: String): (Long, Long) =
    VersionedMemo(spark, dir, "bounds") {
      val b = events(spark, dir).agg(min(col("ts")), max(col("ts"))).head()
      (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
    }

  private def corpusMidMs(spark: SparkSession, dir: String): Long = {
    val (mn, mx) = corpusBounds(spark, dir)
    (mn + mx) / 2
  }

  private def sentinelRow(spark: SparkSession,
                          ts: java.sql.Timestamp): DataFrame =
    spark.range(1).select(
      lit(-1L).as("event_id"), lit(ts).as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(1.0).as("value"))

  /** The flush sentinel two hours past the corpus's last event: its
    * watermark passes every real session's end, the bounded-drain
    * stand-in for the continuing traffic an always-on pipeline has. The
    * session drains filter it from the read-back.
    */
  private def flushSentinel(spark: SparkSession, dir: String): DataFrame =
    sentinelRow(spark,
                new java.sql.Timestamp(corpusBounds(spark, dir)._2 + 7200000L))

  /** Write `df` into `stageDir` as `chunks` single-file parquet chunks
    * split by contiguous ranges of `order` (ntile), named and
    * modification-stamped in range order. The file stream source sorts
    * unread files by modification time (ascending when `latestFirst` is
    * false), so with one file per trigger the drain replays chunk k as
    * micro-batch k: rows arrive across batches in the global `order`,
    * which (a) keeps every per-key sequential fold in the batch analog's
    * (ts, event_id) total order — in-batch the processors sort, across
    * batches the range split guarantees it — and (b) keeps event-time
    * monotone at chunk granularity, so a 10 s watermark can never drop a
    * row or close a window a later chunk still feeds.
    *
    * `scramble`: optional sort key applied WITHIN each chunk before the
    * single-file write — chunk membership (and therefore cross-batch
    * order, watermark behavior, and the oracles) is untouched, but the
    * file then STORES its rows out of event-time order, which is how
    * the in-batch-reordering drains stress the processors' within-
    * trigger sort.
    *
    * The ranked frame is persisted so the ntile sort runs ONCE per
    * staging, not once per chunk filter. HARNESS-SCALE ONLY: a global
    * no-partition window is a single-partition sort (Spark rightly
    * warns) — fine for staging fixture corpora for verification, never
    * a shape to copy into an operator. (A parallel range sort numbered
    * by `zipWithIndex` gives the same chunks but staged sf0.1's 100k
    * events no faster on a 4-CPU host, so the window stays.)
    */
  private[graft] def stageChunked(df: DataFrame, stageDir: String, chunks: Int,
                                  order: Seq[Column],
                                  firstChunk: Int = 0,
                                  scramble: Option[Column] = None): Unit =
    if (chunks <= 1) writeChunkFiles(Seq(df), stageDir, firstChunk)
    else {
      val ranked = df
        .withColumn("__chunk", ntile(chunks).over(Window.orderBy(order: _*)) - 1)
        .persist(MEMORY_AND_DISK)
      // orderBy → coalesce(1) in writeChunkFiles keeps the sort (the one
      // task reads the range-sorted partitions in order)
      try writeChunkFiles(
        (0 until chunks).map { k =>
          val part = ranked.filter(col("__chunk") === k).drop("__chunk")
          scramble.fold(part)(part.orderBy(_))
        },
        stageDir, firstChunk)
      finally ranked.unpersist()
    }

  /** Write each part as ONE parquet chunk file named and
    * modification-stamped in sequence order (the file source replays
    * unread files in ascending mtime order, so chunk k becomes
    * micro-batch k) — the write half of [[stageChunked]], shared with
    * the out-of-order staging whose chunk assignment is not a plain
    * range split.
    */
  private def writeChunkFiles(parts: Seq[DataFrame], stageDir: String,
                              firstChunk: Int = 0): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(stageDir))
    parts.zipWithIndex.foreach { case (part, i) =>
      val k = firstChunk + i
      val tmp = s"$stageDir/_tmp_chunk"
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val listing = Files.list(java.nio.file.Paths.get(tmp))
      val file =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.headOption
          .getOrElse(sys.error(s"no parquet part written under $tmp"))
        finally listing.close()
      val target = java.nio.file.Paths.get(f"$stageDir/chunk-$k%04d.parquet")
      Files.move(file, target,
                 java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // deterministic ascending mtimes drive the source's replay order
      Files.setLastModifiedTime(
        target,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + k * 60000L))
      deleteTree(java.nio.file.Paths.get(tmp))
    }
  }

  /** The cached staging `variant` of `dir`: `frame` (built only when
    * the cache misses) split by `order` into `chunks` range chunk files.
    * Returns the stage dir.
    */
  private def staged(spark: SparkSession, dir: String, variant: String,
                     order: Seq[Column], chunks: Int = MultiBatchChunks)
                    (frame: => DataFrame): String =
    stagedPath(spark, dir, variant, chunks)(stageChunked(frame, _, chunks, order))

  /** The cached event staging `variant` of `dir` (the events table
    * passed through `augment`) as `chunks` time-ranged chunk files.
    * Read one per trigger, the drain executes ≥`chunks` micro-batches,
    * so the state store's cross-batch persistence/merge itself lands
    * under the hash gate ([[drainToStore]] fails loudly if the source
    * ever coalesces them). Returns the stage dir.
    */
  private def eventStage(spark: SparkSession, dir: String,
                         variant: String = "plain",
                         chunks: Int = MultiBatchChunks,
                         augment: DataFrame => DataFrame = identity): String =
    staged(spark, dir, variant, ByTime, chunks)(augment(events(spark, dir)))

  /** [[eventStage]] read as an event stream, one chunk file per trigger. */
  private def stagedStream(spark: SparkSession, dir: String,
                           variant: String = "plain",
                           chunks: Int = MultiBatchChunks,
                           augment: DataFrame => DataFrame = identity): DataFrame =
    EventPipeline.readEventFileStream(
      spark, eventStage(spark, dir, variant, chunks, augment))

  /** The session legs' shared staging: the events table plus the
    * [[flushSentinel]], chunked by time into [[MultiBatchChunks]] files.
    * The sentinel has the max ts, so the time-ranged chunk split puts it
    * in the LAST micro-batch — the watermark flush still happens only
    * after every real session's data has streamed through.
    */
  private def sentinelStage(spark: SparkSession, dir: String): String =
    eventStage(spark, dir, "sentinel",
               augment = _.unionAll(flushSentinel(spark, dir)))

  /** A stream over a non-event staging's chunk files, one per trigger,
    * with the schema the staged files carry.
    */
  private def fileStream(spark: SparkSession, stage: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)

  /** Drain a stream into a parquet store with the batch id attached to
    * every emission, and return the store read back. Update mode for
    * the provisional-pane legs; Append for the emit-once legs (closed
    * sessions, dedup pass-through). `expectBatches > 1` asserts the
    * drain really executed that many micro-batches (max batch_id ≥
    * expectBatches − 1) — the fail-loud guard that the multi-batch legs'
    * cross-batch state story can't silently degrade to one batch.
    *
    * The sink is the IDEMPOTENT per-batch-dir recipe
    * ([[EventPipeline.idempotentBatchWriter]]): a batch re-executed
    * after a crash between sink write and checkpoint commit overwrites
    * its own `batch_id=<id>` subdirectory instead of double-writing —
    * the exactly-once face [[streamDirtyRestartDrain]] puts under the
    * hash gate.
    */
  private def drainToStore(spark: SparkSession, streamed: DataFrame,
                           work: String,
                           mode: OutputMode = OutputMode.Update,
                           expectBatches: Int = 1): DataFrame = {
    val store = s"$work/store"
    val q = streamed.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(EventPipeline.idempotentBatchWriter(store))
      .start()
    q.awaitTermination()
    unloadStateStores(spark)
    val drained = readStore(spark, store)
    if (expectBatches > 1) {
      val ran = executedBatches(work)
      require(
        ran >= expectBatches,
        s"drain under $work expected >= $expectBatches micro-batches but " +
          s"executed $ran — staged chunks were coalesced, so the " +
          "cross-batch state claim would be vacuous")
    }
    drained
  }

  /** Read a drained store back: partition discovery restores `batch_id`
    * from the per-batch subdirectories the idempotent sink wrote; cast
    * to long (directory inference types small ids as int) so downstream
    * batch-id arithmetic keeps a long column.
    */
  private def readStore(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(store)
      .withColumn("batch_id", col("batch_id").cast("long"))

  /** Unload this JVM's state-store providers once a drain's query has
    * ended, before its store is handed back. The ~40 drains run
    * back-to-back in Bench/Verify; each would otherwise leave its
    * checkpoint's providers loaded, so the 60 s maintenance tick sweeps
    * an ever-growing provider set (snapshot consolidation per partition,
    * against work dirs the next allocation may already have deleted)
    * and bills the cost to whichever unrelated query happens to be
    * running — measured as a uniform drag on every drain plus 3-5x
    * spikes on the bench's alphabetical tail. A query that died mid-run
    * (the dirty restarts) leaves its providers deactivated-but-loaded,
    * and their final consolidation otherwise lands 1-2 maintenance
    * intervals later as a silent multi-minute drag. Safe: the returned
    * frames read the parquet store (the statestore legs build batch
    * state-source reads that create fresh read-only providers at scan
    * time), the checkpoints are throwaway verification state, and the
    * next streaming query restarts maintenance lazily. The unload is
    * JVM-global, so it refuses to run while any streaming query is
    * active instead of yanking providers from under a live query.
    */
  private def unloadStateStores(spark: SparkSession): Unit = {
    require(spark.streams.active.isEmpty,
            "the state-store unload is JVM-global: refusing to unload " +
              "state providers while another streaming query is active")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Number of micro-batches the drain's checkpoint actually COMPLETED,
    * read from the COMMIT log (one entry per finished batch, written
    * after the batch's sink + state commit) — emission-independent,
    * unlike max(batch_id) over the store: a batch that produced no
    * output rows (an append-mode leg whose last chunk matched nothing)
    * still writes its commit, and an all-empty store has no rows to max
    * over at all. Commits, not offsets: an offsets entry is written
    * BEFORE its batch runs, so after a non-clean stop the offset count
    * can exceed completed batches by one — counting commits keeps the
    * restart drains' `batch_id >= c1` pass-2 attribution exact even if
    * a pass ever stopped between offset-write and commit (Spark then
    * re-runs that batch id on resume, and its emissions belong to
    * pass 2, which is precisely where the commit count places them).
    */
  private def executedBatches(work: String): Int = {
    val dir = java.nio.file.Paths.get(s"$work/ckpt/commits")
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(_.getFileName.toString.forall(_.isDigit))
      } finally s.close()
    }
  }

  /** Two-pass KILL-AND-RESUME scaffold shared by the clean-restart
    * drains: stage the events before `cut` as two chunk files, drain
    * them through `leg` in `mode` and STOP (a clean shutdown with source
    * offsets and state committed), make the events from `cut` on (plus
    * the optional `tail` rows) visible in the same source dir as two
    * more chunk files, start a NEW query on the SAME checkpoint, and
    * fail loudly unless both passes actually executed micro-batches.
    * The stage mutates between passes, so it lives in the per-run work
    * dir; each half's chunk files are built once per dataset in the
    * staging cache (variants `<name>_p1` / `<name>_p2`) and copied in.
    * Returns the drained store plus pass 1's executed-batch count —
    * pass-2 emissions are exactly the rows with `batch_id >=` that
    * count, which the callers' spanning-state assertions key on.
    */
  private def restartPasses(spark: SparkSession, dir: String, name: String,
                            cut: java.sql.Timestamp, mode: OutputMode,
                            tail: Option[DataFrame] = None)
                           (leg: DataFrame => DataFrame): (DataFrame, Int) = {
    val work = tempWorkDir(s"graft_${name}_drain")
    val stage = s"$work/staged_events"
    val ev = events(spark, dir)
    def pass(half: String, firstChunk: Int)(rows: => DataFrame): DataFrame = {
      copyCachedChunks(spark, dir, s"${name}_$half", 2, stage)(
        stageChunked(rows, _, 2, ByTime, firstChunk))
      drainToStore(spark, leg(EventPipeline.readEventFileStream(spark, stage)),
                   work, mode)
    }
    pass("p1", 0)(ev.filter(col("ts") < lit(cut)))
    val c1 = executedBatches(work)
    require(c1 > 0,
            "pass 1 executed no micro-batch — empty first half, the " +
              "restart claim would be vacuous")
    // the delta becomes visible only AFTER pass 1 committed and stopped
    val drained = pass("p2", 2) {
      val post = ev.filter(col("ts") >= lit(cut))
      tail.fold(post)(post.unionAll)
    }
    val c2 = executedBatches(work)
    require(c2 > c1,
            s"pass 2 executed no new micro-batch ($c1 -> $c2) — the " +
              "checkpoint resume was never exercised")
    (drained, c1)
  }

  /** [[drainToStore]] keeping only the LAST emission per key — the
    * provisional-pane contract every update-mode leg uses (each batch
    * re-emits a key's current value; the final batch's row reflects all
    * data seen).
    */
  private def drainLastPerKey(spark: SparkSession, streamed: DataFrame,
                              work: String, keyCols: Seq[String],
                              expectBatches: Int = 1): DataFrame =
    lastPerKey(drainToStore(spark, streamed, work,
                            expectBatches = expectBatches), keyCols)

  /** Last emission per key over an already-drained store — the
    * provisional-pane dedup shared by [[drainLastPerKey]] and the
    * restart/late-drop drains that post-process their stores directly.
    */
  private def lastPerKey(drained: DataFrame, keyCols: Seq[String]): DataFrame = {
    val latest = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("batch_id").desc)
    drained
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
  }

  /** The KPI-pane read-back projection shared by [[streamKpiDrain]],
    * [[streamLateDropDrain]] and [[streamRestartKpiDrain]] — one
    * definition, so the column set cannot drift from the sliding oracle
    * in one copy but not another.
    */
  private def kpiPaneReadback(lastPanes: DataFrame): DataFrame =
    lastPanes
      .select(
        col("event_type"),
        col("window_start"),
        col("window_end"),
        col("n_events"),
        col("sum_value"),
        col("avg_value"),
        col("error_count"),
        round(col("error_count") / col("n_events"), 6).as("error_rate"))
      .orderBy(col("event_type"), col("window_start"))

  /** The session read-back shared by every session drain: the sentinel
    * user's session dropped, projected to the batch
    * [[graft.operators.TemporalOps.sessionize]] schema.
    */
  private def sessionReadback(drained: DataFrame): DataFrame =
    drained
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("session_end"),
              col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** The click-attribution read-back shared by the join drains,
    * projected to the batch [[graft.operators.TemporalOps.clickAttribution]]
    * schema.
    */
  private def attributionReadback(drained: DataFrame): DataFrame =
    drained
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"),
              round(col("value"), 4).as("purchase_value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** The per-user snapshot read-back shared by the incremental-view
    * drains: one final row per user, against the from-scratch per-user
    * aggregate oracle.
    */
  private def snapshotReadback(view: DataFrame): DataFrame =
    view
      .select(col("user_id"), col("n_events"), col("sum_micros"),
              col("last_ts_micros"))
      .orderBy(col("user_id"))

  /** Run the StreamJob sliding-KPI leg ([[EventPipeline.slidingKpi]]:
    * watermark → 1m/10s windowed agg → update-mode foreachBatch store)
    * with `Trigger.AvailableNow` over the events table, then read the
    * hot store back projected to the batch
    * [[graft.operators.KpiOps.kpiSliding]] schema — the shared oracle
    * SQL hash-checks the STREAMED panes against DuckDB. Pane sums ride
    * exact micro-unit longs on all three sides (streamed state-store
    * merge order, batch partition order, oracle ordered sum), so the
    * gate is immune to summation-order ulp flips.
    *
    * Scale: the production form swaps the trigger for a processing-time
    * trigger and the source for Kafka — the store then holds one row
    * per (type, pane) updated in place; this drain is the bounded,
    * hash-checkable rehearsal of exactly that topology.
    */
  def streamKpiDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_kpi_drain")
    kpiPaneReadback(drainLastPerKey(
      spark,
      EventPipeline.slidingKpi(stagedStream(spark, dir)),
      work, Seq("event_type", "window_start"),
      expectBatches = MultiBatchChunks))
  }

  /** Run the StreamJob anomaly leg ([[EventPipeline.anomalyStream]]:
    * keyed flatMapGroupsWithState rolling-stats detector — the
    * reference's `RichFlatMapFunction` + `ValueState` job) through an
    * actual `writeStream` drain and read the fired-alert store back
    * projected to the batch [[graft.operators.AnomalyOps.anomalyAlerts]]
    * schema, sharing its oracle SQL — the stateful-processor leg under
    * the hash gate.
    *
    * Each event is scored exactly once when it arrives, so no
    * last-emission dedup is needed; the description column is rebuilt
    * from the streamed r4 fields with the same format expression the
    * batch query uses (both sides format the same 4-dp doubles, so the
    * strings agree byte-for-byte).
    */
  def streamAlertsDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_alerts_drain")
    alertsReadback(drainToStore(
      spark,
      EventPipeline
        .anomalyStream(
          spark, stagedStream(spark, dir))
        .filter(_.is_anomaly)
        .toDF(),
      work, expectBatches = MultiBatchChunks))
  }

  /** The SAME detector through the ListState-buffered processor
    * ([[AnomalyListStateProcessor]] — per-element RocksDB rows +
    * carried moments, the state shape a 100 TB store wants) — the third
    * of the three parity-asserted detector forms, now under the hash
    * gate itself via the shared batch oracle.
    */
  def streamAlertsListDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_alerts_list_drain")
      alertsReadback(drainToStore(
        spark,
        TypedStatefulProcessors
          .anomalyListStream(
            spark, EventPipeline.typedEvents(stagedStream(spark, dir)))
          .filter(_.is_anomaly)
          .toDF(),
        work, expectBatches = MultiBatchChunks))
    }

  /** Shared read-back projection of a drained alert store: reference
    * envelope description + deterministic presentation order.
    */
  private def alertsReadback(drained: DataFrame): DataFrame =
    drained
      .withColumn(
        "description",
        format_string(
          "Anomaly detected in %s: value=%.2f, mean=%.2f, z-score=%.2f, mad-score=%.2f",
          col("event_type"),
          round(col("value"), 2),
          round(col("mean_value"), 2),
          round(col("z_score"), 2),
          round(col("mad_score"), 2)))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
              col("z_score"), col("mad_score"), col("severity"),
              col("anomaly_type"), col("description"))
      .orderBy(col("event_type"), col("ts"), col("event_id"))

  /** T2 — LATE-DATA DROP under the hash gate (the watermark's one
    * OBSERVABLE semantics: `EventAggregationJob.java:68-71` / Flink's
    * default drop of post-allowed-lateness rows). The stage replays the
    * real events as three time-ranged chunks, then a FOURTH chunk
    * carrying five PLANTED rows one hour before the corpus start
    * (provably late: by then the watermark sits 10 s under the corpus
    * max, far past every planted pane's end) plus one fresh sentinel
    * event past the corpus max. The sliding-KPI aggregation must DROP
    * the planted rows: they use real event types with enormous values,
    * so a watermark leak would either mint pre-corpus panes or corrupt
    * real sums — both hash-fail against the batch oracle, which reads
    * the pristine events table only. The sentinel (filtered from the
    * read-back) pins that the late batch actually executed: its panes
    * carry the final batch id, asserted ≥ 3.
    */
  def streamLateDropDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_latedrop_drain")
    // the staged file set is static for a dataset and visible from the
    // start, so the drain streams DIRECTLY from the shared immutable
    // staging cache instead of re-staging per run
    val (mn, mx) = corpusBounds(spark, dir)
    val stage = stagedPath(spark, dir, "latedrop", MultiBatchChunks + 1) { d =>
      stageChunked(events(spark, dir), d, MultiBatchChunks, ByTime)
      val plants = spark.range(5).select(
        (col("id") - 1000000L).as("event_id"),
        timestamp_millis(lit(mn - 3600000L) + col("id") * 1000L).as("ts"),
        lit(-2L).as("user_id"),
        lit("click").as("event_type"),
        lit(999999.0).as("value"))
      stageChunked(
        plants.unionAll(sentinelRow(spark, new java.sql.Timestamp(mx + 3600000L))),
        d, 1, Seq.empty, firstChunk = MultiBatchChunks)
    }
    val drained = drainToStore(
      spark,
      EventPipeline.slidingKpi(EventPipeline.readEventFileStream(spark, stage)),
      work)
    require(
      drained.filter(col("event_type") === "sentinel" &&
        col("batch_id") >= MultiBatchChunks).limit(1).count() > 0,
      "the late-plant batch never emitted its sentinel panes — the drop " +
        "claim would be vacuous (batch not executed)")
    kpiPaneReadback(lastPerKey(
      drained.filter(col("event_type") =!= "sentinel"),
      Seq("event_type", "window_start")))
  }

  /** The EWMA leg ([[EventPipeline.ewmaStream]]) through an actual
    * writeStream drain, final level per key read back against the batch
    * [[graft.operators.SeriesOps.seriesEwma]] oracle — bit-identical by
    * the micro-unit bucket-sum construction (see [[EwmaProcessor]]).
    */
  def streamEwmaDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_ewma_drain")
    drainLastPerKey(
      spark,
      EventPipeline
        .ewmaStream(
          spark, stagedStream(spark, dir))
        .toDF(),
      work, Seq("event_type"), expectBatches = MultiBatchChunks)
      .select(col("event_type"), col("n_buckets"), col("ewma_value"))
      .orderBy(col("event_type"))
  }

  /** The session leg ([[EventPipeline.sessionStream]]: watermark →
    * `session_window` gap aggregation → APPEND mode, the StreamJob
    * cold-session store) through an actual writeStream drain, read back
    * against the batch [[graft.operators.TemporalOps.sessionize]]
    * oracle. Session sums ride exact micro-unit longs on all three
    * sides, so the state-store session merges cannot drift the sum.
    *
    * Append-mode sessions emit only once the WATERMARK passes their
    * end, and a bounded drain's watermark stops at max(ts) − delay —
    * which would strand every session whose gap timeout is still open
    * at end-of-input. The stage therefore appends one SENTINEL event
    * (user −1) two hours past the data horizon: it advances the global
    * watermark past every real session end — the bounded-drain stand-in
    * for the continuing traffic an always-on pipeline has — and is
    * filtered from the read-back (its own session stays unemitted in
    * state). Every real session then emits exactly once, and the drain
    * equals the batch sessionization in full.
    */
  def streamSessionDrain(spark: SparkSession, dir: String): DataFrame =
    sessionDrainedBy(spark, dir, "graft_session_drain",
                     EventPipeline.sessionStream)

  /** The TIMER sessionization leg ([[SessionStatefulProcessor]]:
    * transformWithState + event-time timers, the Flink
    * `EventTimeSessionWindows` + `onEventTime` pattern) through the same
    * sentinel-flushed drain, against the same batch oracle — putting the
    * timer machinery itself (registration, stale-timer re-arm, expiry
    * emission) under the DuckDB hash gate, not just its spec parity.
    */
  def streamSessionTimerDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      sessionDrainedBy(
        spark, dir, "graft_session_timer_drain",
        staged => SessionStatefulProcessor
          .sessionStream(spark, EventPipeline.typedEvents(staged)).toDF())
    }

  /** Run `body` with the RocksDB state-store provider scoped on, exactly
    * like StreamJob.run — transformWithState needs it (multiple column
    * families) — and with `graft.state.ttl` scoped OFF: a TTL forces
    * processing-time mode, where transformWithState always requests
    * another batch and `Trigger.AvailableNow` + `awaitTermination` block
    * forever (the StreamJob TTL drain documents and polls around exactly
    * this). The drains are bounded gate rehearsals, not long-lived jobs,
    * so state expiry has nothing to expire here — TTL behavior itself is
    * exercised by StreamJob's dedicated TTL leg. Safe because every
    * drain fully awaits termination before the restore, and the
    * returned frame reads either the parquet store or — for the
    * statestore leg — a state source whose StateStoreConf is
    * SNAPSHOTTED from the checkpoint's own metadata at load() time
    * (inside this scope), not from the session conf at execution time;
    * a new leg whose lazy read depends on the LIVE session conf must
    * not rely on this wrapper.
    */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T =
    graft.Posture.withConf(spark, graft.Posture.rocksDb, StateTtl.Key -> None)(body)

  /** A session `leg` drained in append mode over the [[sentinelStage]]. */
  private def sessionDrainedBy(spark: SparkSession, dir: String,
                               prefix: String,
                               leg: DataFrame => DataFrame): DataFrame = {
    val work = tempWorkDir(prefix)
    val staged = EventPipeline.readEventFileStream(spark, sentinelStage(spark, dir))
    sessionReadback(drainToStore(spark, leg(staged), work, OutputMode.Append,
                                 expectBatches = MultiBatchChunks))
  }

  /** MID-STREAM state read for the SESSION-WINDOW store — the
    * state-debugging surface a 100 TB operator uses mid-incident: query
    * the store AS OF an earlier batch while the query has long moved
    * past it. Drains the session topology ([[EventPipeline.sessionStream]]
    * over the sentinel staging), then reads the session store AS OF
    * batch 1 — two of the three data chunks folded, the third still
    * unseen — through the `statestore` source's `batchId` time travel,
    * and gates the OPEN sessions against a time-sliced batch oracle.
    * The oracle re-derives the cut in SQL: events in the first two
    * `ntile(3)` chunks of the staging's own (ts, event_id) split
    * (sentinel included in the ranking, exactly as staged),
    * gap-sessionized, minus the sessions batch 1's watermark evicted —
    * `session_end <= wm`, where wm = batch 0's max event time
    * (ms-floored, Spark's event-time stats are milliseconds) minus the
    * 10 s delay, compared at µs precision. Fail-loud audits: the
    * mid-stream read is non-empty, strictly larger than the final store
    * (eviction really ran after batch 1 — mid-stream state, not a
    * settled store), and every surviving session's end clears the
    * watermark cut the oracle assumes.
    */
  def streamMidstateReader(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_midstate_reader")
    val stage = sentinelStage(spark, dir)
    drainToStore(
      spark,
      EventPipeline.sessionStream(EventPipeline.readEventFileStream(spark, stage)),
      work, OutputMode.Append, expectBatches = MultiBatchChunks)
    def stateAt(batch: Option[Int]): DataFrame = {
      val rd = spark.read.format("statestore")
      batch.fold(rd)(b => rd.option("batchId", b)).load(s"$work/ckpt")
    }
    val mid = stateAt(Some(1))
      .select(col("key.user_id").as("user_id"),
              col("value.session_window.start").as("session_start"),
              col("value.session_window.end").as("session_end"),
              col("value.count").as("n_events"),
              graft.functions.Rounding
                .round(col("value.sum").cast("double") / lit(1000000.0), 4)
                .as("sum_value"))
    // audits are metadata-scale (the store holds OPEN sessions only —
    // watermark-bounded, hundreds of rows at gate scale), harness-only
    val midCount = mid.count()
    val finalCount = stateAt(None).count()
    require(midCount > 0, "mid-stream session store read back empty — " +
      "the batchId time travel returned nothing to gate")
    require(midCount > finalCount,
            s"mid-stream store ($midCount rows) not larger than the " +
              s"final store ($finalCount) — batch 2 and the sentinel " +
              "flush evicted nothing, so the read is not mid-stream")
    // batch 1's watermark, engine-side: max ts of the staged chunk-0
    // file (exactly batch 0's input), ms-floored, minus the 10 s delay
    val max0 = spark.read.parquet(s"$stage/chunk-0000.parquet")
      .agg(max(col("ts"))).head().getTimestamp(0)
    val wmUs = (max0.getTime - 10000L) * 1000L
    // 1 ms boundary band: Spark derives eviction horizons with
    // conservative ms-granularity adjustments, so a row landing inside
    // the boundary millisecond could legitimately survive the store
    // while this re-derivation evicts it. The audit tolerates that one
    // band (a boundary row then surfaces as a diagnosable HASH-GATE
    // diff against the exact oracle, not a require crash); rows more
    // than 1 ms below the horizon still fail loud.
    val evicted =
      mid.filter(unix_micros(col("session_end")) <= wmUs - 1000L).count()
    require(evicted == 0,
            s"$evicted surviving sessions end >1ms below batch 1's " +
              "watermark — the store kept rows the oracle's eviction " +
              "cut says are gone")
    mid.orderBy(col("user_id"), col("session_start"))
  }

  /** The dedup leg ([[EventPipeline.dedupedEvents]]:
    * `dropDuplicatesWithinWatermark` on the event id — the K5
    * exactly-once guard in front of the cold store) through an actual
    * writeStream drain. The stage feeds the stream REAL duplicates
    * (every event twice); the drain must emit each event exactly once,
    * and the read-back is checked against the pristine events table —
    * value rides through untouched (no arithmetic), so the hash gate is
    * exact by passthrough.
    */
  def streamDedupDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_dedup_drain")
    val staged = stagedStream(spark, dir, "dup", augment = ev => ev.unionAll(ev))
    drainToStore(spark, EventPipeline.dedupedEvents(staged), work,
                 OutputMode.Append, expectBatches = MultiBatchChunks)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              col("value"))
      .orderBy(col("event_id"))
  }

  /** The stream-stream INTERVAL JOIN leg
    * ([[EventPipeline.attributionStream]]: clicks ⋈ purchases on user
    * within a 10-minute range, two watermarks bounding the join state)
    * through an actual writeStream drain, against the batch
    * [[graft.operators.TemporalOps.clickAttribution]] oracle — the join
    * machinery class none of the other legs exercise. Inner-join
    * matches emit within the batch that completes them (no
    * watermark-gated flush), so no sentinel is needed; `value` is a
    * passthrough double rounded identically on both sides.
    */
  def streamAttributionDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_attrib_drain")
    attributionReadback(drainToStore(
      spark,
      EventPipeline.attributionStream(
        stagedStream(spark, dir, chunks = JoinChunks)),
      work, OutputMode.Append, expectBatches = MultiBatchChunks))
  }

  /** Chunk count of the join drains' staging: the self-join reads the
    * staged files through TWO source instances of the same directory, so
    * a batch consumes ~2 files — 5 chunks keep the drain at >=3 real
    * micro-batches of join-state carry.
    */
  private val JoinChunks = 2 * MultiBatchChunks - 1

  /** MID-STREAM state read for the STREAM-STREAM JOIN buffers — the
    * join twin of [[streamMidstateReader]]: drain the attribution
    * topology ([[EventPipeline.attributionStream]] over the shared
    * 5-chunk staging), then read BOTH symmetric buffers AS OF batch 2 —
    * three of five chunks probed, two still unseen — via the
    * `statestore` source's `batchId` + `joinSide` time travel, and gate
    * the buffered rows against a time-sliced batch oracle. The oracle
    * re-derives the eviction horizon in SQL: the query watermark is the
    * MIN of the two sides' event-time maxima over batches < 2
    * (ms-floored per side, minus the 10 s delay — each `withWatermark`
    * node tracks only the rows its side saw), and the buffers keep
    * exactly the rows a future match could still involve — clicks with
    * `click_ts ≥ wm − 10 min` (the join condition's upper bound solved
    * for the left side) and purchases with `purchase_ts ≥ wm` (a
    * purchase only matches clicks at or before it). Both predicates
    * verified against the engine at every probed batch version; the
    * boundary comparison is µs-exact up to the documented 1 ms audit
    * band. Fail-loud audits: both buffers non-empty, strictly larger
    * than the final (post-eviction) buffers, and no kept row below the
    * horizon the oracle assumes.
    *
    * LOCKSTEP ASSUMPTION encoded by `midBatch = 2`: the self-join reads
    * the staged directory through TWO file-source instances, and each
    * instance admits exactly ONE staged file per micro-batch
    * (one file per trigger in [[stagedStream]], deterministic
    * ascending mtimes), so batch id `b` ⇔ chunks `0..b` seen on BOTH
    * sides. If either source ever drifted off that one-file-per-batch
    * pace, the oracle's chunk slice would no longer equal batch 2's
    * input and the hash gate / horizon audits fail loud.
    */
  def streamMidstateJoinReader(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_midstate_join")
    val stage = eventStage(spark, dir, chunks = JoinChunks)
    drainToStore(
      spark,
      EventPipeline.attributionStream(
        EventPipeline.readEventFileStream(spark, stage)),
      work, OutputMode.Append, expectBatches = MultiBatchChunks)
    def side(s: String, batch: Option[Int]): DataFrame = {
      val rd = spark.read.format("statestore").option("joinSide", s)
      batch.fold(rd)(b => rd.option("batchId", b)).load(s"$work/ckpt")
    }
    val midBatch = 2
    val left = side("left", Some(midBatch)).select(
      lit("click").as("side"),
      col("value.c_user").as("user_id"),
      col("value.click_ts").as("ts"),
      col("value.click_id").as("event_id"),
      lit(null).cast("double").as("purchase_value"))
    val right = side("right", Some(midBatch)).select(
      lit("purchase").as("side"),
      col("value.p_user").as("user_id"),
      col("value.purchase_ts").as("ts"),
      col("value.purchase_id").as("event_id"),
      round(col("value.value"), 4).as("purchase_value"))
    // audits are metadata-scale: the buffers hold only rows inside the
    // fixed watermark+interval horizon (hundreds at gate scale)
    val (nL, nR) = (left.count(), right.count())
    require(nL > 0 && nR > 0,
            s"mid-stream join buffers empty (left=$nL right=$nR) — " +
              "nothing to gate")
    val (fL, fR) =
      (side("left", None).count(), side("right", None).count())
    require(nL > fL && nR > fR,
            s"mid-stream buffers (L$nL/R$nR) not larger than the final " +
              s"ones (L$fL/R$fR) — later batches evicted nothing, so " +
              "the read is not mid-stream")
    // engine-side horizon audit: the watermark from the staged chunk
    // files batch 2 ran under (per-side maxima over chunks 0..1)
    val preFiles = (0 until midBatch)
      .map(k => f"$stage/chunk-$k%04d.parquet")
    val pre = spark.read.parquet(preFiles: _*)
    val wmRow = pre.agg(
      max(when(col("event_type") === "click", unix_millis(col("ts"))))
        .as("mc"),
      max(when(col("event_type") === "purchase", unix_millis(col("ts"))))
        .as("mp")).head()
    require(!wmRow.isNullAt(0) && !wmRow.isNullAt(1),
            "a side saw no events in chunks 0..1 — the watermark audit " +
              "cannot derive batch 2's horizon")
    val wmUs = (math.min(wmRow.getLong(0), wmRow.getLong(1)) - 10000L) * 1000L
    // same 1 ms boundary band as the session-store audit above: Spark's
    // join state-watermark derivation applies conservative ms-granularity
    // adjustments, so a buffered row inside the boundary millisecond is
    // legitimate survival, not a kept-dead row — it would show up as a
    // diagnosable hash-gate diff, which is the exact check
    val below =
      left.filter(unix_micros(col("ts")) < wmUs - 600000000L - 1000L)
        .count() +
        right.filter(unix_micros(col("ts")) < wmUs - 1000L).count()
    require(below == 0,
            s"$below buffered rows sit >1ms below batch 2's eviction " +
              "horizon — the store kept rows the oracle's watermark cut " +
              "says are gone")
    left.unionAll(right).orderBy(col("side"), col("event_id"))
  }

  /** The CUSUM leg ([[EventPipeline.cusumStream]] with offline-learned
    * baselines) through an actual writeStream drain, final shift counts
    * per key read back against the batch `cusum_changepoints` oracle
    * (minus the baseline columns the streamed counts don't carry).
    */
  def streamCusumDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_cusum_drain")
    val baselines = graft.operators.SeriesOps.cusumBaselines(spark, dir)
    drainLastPerKey(
      spark,
      EventPipeline
        .cusumStream(
          spark, stagedStream(spark, dir),
          baselines)
        .toDF(),
      work, Seq("event_type"), expectBatches = MultiBatchChunks)
      .select(col("event_type"), col("n_buckets"), col("n_shifts_up"),
              col("n_shifts_down"))
      .orderBy(col("event_type"))
  }

  /** The transitions leg ([[EventPipeline.transitionStream]]: the
    * incremental per-user `lead` — one last-event record of keyed state)
    * through an actual writeStream drain; each observed transition is
    * emitted exactly once, so the read-back only counts the (prev, next)
    * pairs, shared with the batch `event_transitions` oracle.
    */
  def streamTransitionsDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_transitions_drain")
    drainToStore(
      spark,
      EventPipeline
        .transitionStream(
          spark, stagedStream(spark, dir))
        .toDF(),
      work, expectBatches = MultiBatchChunks)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** The data-drift monitor ([[DriftStatefulProcessor]] — the MAP-state
    * processor: one MapState entry per value band) through an actual
    * writeStream drain, final per-type TV-distance row read back against
    * the batch `drift_tv` oracle — the MapState machinery class under
    * the hash gate.
    */
  def streamDriftDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_drift_drain")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      drainLastPerKey(
        spark,
        TypedStatefulProcessors.driftStream(spark, staged).toDF(),
        work, Seq("event_type"), expectBatches = MultiBatchChunks)
        .select(col("event_type"), col("n_first"), col("n_second"),
                col("tv_num"), col("tv_distance"), col("drifted"))
        .orderBy(col("event_type"))
    }

  /** The incremental-view leg ([[UserSnapshotStatefulProcessor]]: per-
    * user running count / micro-sum / last-seen, the streaming
    * materialized view) through an actual writeStream drain, final
    * snapshot per user hash-checked against a from-scratch per-user
    * aggregate oracle — so the drain proves fold∘batches = aggregate.
    */
  def streamSnapshotDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_snapshot_drain")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      snapshotReadback(drainLastPerKey(
        spark,
        TypedStatefulProcessors.userSnapshotStream(spark, staged).toDF(),
        work, Seq("user_id"), expectBatches = MultiBatchChunks))
    }

  /** STATE-STORE INTROSPECTION (Spark 4 `statestore` reader): drain the
    * incremental-view processor, then read its keyed state DIRECTLY out
    * of the checkpoint — not the emissions — and hash-check the state
    * rows against the same from-scratch per-user aggregate oracle. This
    * verifies what actually PERSISTED in RocksDB (encoder round trip,
    * store commit, checkpoint layout), and demonstrates the
    * state-debugging surface a 100 TB operator needs when a store
    * misbehaves: query the store like a table, no custom tooling.
    */
  def streamStateReaderDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_state_reader")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      // drain for the side effect of a committed checkpoint — the
      // emissions themselves are gated by stream_snapshot_drain, and
      // drainToStore awaits termination, so nothing reads its store;
      // multi-batch, so the state read back below was COMMITTED, RESTORED
      // and EXTENDED across micro-batches, not written once
      drainToStore(
        spark,
        TypedStatefulProcessors
          .userSnapshotStream(spark, staged)
          .toDF(),
        work, expectBatches = MultiBatchChunks)
      spark.read
        .format("statestore")
        .option("stateVarName", "userSnap")
        .load(s"$work/ckpt")
        .select(col("key.value").as("user_id"),
                col("value.n_events").as("n_events"),
                col("value.sum_micros").as("sum_micros"),
                col("value.last_ts_micros").as("last_ts_micros"))
        .orderBy(col("user_id"))
    }

  /** The windowed-funnel leg ([[FunnelStatefulProcessor]]: three longs
    * of per-user state folded through the latest-chain-start algebra)
    * through an actual writeStream drain, final per-user depth read
    * back into the batch `window_funnel` histogram (shared oracle).
    * The streaming fold is the UNCAPPED reference semantics — O(1)
    * state per event, which is why it needs no hot-user guard: the
    * batch twin's `graft.funnel.maxEvents` cap exists only to bound a
    * per-key aggregation buffer the incremental form never builds. The
    * two coincide whenever no user's funnel history exceeds the cap
    * (every gate corpus — the cap-audit column, batch bookkeeping on
    * both sides, is all-false there and any future violation flips
    * `n_at_cap` and fails the hash).
    */
  def streamFunnelDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_funnel_drain")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      val depths = drainLastPerKey(
        spark,
        TypedStatefulProcessors.funnelStream(spark, staged).toDF(),
        work, Seq("user_id"), expectBatches = MultiBatchChunks)
        .select(col("user_id"), col("depth"))
      val ev = graft.Tables.events(spark, dir)
      val allUsers = ev.select(col("user_id")).distinct()
      val maxEv = graft.operators.FunnelOps.maxEvents(spark)
      val capAudit = ev
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg((count(lit(1)) >= maxEv).as("at_cap"))
      allUsers
        .join(depths, Seq("user_id"), "left")
        .join(capAudit, Seq("user_id"), "left")
        .select(coalesce(col("depth"), lit(0)).cast("int").as("depth"),
                coalesce(col("at_cap"), lit(false)).as("at_cap"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_users"),
             sum(when(col("at_cap"), 1L).otherwise(0L)).as("n_at_cap"))
        .orderBy(col("depth"))
    }

  /** BATCH→STREAMING STATE MIGRATION under the hash gate
    * ([[UserSnapshotWarmStartProcessor]]): the store seeds from a batch
    * snapshot of the FIRST-half events (transformWithState initial
    * state), the stream folds only the second-half DELTA, and the
    * merged view — drained emissions for users the delta touched, the
    * untouched seed rows for the rest, exactly what a production
    * cutover's serving store holds — must equal a from-scratch
    * full-corpus aggregate. Seed aggregation uses the same associative
    * integer algebra the processor folds (exact micro-unit sums, max
    * µs), so seed∘delta = full holds bit-for-bit, now proven through an
    * actual writeStream execution rather than only the spec.
    */
  def streamWarmstartDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_warmstart_drain")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      import spark.implicits._
      val ev = graft.Tables.events(spark, dir)
      // the fixed cut must split the corpus with a user on both sides,
      // or the drain degenerates to a plain snapshot drain (probed once
      // per file version)
      val (seedUsers, deltaUsers, bothUsers) =
        VersionedMemo(spark, dir, "warmstart_users") {
          val r = ev.groupBy(col("user_id"))
            .agg(min(col("ts")).as("first"), max(col("ts")).as("last"))
            .agg(count(when(col("first") < cut, 1)),
                 count(when(col("last") >= cut, 1)),
                 count(when(col("first") < cut && col("last") >= cut, 1)))
            .head()
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
      require(seedUsers > 0,
              "warm-start seed is empty: no event precedes the 2024-01-16 " +
                "cut, so no batch state migrates and the drain is a plain " +
                "snapshot drain")
      require(deltaUsers > 0,
              "warm-start delta is empty: no event follows the cut, so the " +
                "stream folds nothing onto the migrated state")
      require(bothUsers > 0,
              "no delta user is also a seed user: the stream never extends " +
                "a migrated snapshot, so the migration claim would be vacuous")
      val seed = ev
        .filter(col("ts") < cut)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             sum(graft.functions.Rounding.microUnits(col("value")))
               .as("sum_micros"),
             max(unix_micros(col("ts"))).as("last_ts_micros"))
      val staged = stagedStream(spark, dir, "delta",
                                augment = _.filter(col("ts") >= cut))
      val view = snapshotReadback(drainLastPerKey(
        spark,
        TypedStatefulProcessors
          .userSnapshotWarmStream(spark, EventPipeline.typedEvents(staged),
                                  seed.as[UserSnapshot])
          .toDF(),
        work, Seq("user_id"), expectBatches = MultiBatchChunks))
      // seed rows the delta never touched stay as-written in the view
      val untouched = seed.join(view.select(col("user_id")),
                                Seq("user_id"), "left_anti")
      view.unionByName(untouched).orderBy(col("user_id"))
    }

  /** The heavy-hitter leg ([[TopTokensStatefulProcessor]]: per-language
    * Misra–Gries top-token summaries folded online) through an actual
    * writeStream drain over the documents corpus replayed as a stream.
    * At the default k = 64 > the corpus vocabulary no MG compression
    * ever fires, so the drained summary is EXACT counts with maxerr = 0
    * and a deterministic (est desc, token) order — the same provable-
    * exactness argument batch `approx_top_tokens` gates on, now applied
    * to the STREAMED state-store fold. Each batch re-emits a language's
    * current top 10, so the read-back keeps only the final batch per
    * language.
    */
  def streamTopTokensDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_toptok_drain")
      // doc_id rides along only to give the chunk split a deterministic
      // total order; the token-count fold itself is order-free (exact
      // counts at k = 64 > vocab), so any ordering gates identically
      val stage = staged(spark, dir, "docs", Seq(col("doc_id"))) {
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
                  split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
                        " ").as("tokens"))
      }
      import spark.implicits._
      val docsIn = fileStream(spark, stage).as[DocTokens]
      val drained = drainToStore(
        spark,
        TypedStatefulProcessors.topTokensStream(spark, docsIn).toDF(),
        work, expectBatches = MultiBatchChunks)
      val lastBatch = Window.partitionBy(col("lang"))
      drained
        .withColumn("maxb", max(col("batch_id")).over(lastBatch))
        .filter(col("batch_id") === col("maxb"))
        .select(col("lang"), col("token"), col("est"), col("maxerr"))
        .orderBy(col("lang"), col("est").desc, col("token"))
    }

  /** ONLINE near-duplicate ingest ([[LshBucketProcessor]]: per-bucket
    * membership state, candidate pairs emitted as documents arrive)
    * through an actual writeStream drain — the streaming form of the
    * batch `dedup_minhash_lsh` bucket stage, sharing its oracle
    * verbatim. The banded signature keys are staged OFFLINE
    * ([[graft.operators.DedupOps.defaultLshBands]]) and replayed as the
    * stream (the signature pass is the expensive stage either way; a
    * live crawler computes it in the ingest map before the keyed
    * shuffle). Read-back applies the batch MaxBucket skew cap from
    * recomputed final bucket sizes, dedups pairs across bands, and
    * verifies with the exact shingle Jaccard — identical end-to-end
    * semantics, with the candidate DISCOVERY having actually run
    * through keyed streaming state.
    */
  def streamLshDedupDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_lshdedup_drain")
      // pairs are min/max-normalized and emitted exactly once across any
      // batch split (LshBucketFold), and the read-back's MaxBucket cap
      // recomputes FINAL bucket sizes — so the chunk order only needs to
      // be deterministic, not meaningful
      val stage = staged(spark, dir, "bands", Seq(col("doc_id"), col("band")))(
        graft.operators.DedupOps.defaultLshBands(spark, dir))
      import spark.implicits._
      val bandsIn = fileStream(spark, stage).as[BandKeyRow]
      val drained = drainToStore(
        spark,
        TypedStatefulProcessors.lshCandidateStream(spark, bandsIn).toDF(),
        work, expectBatches = MultiBatchChunks)
      val okBuckets = spark.read.parquet(stage)
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") <= graft.operators.DedupOps.MaxBucket)
      val candidates = drained
        .join(okBuckets, Seq("band", "band_hash"), "left_semi")
        .select(col("doc1"), col("doc2"))
        .distinct()
      graft.operators.DedupOps
        .scoreCandidatePairs(spark, dir, candidates)
        .filter(col("jaccard") >= graft.operators.DedupOps.JaccardThreshold)
        .select(col("doc1"), col("doc2"), col("n_common"), col("jaccard"))
        .orderBy(col("doc1"), col("doc2"))
    }

  /** Streaming CORPUS-INGEST dedup ([[DocDedupStatefulProcessor]]: one
    * boolean of state per content hash, first occurrence survives)
    * through an actual writeStream drain — the online form of the batch
    * `dedup_exact` semantics. Staged in doc_id order, so
    * first-arrival-per-hash across the three micro-batches IS the batch
    * min-doc_id canonical: a duplicate whose original arrived in an
    * EARLIER batch is suppressed purely by restored state, which is
    * what the gate now checks (the oracle recomputes canonical
    * survivors from scratch in DuckDB).
    */
  def streamDocDedupDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_docdedup_drain")
      val stage = staged(spark, dir, "ingestdocs", Seq(col("doc_id"))) {
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"),
                  md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
                    .as("content_hash"),
                  col("source"))
      }
      import spark.implicits._
      val docsIn = fileStream(spark, stage).as[IngestDoc]
      drainToStore(
        spark,
        TypedStatefulProcessors.docDedupStream(spark, docsIn).toDF(),
        work, expectBatches = MultiBatchChunks)
        .select(col("doc_id"), col("content_hash"), col("source"))
        .orderBy(col("doc_id"))
    }

  /** The sketch-folding leg ([[HllStatefulProcessor]]: per-day distinct
    * users folded online, register-identical to `hll_sketch_agg`)
    * through an actual writeStream drain. The drained day's cumulative
    * event count is EXACT and order-free, so it rides the hash gate
    * directly; the sketch estimate — engine-specific by nature — goes
    * through the same 5σ self-gate verdict the batch `hll_by_day` uses
    * (exact reference counts computed batch-side only to power the
    * audit, mirroring [[graft.operators.MiscOps.hllByDay]]).
    */
  def streamHllDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_hll_drain")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      val drained = drainLastPerKey(
        spark,
        TypedStatefulProcessors.hllDayStream(spark, staged).toDF(),
        work, Seq("epoch_day"), expectBatches = MultiBatchChunks)
        .select((col("epoch_day") * 86400).cast("timestamp").as("day"),
                col("n_seen"), col("est_users"))
      val exact = graft.Tables.events(spark, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count_distinct(col("user_id")).as("n_users_exact"))
      drained
        .join(exact, Seq("day"))
        .select(
          col("day"),
          col("n_seen").as("n_events"),
          col("n_users_exact"),
          (abs(col("est_users") /
                 greatest(col("n_users_exact"), lit(1L)).cast("double") - 1.0)
            <= graft.operators.MiscOps.HllSketchTol).as("day_ok"))
        .orderBy(col("day"))
    }

  /** Staged stream of the scored anomaly alerts (the detector stage's
    * batch-equal output — itself hash-gated by `stream_alerts_drain`),
    * time-range-chunked so the cooldown gate folds keyed state across
    * ≥3 micro-batches: the same offline-heavy-stage / stream-keyed-stage
    * split [[streamLshDedupDrain]] uses.
    */
  private def stagedAlerts(spark: SparkSession,
                           dir: String): Dataset[AnomalyAlert] = {
    import spark.implicits._
    fileStream(spark, staged(spark, dir, "alerts", ByTime)(
      graft.operators.AnomalyOps.scoredAlerts(spark, dir))).as[AnomalyAlert]
  }

  /** The cooldown gate (T10, `alert-service/main.py:189-202`) through an
    * actual writeStream drain — the LAST stateful leg that had only a
    * spec-verified streaming form. [[EventPipeline.cooldownStream]]'s
    * flatMapGroupsWithState processor suppresses per (source, severity)
    * any alert < 5 min after the last alert that actually FIRED, carrying
    * `lastFired` state ACROSS micro-batches (a batch-1 alert is judged
    * against a firing persisted in batch 0). Each fired alert emits
    * exactly once, so the read-back is the raw store, gated against the
    * chained `list_reduce` oracle shared with the batch
    * [[graft.operators.AnomalyOps.alertCooldownChained]].
    */
  def streamCooldownDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_cooldown_drain")
    firedReadback(drainToStore(
      spark,
      EventPipeline.cooldownStream(spark, stagedAlerts(spark, dir)).toDF(),
      work, expectBatches = MultiBatchChunks))
  }

  /** The SAME gate through the transformWithState form with EVENT-TIME
    * TIMER expiry ([[CooldownStatefulProcessor]]): each firing arms a
    * timer at `lastFired + cooldown`, and the advancing watermark between
    * the drain's micro-batches actually FIRES those timers mid-stream,
    * clearing state that is provably open — so a later batch's alert can
    * be gated by a key whose state was timer-evicted in between, and the
    * result must still match the chained oracle (eviction is
    * verdict-neutral by construction; this drain makes that claim under
    * the hash gate instead of only StatefulProcessorSpec).
    */
  def streamCooldownTimerDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_cooldown_timer_drain")
      firedReadback(drainToStore(
        spark,
        TypedStatefulProcessors
          .cooldownStreamWithExpiry(spark, stagedAlerts(spark, dir))
          .toDF(),
        work, expectBatches = MultiBatchChunks))
    }

  /** The FULL alert topology (S2 detector → T10 cooldown → P8 rule
    * routing, the reference's events → alerts.v1 → notification path)
    * under one hash gate: the staged detector output (itself gated by
    * `stream_alerts_drain`) streams through the keyed cooldown state
    * and then the stream-static broadcast rule join
    * ([[EventPipeline.routedAlerts]]), all inside one multi-batch
    * writeStream execution. Each fired alert fans out to its matching
    * enabled rules exactly once.
    */
  def streamRoutedDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_routed_drain")
    routedReadback(drainToStore(
      spark,
      EventPipeline.routedAlerts(
        spark, EventPipeline.cooldownStream(spark, stagedAlerts(spark, dir))),
      work, expectBatches = MultiBatchChunks))
  }

  /** The SAME full alert topology FUSED into one keyed stage
    * ([[EventPipeline.fusedAlertStream]]: detector + chained cooldown in
    * a single flatMapGroupsWithState, then the stream-static broadcast
    * rule join) under the hash gate. Unlike [[streamRoutedDrain]], the
    * input here is the RAW event stream — the drain proves the fused
    * processor reproduces detector→cooldown→routing end-to-end from
    * events, against the IDENTICAL recursive-CTE oracle the two-query
    * path is gated on: byte-equal results from one state commit instead
    * of two is precisely the fused topology's claim.
    */
  def streamFusedRoutedDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_fused_routed_drain")
    routedReadback(drainToStore(
      spark,
      EventPipeline.routedAlerts(
        spark, EventPipeline.fusedAlertStream(spark, stagedStream(spark, dir))),
      work, expectBatches = MultiBatchChunks))
  }

  /** Shared read-back projection of a drained routed-alert store. */
  private def routedReadback(drained: DataFrame): DataFrame =
    drained
      .select(col("event_id"), col("event_type"), col("ts"), col("severity"),
              col("rule_id"), col("channel"))
      .orderBy(col("event_id"), col("rule_id"))

  /** Shared read-back projection of a drained fired-alert store. */
  private def firedReadback(drained: DataFrame): DataFrame =
    drained
      .select(col("event_id"), col("event_type"), col("ts"), col("severity"))
      .orderBy(col("event_type"), col("severity"), col("ts"), col("event_id"))

  /** KILL-AND-RESUME for the OTHER state family: the windowed
    * aggregation. [[streamRestartDrain]] proves keyed
    * transformWithState state restores across a restart; this drain
    * proves the streaming-aggregation state store AND the watermark do —
    * pass 1 drains the first-half chunks through
    * [[EventPipeline.slidingKpi]] and stops (panes spanning the cut are
    * persisted with PARTIAL micro-unit sums), pass 2 resumes the same
    * checkpoint over the second half, restores those panes and the
    * committed watermark, and re-emits them with full sums. Last
    * emission per pane across BOTH passes must hash-match the batch
    * sliding oracle — a pane lost, double-counted, or dropped-late by a
    * mis-restored watermark flips an exact integer sum and fails the
    * gate. (Restored-watermark safety: every pass-2 event is newer than
    * pass 1's final watermark by the time-ranged split, so nothing is
    * late on resume; panes still open at the cut end after pass 1's
    * max ts, hence above its watermark, and cannot have been evicted.)
    */
  def streamRestartKpiDrain(spark: SparkSession, dir: String): DataFrame = {
    // prefer a cut that SPLITS A SINGLE PANE across the restart: the
    // first pair of same-type events ≤ 50 s apart (any 60 s window
    // covering both exists ⇒ a pane holds partial sums at the stop).
    // The sparsest fixture has no such pair — there the drain falls
    // back to the corpus min/max MIDPOINT (data-derived, not a
    // fixture-specific date) and still verifies watermark restore +
    // exactly-once resume, with the spanning assertion applied only
    // when the corpus admits a spanning pane.
    val (cutTs, paneSpans) =
      VersionedMemo(spark, dir, "restart_kpi_cut") {
        val byType = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val closePair = events(spark, dir)
          .withColumn("prev", lag(col("ts"), 1).over(byType))
          .filter(col("prev").isNotNull &&
            (unix_millis(col("ts")) - unix_millis(col("prev")))
              .between(lit(2L), lit(50000L)))
          .orderBy(col("prev"), col("ts"), col("event_id"))
          .limit(1)
          .select(unix_millis(col("prev")).as("a"),
                  unix_millis(col("ts")).as("b"))
          .collect()
        (new java.sql.Timestamp(closePair.headOption
           .fold(corpusMidMs(spark, dir))(r => (r.getLong(0) + r.getLong(1)) / 2)),
         closePair.nonEmpty)
      }
    val (drained, c1) =
      restartPasses(spark, dir, "restart_kpi", cutTs, OutputMode.Update)(
        EventPipeline.slidingKpi)
    require(drained.filter(col("batch_id") < c1).limit(1).count() > 0,
            "pass 1 emitted no pane — the cut precedes all data, so the " +
              "restart restored nothing")
    if (paneSpans) {
      val spanned = drained.filter(
        col("batch_id") >= c1 &&
          col("window_start") < lit(cutTs) && col("window_end") > lit(cutTs))
        .limit(1).count()
      require(spanned > 0,
              "no pane overlapping the cut re-emitted after the resume — " +
                "the split pane's restored partial sums were never extended")
    }
    kpiPaneReadback(lastPerKey(drained, Seq("event_type", "window_start")))
  }

  /** Gap of the session window [[EventPipeline.sessionStream]] closes on. */
  private val SessionGapMs = 1800000L

  /** The session restarts' cut (clean and dirty): the midpoint of the
    * first in-session inter-event pause after the corpus midpoint, so
    * some session provably straddles it. Pause floor of 2 ms keeps the
    * integer midpoint STRICTLY between the two events — a 0/1 ms pause
    * would floor the cut onto the earlier event and push both past it,
    * voiding the span. Upper bound gap − 1: session_window merges only
    * on a gap STRICTLY below the 30-minute timeout ([start, start +
    * gap)), so a pause of exactly the gap would straddle a session
    * boundary and make the spanning-session require fail spuriously.
    * A 1-row driver lookup, memoized per file version.
    */
  private def sessionPauseCut(spark: SparkSession,
                              dir: String): java.sql.Timestamp =
    VersionedMemo(spark, dir, "session_pause_cut") {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pause = events(spark, dir)
        .withColumn("prev", lag(col("ts"), 1).over(byUser))
        .filter(col("prev").isNotNull &&
          (unix_millis(col("ts")) - unix_millis(col("prev")))
            .between(lit(2L), lit(SessionGapMs - 1)) &&
          unix_millis(col("prev")) >= corpusMidMs(spark, dir))
        .orderBy(col("prev"), col("ts"), col("event_id"))
        .limit(1)
        .select(unix_millis(col("prev")).as("a"),
                unix_millis(col("ts")).as("b"))
        .collect()
      require(pause.nonEmpty,
              "no in-session pause after the corpus midpoint — the " +
                "session restart would be vacuously correct with no " +
                "spanning session")
      new java.sql.Timestamp((pause(0).getLong(0) + pause(0).getLong(1)) / 2)
    }

  /** A session that began before `cut` and ended past it: its end is its
    * last event + the gap, so ending at or after cut + gap means a
    * post-cut last event.
    */
  private def spansSessionCut(cut: java.sql.Timestamp): Column =
    col("session_start") < lit(cut) &&
      col("session_end") >= lit(new java.sql.Timestamp(cut.getTime + SessionGapMs))

  /** KILL-AND-RESUME for the SESSION-WINDOW state family: an OPEN
    * session must survive the restart. The cut is DERIVED FROM THE DATA
    * ([[sessionPauseCut]]), so some session provably straddles it:
    * pass 1 stops with that session held in the session store
    * (unemittable: its end exceeds pass 1's final watermark by
    * construction, since every pass-1 event precedes the cut and the
    * session's end is its last event + the 30-minute gap), and pass 2,
    * resuming the same checkpoint, must MERGE the restored open session
    * with its post-cut events — Spark's session-window state merge
    * across a query restart. The sentinel (max ts + 2 h, staged only in
    * pass 2's last chunk) then flushes every session exactly once, and
    * the union of both passes' append-mode emissions must hash-match
    * the batch sessionization oracle: a session lost, split in two, or
    * double-emitted at the restart fails the gate.
    */
  def streamRestartSessionDrain(spark: SparkSession, dir: String): DataFrame = {
    val cutTs = sessionPauseCut(spark, dir)
    val (drained, c1) =
      restartPasses(spark, dir, "restart_session", cutTs, OutputMode.Append,
                    tail = Some(flushSentinel(spark, dir)))(
        EventPipeline.sessionStream)
    // the restored-merge evidence itself: some session straddling the
    // cut emitted AFTER the resume
    require(drained.filter(col("batch_id") >= c1 && spansSessionCut(cutTs))
              .limit(1).count() > 0,
            "no session straddling the cut emitted after the resume — the " +
              "restored open session was never merged with post-cut events")
    sessionReadback(drained)
  }

  /** The join restarts' cut (clean and dirty): the midpoint of the first
    * same-user click→purchase pair whose purchase lands in (click +
    * 10 s, click + 10 min], so the click falls before the cut and its
    * purchase after it. `afterMs` bounds the click from below (the dirty
    * join picks its pair after the corpus midpoint). Cached per
    * (dataset, bound).
    */
  private def clickPurchaseCut(spark: SparkSession, dir: String,
                               afterMs: Option[Long]): java.sql.Timestamp =
    VersionedMemo(spark, dir, s"click_purchase_cut ${afterMs.getOrElse("")}") {
      val ev = events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"),
                col("event_id").as("cid"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
                col("event_id").as("pid"))
      val pairs = clicks
        .join(purchases,
              col("cu") === col("pu") &&
                col("pts") > col("cts") + expr("INTERVAL 10 SECONDS") &&
                col("pts") <= col("cts") + expr("INTERVAL 10 MINUTES"))
      val pair = afterMs.fold(pairs)(ms => pairs.filter(unix_millis(col("cts")) >= ms))
        .orderBy(col("cts"), col("pts"), col("cid"), col("pid"))
        .limit(1)
        .select(unix_millis(col("cts")).as("a"),
                unix_millis(col("pts")).as("b"))
        .collect()
      require(pair.nonEmpty,
              "no click->purchase pair" +
                afterMs.fold("")(_ => " after the corpus midpoint") +
                " with room for a cut between them — the join-state " +
                "restart would be vacuously correct")
      new java.sql.Timestamp((pair(0).getLong(0) + pair(0).getLong(1)) / 2)
    }

  private def spansJoinCut(cut: java.sql.Timestamp): Column =
    col("click_ts") < lit(cut) && col("purchase_ts") >= lit(cut)

  /** KILL-AND-RESUME for the STREAM-STREAM JOIN state family: an
    * unmatched click held in the join state must survive the restart
    * and match a purchase that arrives only after it. The cut is again
    * data-derived ([[clickPurchaseCut]]) — so the click is in pass 1,
    * its purchase in pass 2, and the emitted match can only come from
    * the RESTORED symmetric-hash join state (watermark safety: pass 1's
    * final watermark is below the cut, hence below click + 10 min, so
    * the spanning click cannot have been evicted; every pass-2 row is ≥
    * the cut, hence not late). Union of both passes' inner-join
    * emissions vs the batch attribution oracle.
    */
  def streamRestartJoinDrain(spark: SparkSession, dir: String): DataFrame = {
    val cutTs = clickPurchaseCut(spark, dir, afterMs = None)
    val (drained, c1) =
      restartPasses(spark, dir, "restart_join", cutTs, OutputMode.Append)(
        EventPipeline.attributionStream)
    // the restored-join-state evidence itself: a cut-spanning match
    // emitted after the resume
    require(drained.filter(col("batch_id") >= c1 && spansJoinCut(cutTs))
              .limit(1).count() > 0,
            "no cut-spanning match emitted after the resume — the " +
              "restored click state never joined a post-restart purchase")
    attributionReadback(drained)
  }

  /** CHECKPOINT KILL-AND-RESUME under the hash gate (T11,
    * `EventAggregationJob.java:49-53` checkpointing / the reference's
    * crash-recovery claim): pass 1 drains only the first-half chunks and
    * STOPS — a clean shutdown with the state store and source offsets
    * committed to the checkpoint; the second-half chunks then appear in
    * the source directory, and pass 2 starts a NEW query on the SAME
    * checkpoint, which must resume exactly where pass 1 left off — skip
    * the already-committed files, restore every user's state, and extend
    * it with the delta. The final view (last emission per user across
    * BOTH passes) is gated against the from-scratch full-corpus
    * aggregate: a lost or double-counted batch on restart flips
    * `n_events`/`sum_micros` and fails the hash. Fail-loud guards assert
    * the restart actually proved something: at least one user spans the
    * cut (so pass 2 must merge restored state with new data, not start
    * cold), and pass 2 ran new batch ids beyond pass 1's.
    */
  def streamRestartDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      // corpus min/max midpoint — data-derived, so a fixture with a
      // different date range still splits into two non-trivial passes
      // (fixture-validity probe memoized per file version)
      val cut = VersionedMemo(spark, dir, "restart_cut") {
        val cutTs = new java.sql.Timestamp(corpusMidMs(spark, dir))
        val ev = events(spark, dir)
        val spanning = ev.filter(col("ts") < lit(cutTs)).select("user_id")
          .intersect(ev.filter(col("ts") >= lit(cutTs)).select("user_id"))
          .limit(1).count()
        require(spanning > 0,
                "restart drain fixture has no user spanning the cut — the " +
                  "resume would be vacuously correct without restoring state")
        cutTs
      }
      val (drained, _) =
        restartPasses(spark, dir, "restart", cut, OutputMode.Update)(in =>
          TypedStatefulProcessors
            .userSnapshotStream(spark, EventPipeline.typedEvents(in)).toDF())
      snapshotReadback(lastPerKey(drained, Seq("user_id")))
    }

  /** DIRTY restart — a crash in the sink-write → checkpoint-commit
    * window, the one exactly-once face the clean-stop restart drains
    * never exercise (T11/K5; the reference's headline reliability claim
    * is crash recovery with no data loss — `README.md:16`, 30 s
    * checkpoints `EventAggregationJob.java:49-53` — and at 100 TB a
    * crash WILL land in that window eventually). The foreachBatch sink
    * writes micro-batch 1's parquet and then THROWS on the first
    * attempt (once-flag), so the query dies with the sink output on
    * disk but no commit-log entry — exactly the torn state a process
    * kill leaves. A new query on the SAME checkpoint re-runs batch 1
    * over the offset-pinned same input from state version 1, and —
    * because every batch OVERWRITES its own `batch_id=` subdirectory
    * ([[EventPipeline.idempotentBatchWriter]]) — REPLACES the orphaned
    * attempt instead of appending a duplicate. The final panes are
    * gated against the unchanged batch sliding oracle: an append-style
    * sink would double every batch-1 pane row and (after last-per-key)
    * still race duplicate batch_id rows — the exact-integer hash flips
    * either way. Fail-loud audits: the crash fired AFTER the sink write
    * (orphan files present), batch 1 was provably uncommitted at the
    * crash, and the re-run REPLACED the orphaned files.
    */
  def streamDirtyRestartDrain(spark: SparkSession, dir: String): DataFrame =
    kpiPaneReadback(lastPerKey(
      dirtyRestartedStore(
        spark, tempWorkDir("graft_dirty_restart_drain"),
        EventPipeline.slidingKpi(
          stagedStream(spark, dir))),
      Seq("event_type", "window_start")))

  /** The SAME dirty-restart window for the transformWithState family:
    * the crashed attempt of batch 1 has already COMMITTED state version
    * 2 to the store (tasks commit state before the query-level commit
    * log is written), so the resumed query's re-execution of batch 1
    * must load state version 1 — STATE-VERSION ROLLBACK, the RocksDB
    * face of re-execution the windowed-agg drain doesn't isolate — and
    * refold the batch to identical snapshots. Final per-user view vs
    * the unchanged from-scratch aggregate oracle.
    */
  def streamDirtySnapshotDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_dirty_snapshot_drain")
      val staged = EventPipeline.typedEvents(stagedStream(spark, dir))
      snapshotReadback(lastPerKey(
        dirtyRestartedStore(
          spark, work,
          TypedStatefulProcessors.userSnapshotStream(spark, staged).toDF()),
        Seq("user_id")))
    }

  /** The SAME dirty-restart window for the SESSION-WINDOW state family:
    * the crash batch must re-MERGE restored open-session state. The cut
    * is the clean restart's ([[sessionPauseCut]]), and the staging pins
    * the crash to the session-merge replay: chunk 0 — the whole pre-cut
    * half — is micro-batch 0, so state version 1 provably
    * holds the straddling OPEN session (every pre-cut event precedes the
    * cut, so batch 0's watermark sits below the cut, below that
    * session's end); the crashed-and-re-executed batch 1 is the first
    * post-cut chunk, whose re-run must load version 1 (state-version
    * rollback) and merge the open session with its post-cut events. The
    * sentinel in the last chunk flushes every session exactly once; the
    * final emissions are gated against the unchanged batch sessionize
    * oracle, with a fail-loud assert that some session straddling the
    * cut was emitted at-or-after the crash batch.
    */
  def streamDirtySessionDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_dirty_session_drain")
    val cutTs = sessionPauseCut(spark, dir)
    // the whole file set is visible from the start (the crash is
    // injected in foreachBatch, not via file visibility), so the drain
    // streams DIRECTLY from the shared immutable staging cache — no
    // per-run staging jobs
    val stage = stagedPath(spark, dir, "dirty_session", 3) { d =>
      val ev = events(spark, dir)
      stageChunked(ev.filter(col("ts") < lit(cutTs)), d, 1, ByTime)
      stageChunked(
        ev.filter(col("ts") >= lit(cutTs)).unionAll(flushSentinel(spark, dir)),
        d, 2, ByTime, firstChunk = 1)
    }
    val drained = dirtyRestartedStore(
      spark, work,
      EventPipeline.sessionStream(EventPipeline.readEventFileStream(spark, stage)),
      mode = OutputMode.Append)
    // the session-merge-replay evidence: a session straddling the cut
    // emitted at-or-after the crashed batch — its merge necessarily
    // replayed the restored version-1 open state
    require(drained.filter(col("batch_id") >= 1L && spansSessionCut(cutTs))
              .limit(1).count() > 0,
            "no session straddling the cut emitted at-or-after the crash " +
              "batch — the re-execution never replayed the open session")
    sessionReadback(drained)
  }

  /** The SAME dirty-restart window for the STREAM-STREAM JOIN state
    * family: the crashed attempt of the fail batch has already committed
    * join-BUFFER version 2 (both symmetric sides), so the re-executed
    * batch must roll the buffers back to version 1 and re-derive its
    * matches — otherwise the re-run double-buffers its rows and a later
    * purchase matches twice. Cut = midpoint of the first same-user
    * click→purchase pair (purchase in (click+10 s, click+10 min]) whose
    * click follows the corpus mid-ts, so the spanning click is buffered
    * in pre-crash state and its purchase arrives at-or-after the crash
    * batch; staging mirrors [[streamAttributionDrain]]'s two-source-
    * instance file consumption (pre-cut as 2 chunks, post-cut as 3).
    * Union of all emitted matches vs the unchanged batch attribution
    * oracle.
    */
  def streamDirtyJoinDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_dirty_join_drain")
    val cutTs = clickPurchaseCut(spark, dir, Some(corpusMidMs(spark, dir)))
    // the self-join reads the stage through two source instances (~2
    // files per trigger — see JoinChunks), so pre-cut stages as TWO
    // chunks (micro-batch 0 = the whole pre-cut half, buffering the
    // spanning click) and post-cut as three (the crash batch 1 then
    // holds the earliest post-cut slice, which contains the spanning
    // purchase — its match is IN the orphaned sink output and must be
    // re-derived from rolled-back buffers). The whole file set is
    // visible from the start (crash injected in foreachBatch), so the
    // drain streams DIRECTLY from the shared staging cache.
    val stage = stagedPath(spark, dir, "dirty_join", 5) { d =>
      val ev = events(spark, dir)
      stageChunked(ev.filter(col("ts") < lit(cutTs)), d, 2, ByTime)
      stageChunked(ev.filter(col("ts") >= lit(cutTs)), d, 3, ByTime,
                   firstChunk = 2)
    }
    val drained = dirtyRestartedStore(
      spark, work,
      EventPipeline.attributionStream(
        EventPipeline.readEventFileStream(spark, stage)),
      mode = OutputMode.Append)
    // the rolled-back-buffer evidence: a cut-spanning match emitted
    // at-or-after the crash batch
    require(drained.filter(col("batch_id") >= 1L && spansJoinCut(cutTs))
              .limit(1).count() > 0,
            "no cut-spanning match emitted at-or-after the crash batch — " +
              "the re-executed batch never probed the restored click state")
    attributionReadback(drained)
  }

  /** The injected-crash scaffold shared by the dirty-restart drains:
    * run `streamed` through an update-mode AvailableNow drain whose
    * foreachBatch writes batch `failAt`'s sink output and then THROWS
    * on the first attempt; assert the torn state (orphan sink files
    * present, batch uncommitted), restart on the same checkpoint, and
    * assert the re-execution REPLACED the orphan. Returns the drained
    * store read back.
    */
  private def dirtyRestartedStore(spark: SparkSession, work: String,
                                  streamed: DataFrame,
                                  failAt: Long = 1L,
                                  mode: OutputMode = OutputMode.Update)
      : DataFrame = {
    val store = s"$work/store"
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQuery() = streamed.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        EventPipeline.idempotentBatchWriter(store)(b, id)
        if (id == failAt && injected.compareAndSet(false, true))
          sys.error("graft injected crash: sink written, commit pending")
        ()
      }
      .start()
    val pass1 = startQuery()
    val died =
      try { pass1.awaitTermination(); false }
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => true
      }
    require(died && injected.get,
            "the injected post-sink crash never fired — the dirty-restart " +
              "window was not exercised")
    val attemptDir = java.nio.file.Paths.get(s"$store/batch_id=$failAt")
    val orphan = listParquetNames(attemptDir)
    require(orphan.nonEmpty,
            "no sink files from the killed attempt — the crash landed " +
              "before the sink write, outside the sink-to-commit window")
    require(executedBatches(work) <= failAt,
            s"batch $failAt was already committed at the crash — the " +
              "restart below would not re-execute it")
    val pass2 = startQuery()
    pass2.awaitTermination()
    require(executedBatches(work) >= MultiBatchChunks,
            "the restarted query did not complete the staged batches — " +
              "the re-execution claim would be vacuous")
    val after = listParquetNames(attemptDir)
    require(after.nonEmpty && after.intersect(orphan).isEmpty,
            "the re-executed batch did not REPLACE the orphaned attempt's " +
              "files — an append-style sink would have double-written here")
    unloadStateStores(spark)
    readStore(spark, store)
  }

  /** Parquet part-file names directly under `dir` (empty when the dir
    * does not exist) — the dirty-restart drain's replaced-not-appended
    * evidence.
    */
  private def listParquetNames(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally s.close()
    }

  /** STATE-STORE TELEMETRY for a completed drain: row count read back
    * through Spark's `statestore` source (what the store semantically
    * HOLDS — panes, keys, or per-element list entries) plus the
    * checkpoint state directory's on-disk bytes and file count. The
    * scaling probe prints this at 1× and N× so "state is bounded" is a
    * measured number, not prose: a windowed agg's rows scale with pane
    * count (time-bounded), a detector's with keys × ring size, an LSH
    * bucket store's with MaxBucket-capped membership — none with raw
    * event count. Reads the LAST work dir the named drain allocated
    * (still live until the drain's next run); `stateVar` names the
    * transformWithState column family, None for agg/fMGWS default
    * stores. Row count falls back to −1 if the reader cannot decode a
    * store (telemetry must never fail a probe run).
    *
    * `readers`: one option map per state-reader pass, summed — most
    * stores need a single pass (empty map, or `stateVarName` for a
    * transformWithState column family); the stream-stream join keeps
    * TWO buffers, read as `joinSide=left` + `joinSide=right`. Any
    * failing pass poisons the total to −1 rather than under-reporting.
    */
  def stateTelemetry(spark: SparkSession, prefix: String,
                     readers: Seq[Map[String, String]])
      : Option[(Long, Long, Long)] =
    Option(liveDirs.get(prefix)).map { dir =>
      val ckpt = s"$dir/ckpt"
      val counts = readers.map { opts =>
        try spark.read.format("statestore").options(opts).load(ckpt).count()
        catch { case NonFatal(_) => -1L }
      }
      val rows = if (counts.exists(_ < 0)) -1L else counts.sum
      val stateDir = java.nio.file.Paths.get(s"$ckpt/state")
      val (bytes, files) =
        if (!Files.isDirectory(stateDir)) (0L, 0L)
        else {
          val s = Files.walk(stateDir)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.filter(Files.isRegularFile(_))
              .foldLeft((0L, 0L)) { case ((b, f), p) =>
                (b + Files.size(p), f + 1)
              }
          } finally s.close()
        }
      (rows, bytes, files)
    }

  /** TTL-BOUNDED LSH ingest-dedup state at scale — the measured form of
    * SCALING.md's "linear-in-corpus, TTL-boundable when the dedup
    * horizon is finite" claim (the no-TTL telemetry row is honestly
    * linear: 20k → 200k membership entries at 10× docs). The probe:
    * the corpus at `dir`'s banded signature keys drain as HISTORY
    * ([[MultiBatchChunks]] chunk files), the `graft.state.ttl` window
    * passes, then a FIXED-SIZE LIVE window (the base corpus at
    * `liveDir`'s bands — identical content at every scale) drains
    * through the SAME checkpoint. Every history bucket entry has then
    * expired, so the FINAL `bucketMembers` store must hold ~the live
    * window's entries no matter how much history streamed through —
    * the store is bounded by the TTL horizon's traffic, not the corpus.
    *
    * TTL forces TimeMode.ProcessingTime, under which transformWithState
    * always requests another batch — `Trigger.AvailableNow` and
    * `processAllAvailable` would block forever (the exact bound
    * StreamJob.ttlDrain documents), so this probe uses the same
    * poll-the-progress workaround: default trigger, await the input
    * rows and a TTL sweep (`numRowsRemoved > 0`) with a fail-loud
    * deadline, then one extra sweep interval before the read.
    *
    * Returns measured counts for the SCALING.md row:
    * history/live band rows in, rows the TTL sweeps reported removed,
    * and the final state rows.
    */
  def lshTtlStateProbe(spark: SparkSession, dir: String, liveDir: String,
                       ttlMs: Long = 4000L): Map[String, Long] = {
    graft.Posture.withConf(spark, graft.Posture.rocksDb,
                           StateTtl.Key -> Some(ttlMs.toString)) {
      val work = tempWorkDir("graft_lshttl_probe")
      val stage = s"$work/stage"
      val byBand = Seq(col("doc_id"), col("band"))
      stageChunked(graft.operators.DedupOps.defaultLshBands(spark, dir),
                   stage, MultiBatchChunks, byBand)
      val historyRows = spark.read.parquet(stage).count()
      val liveBands = graft.operators.DedupOps.defaultLshBands(spark, liveDir)
      val liveRows = liveBands.count()
      import spark.implicits._
      val bandsIn = fileStream(spark, stage).as[BandKeyRow]
      val q = TypedStatefulProcessors.lshCandidateStream(spark, bandsIn)
        .toDF()
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch(EventPipeline.idempotentBatchWriter(s"$work/store"))
        .start()
      // recentProgress rotates (processing-time mode churns no-data
      // batches), so fold the monotone counters as they stream past
      // instead of summing the buffer at the end
      val seenBatches = scala.collection.mutable.Set[Long]()
      var inputSum = 0L
      var removedSum = 0L
      def fold(): Unit =
        q.recentProgress.foreach { p =>
          if (seenBatches.add(p.batchId)) {
            inputSum += p.numInputRows
            removedSum += p.stateOperators.map(_.numRowsRemoved).sum
          }
        }
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + (240000L + ttlMs) * 1000000L
        while ({ fold(); !cond }) {
          require(System.nanoTime() < deadline,
                  s"lshTtlStateProbe: timed out awaiting $what")
          Thread.sleep(100)
        }
      }
      // keep folding THROUGH the sleeps: recentProgress is a 100-entry
      // ring and processing-time mode churns no-data batches, so an
      // unpolled sleep could rotate a sweeping batch's counters away
      def sleepFold(ms: Long): Unit = {
        val end = System.nanoTime() + ms * 1000000L
        while (System.nanoTime() < end) { fold(); Thread.sleep(100) }
      }
      try {
        await(inputSum >= historyRows, "the history chunks to drain")
        sleepFold(ttlMs + 1500L) // let every history entry expire
        stageChunked(liveBands, stage, 1, byBand,
                     firstChunk = MultiBatchChunks)
        await(inputSum >= historyRows + liveRows && removedSum > 0,
              "the live window to drain and a TTL sweep to report " +
                "removals")
        sleepFold(1500L) // one more sweep interval past the last data
        fold()
      } finally {
        q.stop(); q.awaitTermination()
      }
      unloadStateStores(spark)
      val finalRows = spark.read.format("statestore")
        .option("stateVarName", "bucketMembers")
        .load(s"$work/ckpt").count()
      require(removedSum > 0 && finalRows > 0,
              s"lshTtlStateProbe: vacuous run (removed=$removedSum, " +
                s"final=$finalRows) — nothing expired or nothing survived")
      Map("history_band_rows" -> historyRows,
          "live_band_rows" -> liveRows,
          "ttl_removed_rows" -> removedSum,
          "state_rows_final" -> finalRows)
    }
  }

  /** How far behind the previous batch's max event time a shifted row
    * may arrive and still be ADMISSIBLE: 9 s against the pipelines' 10 s
    * watermark delay, a full second of safety margin so ms-truncated
    * gap arithmetic can never push a shifted row under the watermark.
    */
  private val OooSlackMs = 9000L

  /** At most this many rows shift across each chunk boundary — enough
    * for real merge evidence, surgical enough that the staging stays a
    * faithful replay of the corpus.
    */
  private val OooMaxShift = 8

  /** OUT-OF-ORDER-WITHIN-WATERMARK staging (the arrival class T1's
    * `forBoundedOutOfOrderness(Duration.ofSeconds(10))` —
    * `EventAggregationJob.java:68-71` — exists to admit, and the one the
    * monotone [[stageChunked]] replays never exercise): the corpus is
    * staged as [[MultiBatchChunks]] chunk files, but the chunk
    * boundaries are placed on TIGHT inter-event gaps (≤ [[OooSlackMs]])
    * and the boundary row's close predecessors are SHIFTED into the
    * next chunk file — file assignment only, event time untouched. Each
    * shifted row therefore arrives in micro-batch k+1 strictly behind
    * batch k's max event time yet ≥ 1 s above the 10 s watermark:
    * late-but-admissible, and the engine must merge it into the
    * still-open pane / keyed state batch k persisted (pane-open proof:
    * a window covering the row ends after the row's ts ≥ watermark, so
    * it cannot have been evicted).
    *
    * The two forms ([[oooStaged]], [[oooSessionStaged]]) differ only in
    * what a boundary PREFERS and what makes a shifted row STRONG merge
    * evidence: `form` adds its per-row columns over the ranked corpus,
    * `pref` is evaluated on each boundary candidate, `strong` on each
    * shifted row (with its `boundary_ms` and the boundary row's
    * `boundary_type`), and `sidecar` names extra `_moved` columns.
    * Corpora without a preferred tight gap (the sparsest fixture) fall
    * back to any-type gaps and the weaker per-row merge evidence. The
    * shifted rows ride an underscore-hidden `_moved` sidecar (invisible
    * to the file source), so the cached staging is self-describing:
    * drains re-read it instead of re-deriving the assignment.
    *
    * Coverage note: the two forms put THREE of the
    * four streaming state families under the admissible-late gate
    * (windowed agg, keyed transformWithState, session window). The
    * fourth — the stream-stream join — needs no OOO variant:
    * [[streamRestartJoinDrain]] already hash-gates a purchase arriving
    * BATCHES after its click and matching only by probing the restored
    * join buffer, which is exactly the buffered-lookup path an
    * admissible-late arrival exercises (a symmetric inner join is
    * arrival-order-free within the watermark by construction).
    *
    * The order-DEPENDENT folds (rolling-stats detector, EWMA, CUSUM,
    * funnel, transitions) are intentionally NOT OOO-staged: their
    * semantics are defined over per-key event-time order, which
    * production delivery provides by keying the Kafka topic (per-
    * partition order ⇒ per-key arrival order — the reference job's own
    * assumption), and in-batch the processors sort by (event-time µs,
    * event_id), so out-of-orderness WITHIN one trigger interval is
    * already tolerated and spec-pinned. Only the commutative/mergeable
    * families must additionally tolerate CROSS-batch reordering — and
    * those are exactly the ones gated here.
    */
  private def buildOooStage(spark: SparkSession, dir: String, stageDir: String,
                            form: DataFrame => DataFrame, pref: Column,
                            strong: Column, sidecar: Seq[Column]): Unit = {
    val chunks = MultiBatchChunks
    // global no-partition rank = a SINGLE-PARTITION sort (Spark rightly
    // warns at runtime): HARNESS-SCALE staging derivation only (fixture
    // corpora, ≤ ~1M rows) — never a shape to copy into an operator
    val ranked = form(
      events(spark, dir)
        .withColumn("rn", row_number().over(OooOrder).cast("long"))
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev_ms", lag(col("ms"), 1).over(OooOrder)))
      .persist(MEMORY_AND_DISK)
    try {
      val n = ranked.count()
      require(n > chunks, s"corpus too small to stage $chunks chunks")
      // boundary candidates: rows whose immediate predecessor is within
      // (0, OooSlackMs] — the predecessor is the row that will shift.
      // rn bounds keep every chunk non-empty after the split.
      val cands = ranked
        .withColumn("pref", pref)
        .filter(col("prev_ms").isNotNull &&
          col("ms") > col("prev_ms") &&
          col("ms") - col("prev_ms") <= lit(OooSlackMs) &&
          col("rn") > 1 && col("rn") < n)
        .select(col("rn"), col("ms"), col("pref"))
      val ((b1rn, b1ms), (b2rn, b2ms)) = pickOooBoundaries(cands, n)
      val assigned = oooAssign(ranked, b1rn, b1ms, b2rn, b2ms)
      val boundaryType = ranked
        .filter(col("rn") === b1rn || col("rn") === b2rn)
        .select(col("rn").as("brn"), col("event_type").as("boundary_type"))
      val moved = assigned
        .filter(col("moved"))
        .withColumn("brn", when(col("rn") < b1rn, b1rn).otherwise(b2rn))
        .withColumn("boundary_ms",
                    when(col("rn") < b1rn, b1ms).otherwise(b2ms))
        .join(broadcast(boundaryType), Seq("brn"))
        .withColumn("strong", strong)
        .select(Seq(col("event_id"), col("ts"), col("user_id"),
                    col("event_type"), col("to_chunk"), col("boundary_ms"),
                    col("strong")) ++ sidecar: _*)
      requireBothBoundariesShift(moved)
      writeChunkFiles(
        (0 until chunks).map(k =>
          assigned.filter(col("to_chunk") === k)
            .select("event_id", "ts", "user_id", "event_type", "value")),
        stageDir)
      moved.coalesce(1).write.mode("overwrite").parquet(s"$stageDir/_moved")
    } finally ranked.unpersist()
  }

  private val OooOrder = Window.orderBy(col("ts"), col("event_id"))

  /** Two chunk boundaries for an OOO staging: the tight-gap candidates
    * (columns rn, ms, pref) nearest the ideal N/3 and 2N/3 split points,
    * `pref`-marked candidates first — a handful of 1-row driver probes
    * (metadata-scale, like the restart cuts). b2 must sit strictly
    * beyond b1 + 1: an adjacent second boundary would leave its shift
    * band (b1, b2) empty and silently halve the OOO coverage. When the
    * pref-first b1 lands past every remaining candidate (pref gaps
    * clustered at the corpus tail), the PAIRING is retried — first with
    * the nearest any-type b1, then anchoring b2 at the LAST candidate
    * and picking b1 before it — so a hard error means the corpus truly
    * has no two non-adjacent tight gaps, not that the greedy first pick
    * painted us into a corner.
    */
  private def pickOooBoundaries(cands: DataFrame,
                                n: Long): ((Long, Long), (Long, Long)) = {
    def nearest(of: DataFrame, target: Long, minRn: Long,
                maxRnExcl: Long): Option[(Long, Long)] =
      of.filter(col("rn") > minRn && col("rn") < maxRnExcl)
        .orderBy(abs(col("rn") - target), col("rn"))
        .limit(1)
        .collect()
        .headOption
        .map(r => (r.getLong(0), r.getLong(1)))
    // pref-preferred pick (same preference order as before the retry fix)
    def pick(target: Long, minRn: Long,
             maxRnExcl: Long = Long.MaxValue): Option[(Long, Long)] =
      nearest(cands.filter(col("pref")), target, minRn, maxRnExcl)
        .orElse(nearest(cands, target, minRn, maxRnExcl))
    def pairWith(b1: Option[(Long, Long)]) =
      b1.flatMap(b => pick(2 * n / 3, b._1 + 1).map((b, _)))
    lazy val lastCand = cands.orderBy(col("rn").desc).limit(1).collect()
      .headOption.map(r => (r.getLong(0), r.getLong(1)))
    val prefB1 = nearest(cands.filter(col("pref")), n / 3, 1L, Long.MaxValue)
    lazy val anyB1 = nearest(cands, n / 3, 1L, Long.MaxValue)
    pairWith(prefB1.orElse(anyB1))
      // retry with the any-type b1 ONLY when the first attempt actually
      // used a (different) pref b1 — with no pref candidates the first
      // attempt already fell back to the any-type nearest, and repeating
      // the identical pairing would just burn driver probes
      .orElse(if (prefB1.isDefined && prefB1 != anyB1) pairWith(anyB1)
              else None)
      .orElse(lastCand.flatMap(b2 =>
        pick(n / 3, 1L, b2._1 - 1).map((_, b2))))
      .getOrElse(sys.error(
        "no pair of non-adjacent tight inter-event gaps to place the " +
          "out-of-order chunk boundaries on — the admissible-late merge " +
          "claim would be vacuous on this corpus"))
  }

  /** Chunk + shift assignment shared by the OOO stagings: range chunks
    * at the two picked boundaries, with each boundary's close
    * predecessors (≤ [[OooMaxShift]] rows, within [[OooSlackMs]] of the
    * boundary row) marked `moved` and assigned one chunk later. ONE
    * definition, so the band arithmetic cannot desynchronize between
    * the kpi/snapshot staging and the session staging.
    */
  private def oooAssign(ranked: DataFrame, b1rn: Long, b1ms: Long,
                        b2rn: Long, b2ms: Long): DataFrame =
    ranked
      .withColumn("chunk",
                  when(col("rn") <= b1rn, 0)
                    .when(col("rn") <= b2rn, 1)
                    .otherwise(2))
      .withColumn(
        "moved",
        (col("rn") < b1rn && col("rn") >= b1rn - OooMaxShift &&
          col("ms") >= b1ms - OooSlackMs) ||
          (col("rn") > b1rn && col("rn") < b2rn &&
            col("rn") >= b2rn - OooMaxShift &&
            col("ms") >= b2ms - OooSlackMs))
      .withColumn("to_chunk",
                  col("chunk") + when(col("moved"), 1).otherwise(0))

  /** Fail loudly if a boundary shifted nothing — a corpus whose tight
    * gaps cluster could otherwise gate with out-of-order evidence at
    * only one of the two boundaries.
    */
  private def requireBothBoundariesShift(moved: DataFrame): Unit = {
    val chunksHit = moved.select(col("to_chunk")).distinct().count()
    require(chunksHit == 2,
            s"OOO staging shifted rows across $chunksHit of 2 boundaries " +
              "— a boundary with an empty shift band would silently " +
              "weaken the admissible-late coverage")
  }

  /** The cached OOO staging for `dir`, plus its `_moved` sidecar.
    * Boundaries prefer gaps whose two rows share an event type — then a
    * sliding pane provably holds rows from BOTH batches, and
    * [[streamOooKpiDrain]] asserts that pane's two-batch emission with a
    * grown count; a shifted row is `strong` when it shares its boundary
    * row's event type.
    */
  private[graft] def oooStaged(spark: SparkSession,
                               dir: String): (String, DataFrame) =
    oooStagedAs(spark, dir, "ooo")(buildOooStage(
      spark, dir, _,
      form = _.withColumn("prev_type", lag(col("event_type"), 1).over(OooOrder)),
      pref = col("event_type") === col("prev_type"),
      strong = col("event_type") === col("boundary_type"),
      sidecar = Nil))

  /** OOO staging tuned for the SESSION-WINDOW family, plus its `_moved`
    * sidecar: boundaries prefer tight gaps whose shifting predecessor has
    * an IN-SESSION prior event by the same user that provably stays in
    * an earlier chunk — then the late row must merge BACKWARD into a
    * session whose earlier rows streamed in a previous micro-batch, the
    * session-store merge the kpi/snapshot legs never drive. The sidecar
    * carries that prior's epoch ms (`prior_ms`, strong rows only), and a
    * sentinel chunk (max ts + 2 h, its own 4th micro-batch) flushes
    * every real session exactly as the monotone session drains do.
    * Corpora whose tight gaps have no same-user in-session prior (the
    * sparsest fixture) fall back to any tight gap; the drain then skips
    * the merge-evidence assertion and still gates the full result hash.
    */
  private[graft] def oooSessionStaged(spark: SparkSession,
                                      dir: String): (String, DataFrame) =
    oooStagedAs(spark, dir, "ooo_session") { d =>
      buildOooStage(
        spark, dir, d,
        form = _
          .withColumn("user_prev_ms",
                      lag(col("ms"), 1).over(Window.partitionBy(col("user_id"))
                        .orderBy(col("ts"), col("event_id"))))
          // this row has a same-user prior event close enough to share its
          // 30-minute session — STRICTLY below the gap: session_window
          // merges on [start, start + gap), so an exactly-gap prior lands
          // in a separate session and would arm the merge assertion with an
          // unmergeable pair
          .withColumn("in_session_prior",
                      col("user_prev_ms").isNotNull &&
                        col("ms") - col("user_prev_ms") < lit(SessionGapMs)),
        // the predecessor (the row that shifts) has an in-session prior
        // OLD enough to stay below the shift band, i.e. guaranteed to
        // execute in an earlier micro-batch
        pref = coalesce(lag(col("in_session_prior"), 1).over(OooOrder) &&
                          lag(col("user_prev_ms"), 1).over(OooOrder) <
                            col("ms") - lit(OooSlackMs),
                        lit(false)),
        strong = col("in_session_prior") &&
          col("user_prev_ms") < col("boundary_ms") - lit(OooSlackMs),
        sidecar = Seq(when(col("strong"), col("user_prev_ms")).as("prior_ms")))
      stageChunked(flushSentinel(spark, dir), d, 1, Nil,
                   firstChunk = MultiBatchChunks)
    }

  /** The cached OOO staging `variant` of `dir`, plus its `_moved` sidecar. */
  private def oooStagedAs(spark: SparkSession, dir: String, variant: String)
                         (build: String => Unit): (String, DataFrame) = {
    val stage = stagedPath(spark, dir, variant, MultiBatchChunks)(build)
    (stage, spark.read.parquet(s"$stage/_moved"))
  }

  /** Fail-loud audit that the OOO staging really is out of order: every
    * shifted row must sit in chunk FILE `to_chunk` (the file micro-batch
    * `to_chunk` reads) while a row with LATER event time sits in the
    * previous chunk file — and still be admissible, i.e. within the
    * 10 s watermark of that previous file's max event time. Read from
    * the staged files themselves, so a regression in the staging logic
    * (not just in this derivation) trips the drain.
    */
  private[graft] def oooStagingAudit(spark: SparkSession, stage: String,
                                     moved: DataFrame): Unit = {
    val movedRows = moved
      .select(col("event_id"), unix_millis(col("ts")).as("ms"),
              col("to_chunk"))
      .collect()
    require(movedRows.length >= 2,
            "OOO staging shifted fewer than two rows — the " +
              "admissible-late merge claim would be near-vacuous")
    val files = (0 until MultiBatchChunks)
      .map(k => spark.read.parquet(f"$stage/chunk-$k%04d.parquet"))
    val maxMs =
      files.map(_.agg(max(unix_millis(col("ts")))).head().getLong(0))
    movedRows.groupBy(_.getInt(2)).foreach { case (k, rows) =>
      val ids = rows.map(_.getLong(0)).toIndexedSeq
      val present = files(k)
        .filter(col("event_id").isin(ids: _*))
        .count()
      require(present == ids.length,
              s"${ids.length - present} shifted rows missing from chunk " +
                s"file $k — the staging did not execute the shift")
      rows.foreach { r =>
        require(r.getLong(1) < maxMs(k - 1),
                s"shifted event ${r.getLong(0)} is not behind chunk " +
                  s"${k - 1}'s max event time — not out of order")
        require(r.getLong(1) >= maxMs(k - 1) - 10000L,
                s"shifted event ${r.getLong(0)} is beyond the 10 s " +
                  "watermark of the previous batch — it would be " +
                  "DROPPED, not merged")
      }
    }
  }

  /** OUT-OF-ORDER arrival WITHIN the watermark, for the WINDOWED-AGG
    * state family, under the hash gate: [[EventPipeline.slidingKpi]]
    * over the [[buildOooStage]] replay — a handful of rows arrive one
    * micro-batch late (behind already-processed event times, inside the
    * 10 s tolerance) and must be merged into the still-open panes the
    * earlier batch persisted; the final panes are gated against the
    * unchanged batch sliding oracle, whose exact micro-unit sums flip
    * on a single dropped or double-counted row. Complements
    * [[streamLateDropDrain]] (rows BEYOND the watermark must drop):
    * together they pin both sides of the bounded-out-of-orderness
    * contract. Fail-loud evidence the late merge actually happened:
    * every shifted row's pane re-emits at that row's (later) batch, and
    * where a shifted row shares its boundary's event type, one pane
    * provably emits in BOTH batches with a grown count.
    */
  def streamOooKpiDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_ooo_kpi_drain")
    val (stage, moved) = oooStaged(spark, dir)
    oooStagingAudit(spark, stage, moved)
    val drained = drainToStore(
      spark,
      EventPipeline.slidingKpi(
        EventPipeline.readEventFileStream(spark, stage)),
      work, expectBatches = MultiBatchChunks)
    // every shifted row's own-type pane re-emitted at its late batch
    val movedKeys = moved.select(
      col("event_id").as("mid"), col("event_type").as("mt"),
      col("ts").as("mts"), col("to_chunk"), col("boundary_ms"),
      col("strong"))
    val paneHits = drained.join(
      broadcast(movedKeys),
      col("event_type") === col("mt") &&
        col("window_start") <= col("mts") && col("window_end") > col("mts") &&
        col("batch_id") === col("to_chunk"))
    val hitIds = paneHits.select(col("mid")).distinct().count()
    val movedCount = moved.count()
    require(hitIds == movedCount,
            s"only $hitIds of $movedCount shifted rows re-emitted a pane " +
              "at their late batch — the admissible-late merge never ran")
    // the strong form: a pane covering BOTH a shifted row and its
    // same-type boundary row emitted in both batches, count grown
    if (moved.filter(col("strong")).limit(1).count() > 0) {
      val spanned = drained.join(
        broadcast(movedKeys.filter(col("strong"))),
        col("event_type") === col("mt") &&
          col("window_start") <= col("mts") &&
          unix_millis(col("window_end")) > col("boundary_ms"))
        .groupBy(col("event_type"), col("window_start"), col("mid"))
        .agg(countDistinct(col("batch_id")).as("nb"),
             max(col("n_events")).as("mx"), min(col("n_events")).as("mn"))
        .filter(col("nb") >= 2 && col("mx") > col("mn"))
      require(spanned.limit(1).count() > 0,
              "no pane spanning a shifted row and its same-type boundary " +
                "row emitted in two batches with a grown count — the " +
                "open-pane merge left no cross-batch evidence")
    }
    kpiPaneReadback(lastPerKey(drained, Seq("event_type", "window_start")))
  }

  /** The SAME admissible-late arrival class for a KEYED-STATE leg: the
    * per-user incremental view ([[UserSnapshotStatefulProcessor]] —
    * count / exact micro-unit sum / max-µs last-seen, a fully
    * commutative algebra, which is precisely why a production pipeline
    * may accept bounded out-of-orderness here without reordering) over
    * the [[buildOooStage]] replay. State persisted for a user in batch
    * k is restored in batch k+1 and extended by a row that is BEHIND
    * batch k's max event time; the final snapshots must still equal the
    * from-scratch aggregate. Fail-loud evidence: every shifted row's
    * user re-emits at the row's late batch, and at least one such user
    * also emitted in an earlier batch with a strictly smaller count —
    * restored-and-extended, not recreated.
    */
  def streamOooSnapshotDrain(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val work = tempWorkDir("graft_ooo_snapshot_drain")
      val (stage, moved) = oooStaged(spark, dir)
      oooStagingAudit(spark, stage, moved)
      val drained = drainToStore(
        spark,
        TypedStatefulProcessors
          .userSnapshotStream(
            spark,
            EventPipeline.typedEvents(EventPipeline.readEventFileStream(spark, stage)))
          .toDF(),
        work, expectBatches = MultiBatchChunks)
      val movedUsers = moved.select(col("user_id").as("mu"),
                                    col("event_id").as("mid"),
                                    col("to_chunk"))
      val atBatch = drained.join(
        broadcast(movedUsers),
        col("user_id") === col("mu") && col("batch_id") === col("to_chunk"))
      val hit = atBatch.select(col("mid")).distinct().count()
      val movedCount = moved.count()
      require(hit == movedCount,
              s"only $hit of $movedCount shifted rows re-emitted their " +
                "user snapshot at their late batch — the late rows never " +
                "reached keyed state")
      val perUser = drained.join(broadcast(movedUsers),
                                 col("user_id") === col("mu"))
        .groupBy(col("user_id"), col("to_chunk"))
        .agg(max(when(col("batch_id") < col("to_chunk"), col("n_events")))
               .as("before"),
             max(when(col("batch_id") === col("to_chunk"), col("n_events")))
               .as("at"))
      // restored-and-extended evidence, guarded like the kpi/session
      // drains' strong assertions: only applicable when some shifted
      // row's user actually emitted in an earlier batch (a corpus where
      // every shifted row opens its user's history has no restore to
      // witness — the at-batch require above and the hash gate still
      // hold there)
      if (perUser.filter(col("before").isNotNull).limit(1).count() > 0) {
        val grown =
          perUser.filter(col("before").isNotNull && col("at") > col("before"))
        require(grown.limit(1).count() > 0,
                "no shifted row's user shows a grown count at its late " +
                  "batch — nothing proves restored state was EXTENDED by " +
                  "the late row")
      }
      snapshotReadback(lastPerKey(drained, Seq("user_id")))
    }

  /** The SAME admissible-late arrival class for the SESSION-WINDOW
    * state family: [[EventPipeline.sessionStream]] (append-mode
    * `session_window` gap aggregation) over the
    * [[oooSessionStaged]] replay. A shifted row arrives a
    * micro-batch behind its event-time peers, within the 10 s
    * watermark, and Spark must MERGE it into session state persisted by
    * earlier batches — including backward extension of a session whose
    * earlier rows already streamed — then the sentinel flushes every
    * session exactly once against the unchanged batch sessionization
    * oracle (exact micro-unit sums: one absorbed-or-dropped row flips
    * the hash). Fail-loud merge evidence where the corpus admits it:
    * for a shifted row whose same-user in-session prior stayed in an
    * earlier batch, the emitted session must START at-or-before that
    * prior and still COVER the shifted row — a failed merge would mint
    * a separate late session starting at the shifted row itself.
    */
  def streamOooSessionDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_ooo_session_drain")
    val (stage, moved) = oooSessionStaged(spark, dir)
    oooStagingAudit(spark, stage, moved)
    val drained = drainToStore(
      spark,
      EventPipeline.sessionStream(
        EventPipeline.readEventFileStream(spark, stage)),
      work, OutputMode.Append, expectBatches = MultiBatchChunks + 1)
    val strongMoved = moved.filter(col("strong")).select(
      col("user_id").as("mu"), col("ts").as("mts"), col("prior_ms"))
    if (strongMoved.limit(1).count() > 0) {
      // start-vs-prior compared at ms granularity: the sidecar's
      // prior_ms is unix_millis-truncated while session_start keeps µs,
      // and when the prior IS the session's first event the µs tail
      // would fail a full-precision <= spuriously (a merge-failure
      // session starting at the shifted row still cannot pass — its
      // start is ≥ 9 s after the prior)
      val merged = drained.join(
        broadcast(strongMoved),
        col("user_id") === col("mu") &&
          unix_millis(col("session_start")) <= col("prior_ms") &&
          col("session_start") <= col("mts") &&
          col("session_end") > col("mts"))
      require(merged.limit(1).count() > 0,
              "no emitted session starts at a shifted row's earlier-batch " +
                "prior and covers the shifted row — the late row was never " +
                "merged backward into the restored session state")
    }
    sessionReadback(drained)
  }

  /** IN-BATCH (within-trigger) REORDERING staging for the order-
    * DEPENDENT folds: the same time-ranged chunk assignment as the
    * plain staging — cross-batch order, watermarks, and the batch
    * oracles are untouched — but each chunk FILE stores its rows in
    * xxhash64 order instead of (ts, event_id) order. The OOO exclusion
    * argument for the order-dependent families (see [[buildOooStage]])
    * rests on "in-batch the processors sort by (event-time µs,
    * event_id)"; replaying THIS staging makes a drain hash-FAIL if that
    * sort ever disappears, instead of leaving the claim spec-only —
    * production analog: Kafka delivers a key's events in order PER
    * POLL, but one trigger interval spans many polls and partitions,
    * so within-trigger arrival order is never guaranteed.
    */
  private def buildShuffledStage(spark: SparkSession, dir: String,
                                 stageDir: String): Unit =
    stageChunked(
      events(spark, dir), stageDir, MultiBatchChunks, ByTime,
      // seed-free deterministic scramble: uncorrelated with event time
      scramble = Some(xxhash64(col("event_id"))))

  /** Fail-loud audit that the shuffled staging really stores rows out
    * of event-time order INSIDE each chunk file: each file is read back
    * in storage order (parquet preserves write order; splits of one
    * file concatenate in offset order) and at least 10% of adjacent row
    * pairs must be (ts, event_id) inversions — a hash-random permutation
    * gives ~50%, an accidentally ordered file gives 0. The collect is
    * driver-side but HARNESS-SCALE only (fixture corpora), like the OOO
    * staging audits.
    */
  private[graft] def shuffledStagingAudit(spark: SparkSession,
                                          stage: String): Unit =
    (0 until MultiBatchChunks).foreach { k =>
      val rows = spark.read.parquet(f"$stage/chunk-$k%04d.parquet")
        .select(unix_micros(col("ts")), col("event_id"))
        .collect()
      val inversions = rows.sliding(2).count { pair =>
        pair.length == 2 && {
          val (a, b) = (pair(0), pair(1))
          a.getLong(0) > b.getLong(0) ||
            (a.getLong(0) == b.getLong(0) && a.getLong(1) > b.getLong(1))
        }
      }
      require(inversions * 10L >= (rows.length - 1).toLong,
              s"chunk file $k holds only $inversions/${rows.length - 1} " +
                "adjacent event-time inversions — the in-batch shuffle " +
                "staging is not actually out of order")
    }

  /** The cached shuffled staging for `dir`. */
  private def shuffledStaged(spark: SparkSession, dir: String): String =
    stagedPath(spark, dir, "shuffled", MultiBatchChunks)(
      buildShuffledStage(spark, dir, _))

  /** The EWMA leg — an order-DEPENDENT per-key fold — over the
    * [[buildShuffledStage]] replay: every micro-batch delivers its rows
    * physically out of event-time order, and the drained levels must
    * still hash-match the batch `series_ewma` oracle. This gates the
    * processors' within-trigger (event-time µs, event_id) sort
    * ([[EwmaProcessor]]) through an actual writeStream execution — the
    * one leg of the order-dependence argument that was previously
    * spec-pinned only.
    */
  def streamShuffledEwmaDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_shuffled_ewma_drain")
    val stage = shuffledStaged(spark, dir)
    shuffledStagingAudit(spark, stage)
    drainLastPerKey(
      spark,
      EventPipeline
        .ewmaStream(
          spark,
          EventPipeline.readEventFileStream(spark, stage))
        .toDF(),
      work, Seq("event_type"), expectBatches = MultiBatchChunks)
      .select(col("event_type"), col("n_buckets"), col("ewma_value"))
      .orderBy(col("event_type"))
  }

  /** The flagship DETECTOR (keyed rolling-stats fMGWS — the reference's
    * core anomaly job) over the same shuffled replay: scoring each
    * event against the 100 PRECEDING values is order-dependence in its
    * sharpest form (one transposed pair scores two events against
    * wrong rings and can flip is_anomaly itself), so the drained
    * alerts hash-matching the unchanged batch `anomaly_alerts` oracle
    * gates [[AnomalyProcessor]]'s within-trigger sort end-to-end.
    */
  def streamShuffledAlertsDrain(spark: SparkSession, dir: String): DataFrame = {
    val work = tempWorkDir("graft_shuffled_alerts_drain")
    val stage = shuffledStaged(spark, dir)
    shuffledStagingAudit(spark, stage)
    alertsReadback(drainToStore(
      spark,
      EventPipeline
        .anomalyStream(
          spark,
          EventPipeline.readEventFileStream(spark, stage))
        .filter(_.is_anomaly)
        .toDF(),
      work, expectBatches = MultiBatchChunks))
  }

  /** The per-user transition pairing — the other order-dependent state
    * shape (a LAST-EVENT record, where a mis-ordered pair emits a wrong
    * (prev, next) edge rather than a wrong number) — over the same
    * shuffled replay, against the batch `event_transitions` oracle.
    */
  def streamShuffledTransitionsDrain(spark: SparkSession,
                                     dir: String): DataFrame = {
    val work = tempWorkDir("graft_shuffled_trans_drain")
    val stage = shuffledStaged(spark, dir)
    shuffledStagingAudit(spark, stage)
    drainToStore(
      spark,
      EventPipeline
        .transitionStream(
          spark,
          EventPipeline.readEventFileStream(spark, stage))
        .toDF(),
      work, expectBatches = MultiBatchChunks)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("next_type"))
  }
}
