package graft.streaming

import graft.functions.RollingWindow
import graft.io.LocalFs
import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Cooldown gate per (source, severity) with event-time state expiry
  * ([[TypedStatefulProcessors.cooldownStreamWithExpiry]]): the gate is
  * [[CooldownProcessor.advance]], and each firing registers one timer
  * per key at `lastFired + CooldownMillis` that CLEARS the key's state
  * when the watermark passes it — at that point the gate is provably
  * open (any in-watermark alert has `ts − lastFired ≥ cooldown`, and an
  * absent lastFired fires too), so dropping the state cannot change any
  * future verdict while keeping the store O(keys alerting within one
  * cooldown window) instead of O(every (source, severity) ever seen).
  * Same one-live-timer-per-key discipline as [[SessionStatefulProcessor]].
  */
class CooldownStatefulProcessor
    extends StatefulProcessor[(String, String), AnomalyAlert,
                              CooldownProcessor.FiredAlert] {
  import CooldownProcessor._

  @transient private var lastFired: ValueState[LastFired] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastFired = getHandle.getValueState[LastFired](
      "lastFired", Encoders.product[LastFired], TTLConfig.NONE)

  override def handleInputRows(
      key: (String, String),
      inputRows: Iterator[AnomalyAlert],
      timerValues: TimerValues): Iterator[FiredAlert] = {
    val (last, out) = advance(Option(lastFired.get()).map(_.tsMillis), inputRows)
    last.foreach { l =>
      lastFired.update(LastFired(l))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(l + CooldownMillis)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      key: (String, String),
      timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[FiredAlert] = {
    val s = lastFired.get()
    // a stale timer (re-armed later by a newer firing) expires before
    // the gate is definitively open — ignore it
    if (s != null && expiredTimerInfo.getExpiryTimeInMs >= s.tsMillis + CooldownMillis)
      lastFired.clear()
    Iterator.empty
  }
}

/** Streaming ingest dedup — first occurrence per event_id wins, every
  * replay is dropped: the idempotent-ingestion stage in front of a cold
  * store when the transport is at-least-once (the reference's Kafka →
  * TimescaleDB path re-delivers on consumer restart; its insert relies
  * on the table's primary key to reject replays — here the dedup is an
  * explicit operator, so ANY sink downstream is safe, not just one with
  * a unique index).
  *
  * State is one boolean per key, the minimum possible; at 100 TB the
  * key space is unbounded, which is exactly what `graft.state.ttl`
  * bounds — a replay arriving after the TTL re-inserts, the standard
  * at-least-once dedup-window trade (Kafka's own exactly-once idempotent
  * producer makes the same one: a bounded id window, not forever).
  *
  * Within one batch the winner is deterministic: min (ts, then the full
  * tuple order) — so a duplicate delivered in the same micro-batch as
  * its original cannot race.
  */
class DedupStatefulProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, Event, Event] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean](
      "seen", Encoders.scalaBoolean, ttl)

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[Event] = {
    if (seen.exists()) Iterator.empty
    else {
      seen.update(true)
      val first = inputRows.toSeq
        .minBy(e => (EventTime.micros(e.ts), e.user_id, e.event_type, e.value))
      Iterator.single(first)
    }
  }
}

/** Per-user running KPI snapshot: the streaming MATERIALIZED-VIEW row
  * that [[graft.operators.TemporalOps.incrAggMerge]] maintains in batch.
  * `last_ts_micros` keeps the full µs precision of the event time.
  */
case class UserSnapshot(user_id: Long,
                        n_events: Long,
                        sum_micros: Long,
                        last_ts_micros: Long)

/** Streaming incremental view maintenance — the transformWithState twin
  * of the batch `incr_agg_merge` operator: each micro-batch's rows fold
  * into the per-user snapshot with the SAME associative integer algebra
  * (counts add, micro-unit sums add, max keeps the later timestamp), so
  * the snapshot after ANY batch split equals the batch recompute —
  * StatefulProcessorSpec asserts it against `incr_agg_merge` itself.
  * State is one fixed-size row per user (the minimal upsert-store
  * shape). Key cardinality is unbounded — but NOTE the TTL caveat:
  * unlike the dedup processors (where expiry merely re-admits a
  * duplicate), expiring a snapshot RESETS that user's running
  * aggregates, a silent correctness loss for the view. A bounded
  * deployment therefore compacts idle snapshots to the cold store
  * (foreachBatch MERGE, the batch incr_agg_merge exactly) before
  * letting state expire, rather than relying on TTL alone.
  */
object UserSnapshotFold {
  def empty(key: Long): UserSnapshot = UserSnapshot(key, 0L, 0L, Long.MinValue)

  /** The associative per-event fold — ONE definition shared by the cold
    * processor, the warm-start processor, and any batch bootstrap that
    * builds initial state (so a seeded store is bit-identical to one
    * that saw the history as a stream).
    */
  def fold(key: Long, prev: UserSnapshot,
           rows: Iterator[Event]): UserSnapshot =
    rows.foldLeft(prev) { (a, e) =>
      val micros = EventTime.micros(e.ts)
      UserSnapshot(key,
                   a.n_events + 1L,
                   a.sum_micros +
                     graft.functions.Rounding.microUnitsScalar(e.value),
                   math.max(a.last_ts_micros, micros))
    }
}

class UserSnapshotStatefulProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, Event, UserSnapshot] {

  @transient private var snap: ValueState[UserSnapshot] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    snap = getHandle.getValueState[UserSnapshot](
      "userSnap", Encoders.product[UserSnapshot], ttl)

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[UserSnapshot] = {
    val next = UserSnapshotFold.fold(
      key,
      Option(snap.get()).getOrElse(UserSnapshotFold.empty(key)),
      inputRows)
    snap.update(next)
    Iterator.single(next)
  }
}

/** WARM-STARTED incremental view maintenance — the state-MIGRATION path
  * a production cutover needs: the store seeds from a batch snapshot
  * table ([[TypedStatefulProcessors.userSnapshotWarmStream]] passes it
  * as transformWithState initial state), then the stream folds only the
  * DELTA events. Because seeding writes the exact batch row and the
  * per-event fold is the shared [[UserSnapshotFold]], a warm-started
  * store is provably identical to one that streamed the whole history —
  * StatefulProcessorSpec asserts snapshot-by-snapshot equality against
  * the full-history cold run, and that the seed actually mattered.
  * `handleInitialState` runs once per seeded key before any input.
  */
class UserSnapshotWarmStartProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, Event, UserSnapshot, UserSnapshot] {

  @transient private var snap: ValueState[UserSnapshot] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    snap = getHandle.getValueState[UserSnapshot](
      "userSnap", Encoders.product[UserSnapshot], ttl)

  override def handleInitialState(
      key: Long,
      initialState: UserSnapshot,
      timerValues: TimerValues): Unit =
    snap.update(initialState)

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[UserSnapshot] = {
    val next = UserSnapshotFold.fold(
      key,
      Option(snap.get()).getOrElse(UserSnapshotFold.empty(key)),
      inputRows)
    snap.update(next)
    Iterator.single(next)
  }
}

/** Per-user funnel progress: the 3-slot chain-start state of the batch
  * `window_funnel` operator plus the derived depth.
  */
case class FunnelProgress(user_id: Long,
                          s1: Long,
                          s2: Long,
                          s3: Long,
                          depth: Int)

object FunnelProgress {
  /** 7-day window and "not reached" sentinel — MUST equal the batch
    * operator's constants (parity is spec-asserted end-to-end).
    */
  val WindowMicros = 604800000000L
  val Sentinel: Long = -1000000000000000000L

  /** One funnel step folded into the 3-slot state: slot k keeps the
    * LATEST chain-start among chains reaching depth k (see the batch
    * operator's dominance argument); the negative sentinel makes the
    * window check self-guarding. Pure core shared by the streaming
    * processor; the batch twin is the same algebra as Column
    * expressions, and StatefulProcessorSpec asserts the two agree on
    * every user.
    */
  def advance(s: (Long, Long, Long), usMicros: Long,
              step: Int): (Long, Long, Long) = step match {
    case 1 => (math.max(s._1, usMicros), s._2, s._3)
    case 2 =>
      if (usMicros - s._1 <= WindowMicros)
        (s._1, math.max(s._2, s._1), s._3)
      else s
    case _ =>
      if (usMicros - s._2 <= WindowMicros)
        (s._1, s._2, math.max(s._3, s._2))
      else s
  }

  def depthOf(s: (Long, Long, Long)): Int =
    if (s._3 > Sentinel) 3
    else if (s._2 > Sentinel) 2
    else if (s._1 > Sentinel) 1
    else 0
}

/** Streaming windowed-funnel matcher — the transformWithState twin of
  * the batch `window_funnel` query: three longs of per-user state, each
  * micro-batch folds its (event-time-ordered) funnel events through
  * [[FunnelProgress.advance]] and emits the user's current progress.
  * The store's latest row per user is the live funnel dashboard; the
  * final depths equal the batch operator on the same events
  * (StatefulProcessorSpec, across batch splits). Non-funnel event types
  * are filtered before the keyed shuffle.
  */
class FunnelStatefulProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, Event, FunnelProgress] {
  import FunnelProgress._

  @transient private var state: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long, Long)](
      "funnelSlots", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
                                    Encoders.scalaLong), ttl)

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[FunnelProgress] = {
    val init = Option(state.get()).getOrElse((Sentinel, Sentinel, Sentinel))
    // sort by the SAME microsecond key the fold feeds to advance() —
    // millisecond ts.getTime alone would let two same-user events inside
    // one millisecond fold in event_id order while the batch twin orders
    // them by full microseconds, breaking streaming-batch parity
    val next = inputRows.toSeq
      .sortBy(e => (EventTime.micros(e.ts), e.event_id))
      .foldLeft(init) { (acc, e) =>
        val step = e.event_type match {
          case "view" => 1
          case "click" => 2
          case _ => 3
        }
        val us = EventTime.micros(e.ts)
        advance(acc, us, step)
      }
    state.update(next)
    Iterator.single(
      FunnelProgress(key, next._1, next._2, next._3, depthOf(next)))
  }
}

/** One document on the streaming-ingest path: id, the md5 of its
  * normalized text (the dedup key — computed BEFORE the keyed shuffle
  * so only 32 hash chars plus metadata ever move, never the text), and
  * its source tag.
  */
case class IngestDoc(doc_id: Long, content_hash: String, source: String)

/** Streaming corpus-ingest dedup: the batch [[graft.operators.DedupOps]]
  * `dedup_exact` semantics (normalized-text md5, min doc_id is
  * canonical) applied online — the shape an always-on training-data
  * ingestion service runs, where re-crawls and mirror feeds deliver the
  * same document text arbitrarily far apart. First occurrence per
  * content hash survives; a duplicate arriving in the same micro-batch
  * as its original loses deterministically (min doc_id). Same state
  * posture as [[DedupStatefulProcessor]]: one boolean per hash, key
  * space unbounded → bounded by `graft.state.ttl` at deployment scale.
  */
class DocDedupStatefulProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, IngestDoc, IngestDoc] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean](
      "seenDoc", Encoders.scalaBoolean, ttl)

  override def handleInputRows(
      key: String,
      inputRows: Iterator[IngestDoc],
      timerValues: TimerValues): Iterator[IngestDoc] = {
    if (seen.exists()) Iterator.empty
    else {
      seen.update(true)
      Iterator.single(inputRows.minBy(_.doc_id))
    }
  }
}

/** Incrementally-carried moments companion for
  * [[AnomalyListStateProcessor]]'s list buffer.
  */
case class BufferMoments(sum: Double, sumSquares: Double)

/** The transformWithState form of the anomaly detector, with its value
  * buffer in LIST state — the state shape a 100-TB deployment wants: a
  * single value cell rewrites all ~100 buffered doubles on every update,
  * while a `ListState` keeps per-element rows in RocksDB, where
  * `appendList` is an O(new) write and only eviction compacts. The
  * running moments ride a tiny companion ValueState cell rather than
  * being recomputed from the buffer — recomputation would change the
  * float accumulation order and break BIT parity with
  * [[EventPipeline.anomalyStream]] (StatefulProcessorSpec asserts both
  * emit identical alerts). The fold itself is the shared
  * [[AnomalyProcessor.scoreBatch]].
  */
class AnomalyListStateProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, Event, AnomalyAlert] {

  @transient private var buffer: org.apache.spark.sql.streaming.ListState[Double] = _
  @transient private var moments: ValueState[BufferMoments] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buffer = getHandle.getListState[Double](
      "valueBuffer", Encoders.scalaDouble, ttl)
    moments = getHandle.getValueState[BufferMoments](
      "moments", Encoders.product[BufferMoments], ttl)
  }

  override def handleInputRows(
      key: String,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[AnomalyAlert] = {
    val prior = if (buffer.exists()) buffer.get().toArray else Array.emptyDoubleArray
    val mom = Option(moments.get()).getOrElse(BufferMoments(0.0, 0.0))
    val window = new RollingWindow(AnomalyProcessor.Window)
      .restore(RollingWindow.State(prior, mom.sum, mom.sumSquares))
    val batch = inputRows.toSeq
    val out = AnomalyProcessor.scoreBatch(window, batch)
    val st = window.snapshot
    if (prior.length + batch.size <= window.capacity) {
      // no eviction yet: pure append writes
      buffer.appendList(st.values.drop(prior.length))
    } else {
      // eviction compaction: rewrite the window
      buffer.put(st.values)
    }
    moments.update(BufferMoments(st.sum, st.sumSquares))
    out.iterator
  }
}

/** One banded LSH key observation on the streaming ingest-dedup path —
  * a document's signature slice for one band (signatures computed
  * offline, the CUSUM-style offline/online split).
  */
case class BandKeyRow(doc_id: Long, band: Int, band_hash: String)

/** One candidate near-duplicate pair surfaced online, tagged with the
  * bucket that produced it (so the read-back can apply the batch
  * MaxBucket skew cap exactly — see [[LshBucketProcessor]]).
  */
case class LshCandidate(doc1: Long, doc2: Long, band: Int, band_hash: String)

/** ONLINE LSH near-duplicate candidate discovery — the streaming ingest
  * form of the batch `dedup_minhash_lsh` bucket stage: state is the
  * per-(band, band_hash) member list, and each arriving document emits
  * a candidate pair with every member already in its bucket, exactly
  * once per (bucket, pair). Verification (exact shingle Jaccard) stays
  * a join in the consumer, same as batch.
  *
  * Skew posture: state per bucket is capped at [[graft.operators
  * .DedupOps.MaxBucket]] ids — past the cap the bucket is poisoned
  * (no growth, no emission), so a boilerplate megabucket on an
  * unbounded stream cannot grow state or fan out O(n²) pairs. An online
  * operator cannot retro-drop a bucket the way the batch form drops
  * buckets by FINAL size, so pairs emitted before the cap tripped are
  * instead removed by the consumer's size filter — the drain recomputes
  * final bucket sizes from the staged frame and left-semi-joins, making
  * the end-to-end semantics equal to batch BY CONSTRUCTION, not just on
  * cap-free corpora.
  */
object LshBucketFold {
  import graft.operators.DedupOps.MaxBucket

  /** Pure split-invariant core shared by [[LshBucketProcessor]] and
    * ProcessorProperties: fold one batch of bucket arrivals over the
    * carried member list, returning (freshly admitted ids, emitted
    * pairs). Admission is by arrival order under the MaxBucket
    * poisoning bound; a pair is emitted exactly when its later member
    * is admitted, so across ANY batch split each pair appears exactly
    * once.
    */
  def step(existing: Vector[Long], rows: Iterator[BandKeyRow])
      : (Vector[Long], Vector[LshCandidate]) = {
    val seen = scala.collection.mutable.LinkedHashSet(existing: _*)
    val fresh = Vector.newBuilder[Long]
    val out = Vector.newBuilder[LshCandidate]
    rows.foreach { r =>
      if (seen.size < MaxBucket && !seen.contains(r.doc_id)) {
        seen.foreach { m =>
          out += LshCandidate(math.min(m, r.doc_id), math.max(m, r.doc_id),
                              r.band, r.band_hash)
        }
        seen += r.doc_id
        fresh += r.doc_id
      }
    }
    (fresh.result(), out.result())
  }
}

class LshBucketProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, BandKeyRow, LshCandidate] {

  @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    members = getHandle.getListState[Long](
      "bucketMembers", Encoders.scalaLong, ttl)

  override def handleInputRows(
      key: String,
      inputRows: Iterator[BandKeyRow],
      timerValues: TimerValues): Iterator[LshCandidate] = {
    val existing =
      if (members.exists()) members.get().toVector else Vector.empty[Long]
    val (fresh, out) = LshBucketFold.step(existing, inputRows)
    members.appendList(fresh.toArray)
    out.iterator
  }
}

/** One per-day distinct-users update from the streaming sketch path:
  * UTC epoch day, cumulative events folded into the day's sketch, and
  * the sketch's current estimate.
  */
case class DayUsers(epoch_day: Long, n_seen: Long, est_users: Double)

/** Day-keyed distinct-user HLL maintained ONLINE — the streaming half
  * of [[graft.operators.MiscOps.hllByDay]]'s store-and-re-merge
  * pattern: the batch query builds each day's sketch by scanning the
  * day; this processor FOLDS events into the day's sketch as they
  * arrive, so the live dashboard reads a current estimate without any
  * rescan, and the persisted sketch bytes remain unionable across days
  * exactly like the batch ones.
  *
  * Register-identical to Spark's own `hll_sketch_agg(user_id, lgK)`:
  * same DataSketches `HllSketch(lgK, HLL_8)` (the aggregate's
  * hardwired target type), same `update(long)` hashing, and HLL
  * register maxing is insertion-order-free — so the streaming estimate
  * after the last batch EQUALS the batch SQL estimate bit-for-bit
  * (StatefulProcessorSpec asserts this across a 3-batch split). State
  * is the ~KB updatable sketch image per day: O(days) entries, the one
  * keyed-state family here that is naturally BOUNDED without a TTL
  * (the key space is the calendar), though `graft.state.ttl` applies
  * all the same.
  */
class HllStatefulProcessor(lgK: Int = 12, ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, Event, DayUsers] {
  import org.apache.datasketches.hll.{HllSketch, TgtHllType}

  @transient private var sketchBytes: ValueState[Array[Byte]] = _
  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sketchBytes = getHandle.getValueState[Array[Byte]](
      "hllBytes", Encoders.BINARY, ttl)
    seen = getHandle.getValueState[Long]("hllSeen", Encoders.scalaLong, ttl)
  }

  override def handleInputRows(
      key: Long,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[DayUsers] = {
    val sketch = Option(sketchBytes.get())
      .map(HllSketch.heapify)
      .getOrElse(new HllSketch(lgK, TgtHllType.HLL_8))
    var n = if (seen.exists()) seen.get() else 0L
    inputRows.foreach { e => sketch.update(e.user_id); n += 1 }
    sketchBytes.update(sketch.toUpdatableByteArray)
    seen.update(n)
    Iterator.single(DayUsers(key, n, sketch.getEstimate))
  }
}

/** One band's (first-half, second-half) event counts on the streaming
  * drift path — the per-band cell of the TV-distance histogram.
  */
case class BandPair(c_first: Long, c_second: Long)

/** One live drift estimate per event type, schema-identical to the
  * batch `drift_tv` row.
  */
case class DriftSnapshot(event_type: String,
                         n_first: Long,
                         n_second: Long,
                         tv_num: Long,
                         tv_distance: Option[Double],
                         drifted: Boolean)

object DriftStatefulProcessor {
  /** The batch query's split point (`SeriesOps.driftTv` casts the same
    * literal under the UTC session) and its band geometry.
    */
  val CutMillis: Long =
    java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
  val MaxBand = 50L

  def bandOf(value: Double): Long =
    math.min(math.floor(value / 10).toLong, MaxBand)
}

/** Streaming data-drift monitor — the transformWithState twin of the
  * batch `drift_tv` query, and the one processor here on MAP state:
  * the per-type histogram lives as one MapState ENTRY per value band
  * (≤ 52 entries — RocksDB point-updates only the touched band, where
  * a ValueState histogram would rewrite the whole vector per event,
  * the ListState-vs-ValueState argument again at map granularity).
  * Each batch folds its events into the touched bands' (first, second)
  * counters and re-emits the type's current TV distance; the final
  * emission equals the batch query exactly (same integer numerator
  * Σ|c·N_b − d·N_a|, same cross-multiplied verdict, same IEEE division
  * order — StatefulProcessorSpec asserts row equality across a 3-batch
  * split). A live dashboard reads "is today's traffic drifting from
  * the reference window" with no rescan.
  */
class DriftStatefulProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, Event, DriftSnapshot] {
  import DriftStatefulProcessor._

  @transient private var bands: org.apache.spark.sql.streaming.MapState[Long, BandPair] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    bands = getHandle.getMapState[Long, BandPair](
      "driftBands", Encoders.scalaLong, Encoders.product[BandPair], ttl)

  override def handleInputRows(
      key: String,
      inputRows: Iterator[Event],
      timerValues: TimerValues): Iterator[DriftSnapshot] = {
    inputRows.foreach { e =>
      val band = bandOf(e.value)
      val cur = Option(bands.getValue(band)).getOrElse(BandPair(0L, 0L))
      bands.updateValue(band,
        if (e.ts.getTime < CutMillis) cur.copy(c_first = cur.c_first + 1)
        else cur.copy(c_second = cur.c_second + 1))
    }
    val cells = bands.iterator().map(_._2).toVector
    val na = cells.map(_.c_first).sum
    val nb = cells.map(_.c_second).sum
    val tvNum =
      cells.map(c => math.abs(c.c_first * nb - c.c_second * na)).sum
    val dist =
      if (na == 0 || nb == 0) None
      else Some(graft.functions.Rounding.scalar(
        tvNum.toDouble / (2.0 * na.toDouble * nb.toDouble), 6))
    Iterator.single(DriftSnapshot(key, na, nb, tvNum, dist,
                                  tvNum * 5 > na * nb))
  }
}

/** Tokenized document on the streaming top-tokens path (normalization
  * and splitting happen in codegen'd columns BEFORE the keyed shuffle).
  */
case class DocTokens(lang: String, tokens: Seq[String])

/** One live heavy-hitter estimate: per-language token with its
  * Misra–Gries undercount estimate and summary-wide error bound.
  */
case class LangTokenEst(lang: String, token: String, est: Long, maxerr: Long)

/** Per-language heavy-hitter (top-token) summaries maintained ONLINE —
  * the streaming half of [[graft.operators.PipelineOps]]'
  * `approx_top_tokens`: the same mergeable Misra–Gries core
  * ([[graft.functions.TopKSketch]] — reduce/compress shared, not
  * reimplemented) folded per micro-batch into one O(k) ValueState cell
  * per language. Each batch re-emits the language's current top 10, so
  * a live corpus-composition dashboard reads current heavy hitters
  * with no rescan.
  *
  * Parity: MG estimates are invariant under update/merge order only in
  * their BOUNDS, but with k above the stream's distinct-token count no
  * compression ever fires and the summary is exact counts — so the
  * final streaming emission equals the batch aggregator's summary
  * exactly (StatefulProcessorSpec asserts this across a 3-batch
  * split); adversarial small-k bound behavior is SketchSpec's
  * ScalaCheck territory. State: one ≤k-entry map per language — O(k)
  * bytes per key, the bounded-memory posture the batch scaladoc
  * promises, now held across unbounded stream length.
  */
class TopTokensStatefulProcessor(k: Int = 64,
                                 ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, DocTokens, LangTokenEst] {
  import graft.functions.{MgState, TopKSketch}

  private val sketch = new TopKSketch(k)
  @transient private var state: ValueState[MgState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[MgState](
      "mgTokens", Encoders.kryo[MgState], ttl)

  override def handleInputRows(
      key: String,
      inputRows: Iterator[DocTokens],
      timerValues: TimerValues): Iterator[LangTokenEst] = {
    var s = Option(state.get()).getOrElse(sketch.zero)
    inputRows.foreach { d =>
      d.tokens.foreach { t => s = sketch.reduce(s, (t, 1L)) }
    }
    state.update(s)
    sketch.finish(s).items.take(10)
      .map(i => LangTokenEst(key, i.token, i.est, i.maxerr))
      .iterator
  }
}

/** transformWithState (Spark 4 StatefulProcessor) processors: the keyed
  * stages whose state is a list, a map, a sketch, a timer or a TTL'd
  * key space (SURVEY §2.7 names transformWithState as the 1:1 mapping of
  * the reference's Flink `RichFlatMapFunction` + `ValueState`,
  * `AnomalyDetectionJob.java:279-368`). The stages whose state is one
  * fixed-size row per key (detector, EWMA, CUSUM, transitions, the
  * cooldown gate) run on flatMapGroupsWithState in [[EventPipeline]].
  * All require the RocksDB state store provider
  * ([[AnomalyStatefulProcessor.rocksdbConf]]).
  *
  * State lifetime is a constructor knob resolved from `graft.state.ttl`
  * by the stream builders ([[StateTtl]]); the default is the
  * reference-parity `TTLConfig.NONE`.
  */
object TypedStatefulProcessors {

  /** Milliseconds per UTC day — [[hllDayStream]]'s key derivation
    * (`ts div MillisPerDay`), equal to `date_trunc('day', ts)` under the
    * session's UTC zone.
    */
  private val MillisPerDay = 86400000L

  /** The one transformWithState builder for the TTL-resolved stages:
    * `graft.state.ttl` picks the processor's TTL and the time mode
    * ([[StateTtl]]), output is Update mode.
    */
  private def withState[K, I, O: Encoder](
      spark: SparkSession, grouped: KeyValueGroupedDataset[K, I])(
      processor: TTLConfig => StatefulProcessor[K, I, O]): Dataset[O] = {
    LocalFs.use(spark)
    val ttl = StateTtl.of(spark)
    grouped.transformWithState(processor(ttl), StateTtl.timeMode(ttl),
                               OutputMode.Update())
  }

  /** events → per-day (cumulative count, live distinct-user estimate)
    * via the sketch-folding processor; see [[HllStatefulProcessor]].
    */
  def hllDayStream(spark: SparkSession,
                   events: Dataset[Event]): Dataset[DayUsers] = {
    import spark.implicits._
    withState(spark, events.groupByKey(e => Math.floorDiv(e.ts.getTime, MillisPerDay)))(
      ttl => new HllStatefulProcessor(ttl = ttl))
  }

  /** tokenized docs → per-language live top-token estimates via the
    * Misra–Gries-folding processor; see [[TopTokensStatefulProcessor]].
    */
  def topTokensStream(spark: SparkSession,
                      docs: Dataset[DocTokens]): Dataset[LangTokenEst] = {
    import spark.implicits._
    withState(spark, docs.groupByKey(_.lang))(
      ttl => new TopTokensStatefulProcessor(ttl = ttl))
  }

  /** banded signature keys → online candidate near-dup pairs via the
    * bucket-membership processor; see [[LshBucketProcessor]].
    */
  def lshCandidateStream(spark: SparkSession,
                         bands: Dataset[BandKeyRow]): Dataset[LshCandidate] = {
    import spark.implicits._
    withState(spark, bands.groupByKey(r => s"${r.band}:${r.band_hash}"))(
      new LshBucketProcessor(_))
  }

  /** events → live per-type drift estimates via the MapState histogram
    * processor; see [[DriftStatefulProcessor]].
    */
  def driftStream(spark: SparkSession,
                  events: Dataset[Event]): Dataset[DriftSnapshot] = {
    import spark.implicits._
    withState(spark, events.groupByKey(_.event_type))(new DriftStatefulProcessor(_))
  }

  /** events → alerts with the ListState-buffered detector. */
  def anomalyListStream(spark: SparkSession,
                        events: Dataset[Event]): Dataset[AnomalyAlert] = {
    import spark.implicits._
    withState(spark, events.filter(_.value > 0).groupByKey(_.event_type))(
      new AnomalyListStateProcessor(_))
  }

  /** events → per-user live funnel progress (streaming windowed-funnel
    * matcher); see [[FunnelStatefulProcessor]].
    */
  def funnelStream(spark: SparkSession,
                   events: Dataset[Event]): Dataset[FunnelProgress] = {
    import spark.implicits._
    withState(spark, events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .groupByKey(_.user_id))(new FunnelStatefulProcessor(_))
  }

  /** events → per-user running snapshots (streaming incremental view
    * maintenance); see [[UserSnapshotStatefulProcessor]].
    */
  def userSnapshotStream(spark: SparkSession,
                         events: Dataset[Event]): Dataset[UserSnapshot] = {
    import spark.implicits._
    withState(spark, events.groupByKey(_.user_id))(new UserSnapshotStatefulProcessor(_))
  }

  /** delta events → per-user running snapshots, WARM-STARTED from a
    * batch snapshot table; see [[UserSnapshotWarmStartProcessor]].
    */
  def userSnapshotWarmStream(
      spark: SparkSession,
      events: Dataset[Event],
      initial: Dataset[UserSnapshot]): Dataset[UserSnapshot] = {
    LocalFs.use(spark)
    import spark.implicits._
    val ttl = StateTtl.of(spark)
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserSnapshotWarmStartProcessor(ttl),
                          StateTtl.timeMode(ttl),
                          OutputMode.Update(),
                          initial.groupByKey(_.user_id))
  }

  /** events → first-occurrence events (ingest dedup) via
    * transformWithState; see [[DedupStatefulProcessor]].
    */
  def dedupStream(spark: SparkSession,
                  events: Dataset[Event]): Dataset[Event] = {
    import spark.implicits._
    withState(spark, events.groupByKey(_.event_id))(new DedupStatefulProcessor(_))
  }

  /** document stream → first occurrence per content hash (streaming
    * corpus-ingest dedup); see [[DocDedupStatefulProcessor]].
    */
  def docDedupStream(spark: SparkSession,
                     docs: Dataset[IngestDoc]): Dataset[IngestDoc] = {
    import spark.implicits._
    withState(spark, docs.groupByKey(_.content_hash))(new DocDedupStatefulProcessor(_))
  }

  /** Cooldown gate with event-time state expiry: a watermark drives the
    * per-key timer that clears `lastFired` once the cooldown window has
    * definitively passed (see [[CooldownStatefulProcessor]]). Identical
    * fired-alert output to [[EventPipeline.cooldownStream]] for
    * in-watermark data — `stream_cooldown_timer_drain` gates both
    * against one oracle, and StatefulProcessorSpec asserts the eviction.
    */
  def cooldownStreamWithExpiry(
      spark: SparkSession,
      alerts: Dataset[AnomalyAlert]): Dataset[CooldownProcessor.FiredAlert] = {
    LocalFs.use(spark)
    import spark.implicits._
    alerts
      .filter(_.is_anomaly)
      .withWatermark("ts", "10 seconds")
      .groupByKey(a => (a.event_type, a.severity))
      .transformWithState(new CooldownStatefulProcessor,
                          TimeMode.EventTime(),
                          OutputMode.Update())
  }
}
