package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Streaming two-sided CUSUM — the incremental form of
  * [[graft.operators.SeriesOps.cusumChangepoints]]: the batch query is
  * learn-then-fold (baseline μ/σ from the whole series, then the
  * recursion); the streaming split is the standard deployment shape —
  * baselines learned OFFLINE ([[graft.operators.SeriesOps.cusumBaselines]],
  * exact centi-unit doubles) ride the processor as a broadcast-sized
  * constructor map, and the recursion folds online per key over
  * COMPLETED minute buckets with [[EwmaProcessor]]'s bucket-close and
  * late-drop discipline. Fold arithmetic is bit-identical to the batch
  * expression BY CONSTRUCTION: bucket sums accumulate exact micro-unit
  * longs ([[graft.functions.Rounding.microUnitsScalar]] — integer
  * addition is associative, so batch partition-order sums and this
  * sequential sum agree exactly, unlike a raw double sum), the centi
  * bucket value is the same integer round-half-up division, and the
  * fold runs the same IEEE ops in the same order — so the final
  * per-type shift counts equal the batch query on the same data,
  * asserted in StreamingParitySpec across a multi-batch split.
  *
  * State per key: two CUSUM accumulators, two shift counters, and the
  * in-progress bucket triple — a fixed-size ValueState row, the Flink
  * `ValueState` shape the reference's detector holds.
  */
object CusumProcessor {

  /** Per-type baseline in centi-units: (μ, σ). */
  type Baseline = (Double, Double)

  case class CusumState(sh: Double, sl: Double, nh: Long, nl: Long,
                        curBucket: Long, curSumMicro: Long, curCount: Long,
                        nCompleted: Long)

  case class CusumCounts(event_type: String, n_buckets: Long,
                         n_shifts_up: Long, n_shifts_down: Long)

  val EmptyState: CusumState =
    CusumState(0.0, 0.0, 0L, 0L, Long.MinValue, 0L, 0L, 0L)

  /** One CUSUM step on a closed bucket's centi-unit value — the same
    * doubles and comparison order as the batch `aggregate` lambda.
    */
  private def step(s: CusumState, mu: Double, sigma: Double,
                   x: Double): CusumState = {
    val k = graft.operators.SeriesOps.CusumK * sigma
    val h = graft.operators.SeriesOps.CusumH * sigma
    val shRaw = math.max(s.sh + (x - mu - k), 0.0)
    val slRaw = math.max(s.sl + (mu - x - k), 0.0)
    val hiAlarm = shRaw > h
    val loAlarm = slRaw > h
    s.copy(sh = if (hiAlarm) 0.0 else shRaw,
           sl = if (loAlarm) 0.0 else slRaw,
           nh = s.nh + (if (hiAlarm) 1L else 0L),
           nl = s.nl + (if (loAlarm) 1L else 0L))
  }

  /** Centi-unit value of a closed bucket — the JVM twin of the batch
    * `xc` column: round-half-up of the exact micro-unit mean,
    * `(2·Σmicro + n·10⁴) div (2·n·10⁴)`. Pure long arithmetic on the
    * SAME per-event micro-unit longs the batch sums, so the value is
    * order-free and bit-identical across engines by construction.
    */
  private def centi(sumMicro: Long, count: Long): Double =
    Math.floorDiv(2L * sumMicro + count * 10000L, 2L * count * 10000L)
      .toDouble

  /** Pure fold core of [[detect]], also driven directly by the
    * split-invariance properties.
    */
  def advance(baselines: Map[String, Baseline], key: String,
              init: CusumState, events: Iterator[Event]): CusumState = {
    val (mu, sigma) = baselines.getOrElse(key, (0.0, 0.0))
    var s = init
    events.toSeq
      .sortBy(e => (EventTime.micros(e.ts), e.event_id))
      .foreach { e =>
        val bucket = Math.floorDiv(e.ts.getTime, 60000L)
        if (bucket < s.curBucket) () // late event for a closed bucket
        else {
          if (bucket != s.curBucket && s.curCount > 0) {
            s = step(s, mu, sigma, centi(s.curSumMicro, s.curCount))
              .copy(curBucket = bucket, curSumMicro = 0L, curCount = 0L,
                    nCompleted = s.nCompleted + 1)
          } else if (s.curCount == 0L) {
            s = s.copy(curBucket = bucket)
          }
          s = s.copy(
            curSumMicro =
              s.curSumMicro + graft.functions.Rounding.microUnitsScalar(e.value),
            curCount = s.curCount + 1)
        }
      }
    s
  }

  /** Provisional emission: fold the in-progress bucket as if closed, so
    * the last update reflects all data seen (the batch query includes
    * its final bucket too).
    */
  def emit(baselines: Map[String, Baseline], key: String,
           s: CusumState): Iterator[CusumCounts] =
    if (s.curCount > 0) {
      val (mu, sigma) = baselines.getOrElse(key, (0.0, 0.0))
      val closed = step(s, mu, sigma, centi(s.curSumMicro, s.curCount))
      Iterator.single(
        CusumCounts(key, s.nCompleted + 1, closed.nh, closed.nl))
    } else if (s.nCompleted > 0) {
      Iterator.single(CusumCounts(key, s.nCompleted, s.nh, s.nl))
    } else Iterator.empty

  /** flatMapGroupsWithState handler keyed by event_type. */
  def detect(baselines: Map[String, Baseline])(
      key: String,
      events: Iterator[Event],
      state: GroupState[CusumState]): Iterator[CusumCounts] = {
    val s = advance(baselines, key, state.getOption.getOrElse(EmptyState),
                    events)
    state.update(s)
    emit(baselines, key, s)
  }
}
