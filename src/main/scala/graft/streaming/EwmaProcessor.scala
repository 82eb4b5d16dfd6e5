package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Streaming EWMA of the per-minute KPI series — the incremental form of
  * [[graft.operators.SeriesOps.seriesEwma]]: one smoothed level per key,
  * folded over COMPLETED minute buckets in event-time order with the
  * same α and the same 6-dp bucket rounding as the batch query. Bucket
  * sums accumulate exact micro-unit longs (associative — batch
  * partition-order sums and this sequential sum agree bit-for-bit,
  * where a raw double sum could drift an ulp and flip the rounding), so
  * the final emitted level per key equals the batch result on the same
  * data by construction (asserted in StreamingParitySpec).
  *
  * State per key is four numbers (level, in-progress bucket sum/count/
  * id) — the smallest possible stateful operator, and exactly what the
  * reference's Flink `ValueState` pattern would hold.
  *
  * Emission: one provisional row per key per micro-batch, folding the
  * in-progress bucket as if it had closed — so the last update always
  * reflects all data seen (the standard provisional-pane contract;
  * update output mode).
  */
object EwmaProcessor {

  /** Smoothing weight — keep in sync with SeriesOps.Alpha. */
  val Alpha = 0.2

  case class EwmaState(hasLevel: Boolean,
                       level: Double,
                       curBucket: Long,
                       curSumMicro: Long,
                       curCount: Long,
                       nCompleted: Long)

  case class EwmaLevel(event_type: String, n_buckets: Long, ewma_value: Double)

  private def r6(x: Double): Double = graft.functions.Rounding.scalar(x, 6)

  /** Bucket mean as the batch twin computes it: exact micro-unit long
    * sum (order-free — integer addition is associative, so this
    * sequential sum equals batch partition-order sums bit-for-bit),
    * ONE double division, shared round-6.
    */
  private def bucketAvg(sumMicro: Long, count: Long): Double =
    r6(sumMicro.toDouble / (count * 1000000L).toDouble)

  private def fold(hasLevel: Boolean, level: Double, bucketAvg: Double): Double =
    if (!hasLevel) bucketAvg else (Alpha * bucketAvg) + ((1 - Alpha) * level)

  val EmptyState: EwmaState =
    EwmaState(hasLevel = false, 0.0, Long.MinValue, 0L, 0L, 0L)

  /** Pure fold core of [[smooth]], also driven directly by the
    * split-invariance properties.
    */
  def advance(init: EwmaState, events: Iterator[Event]): EwmaState = {
    var s = init
    events.toSeq
      .sortBy(e => (EventTime.micros(e.ts), e.event_id))
      .foreach { e =>
        val bucket = Math.floorDiv(e.ts.getTime, 60000L)
        // Late-data drop: an event whose minute bucket already closed
        // (bucket < curBucket across micro-batches) is ignored, matching
        // slidingKpi's watermark semantics — folding it would restart the
        // older bucket and silently diverge from the batch series_ewma.
        if (bucket < s.curBucket) ()
        else {
          if (bucket != s.curBucket && s.curCount > 0) {
            val avg = bucketAvg(s.curSumMicro, s.curCount)
            s = s.copy(hasLevel = true, level = fold(s.hasLevel, s.level, avg),
                       curBucket = bucket, curSumMicro = 0L, curCount = 0L,
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

  /** Provisional emission: close the in-progress bucket virtually. */
  def emit(key: String, s: EwmaState): Iterator[EwmaLevel] =
    if (s.curCount > 0) {
      val avg = bucketAvg(s.curSumMicro, s.curCount)
      Iterator.single(
        EwmaLevel(key, s.nCompleted + 1,
                  r6(fold(s.hasLevel, s.level, avg))))
    } else if (s.hasLevel) {
      Iterator.single(EwmaLevel(key, s.nCompleted, r6(s.level)))
    } else Iterator.empty

  /** flatMapGroupsWithState handler keyed by event_type. */
  def smooth(key: String,
             events: Iterator[Event],
             state: GroupState[EwmaState]): Iterator[EwmaLevel] = {
    val s = advance(state.getOption.getOrElse(EmptyState), events)
    state.update(s)
    emit(key, s)
  }
}
