package graft.functions

/** The keyed rolling window of the reference's `RollingStats`
  * (`AnomalyDetectionJob.java:178-251`): the last `capacity` values of
  * one key with their count, population mean/stddev (variance clamped at
  * 0), midpoint median (average of the two middles when even) and MAD
  * (median of absolute deviations from that median). It is the one core
  * behind the batch operator ([[graft.plans.RollingStatsExec]]) and every
  * streaming detector ([[graft.streaming.AnomalyProcessor.scoreBatch]]).
  *
  * Two primitive arrays hold the same multiset: `ring` in arrival order
  * and `sorted` ascending. An add is a binary search plus one arraycopy
  * per insert or eviction, so the median is a direct read and the MAD an
  * O(w) merge — nothing is sorted per value.
  *
  * The moments come in two operation orders, and each caller's results
  * depend on its own bit-for-bit: [[add]] maintains `sum`/`sumSquares`
  * incrementally as the reference does (`sum - evicted + x`), which the
  * streaming detectors keep; [[refold]] replaces them with a left fold
  * over the ring in arrival order, which is how the WindowExec form and
  * the DuckDB oracle sum a frame.
  */
final class RollingWindow(val capacity: Int) {
  require(capacity > 0, s"capacity must be positive, got $capacity")

  private val ring = new Array[Double](capacity)
  private val sorted = new Array[Double](capacity)
  private var start = 0
  private var n = 0
  private var s = 0.0
  private var sq = 0.0

  def size: Int = n
  def sum: Double = s
  def sumSquares: Double = sq

  def clear(): Unit = { start = 0; n = 0; s = 0.0; sq = 0.0 }

  def add(x: Double): Unit =
    if (n < capacity) {
      ring((start + n) % capacity) = x
      insertSorted(x, n)
      n += 1
      s = s + x
      sq = sq + x * x
    } else {
      val evicted = ring(start)
      ring(start) = x
      start = (start + 1) % capacity
      s = s - evicted + x
      sq = sq - evicted * evicted + x * x
      removeSorted(evicted, n)
      insertSorted(x, n - 1)
    }

  /** Recomputes `sum`/`sumSquares` as a left fold over the window in
    * arrival order.
    */
  def refold(): Unit = {
    var a = 0.0
    var b = 0.0
    var i = 0
    while (i < n) {
      val x = ring((start + i) % capacity)
      a += x
      b += x * x
      i += 1
    }
    s = a
    sq = b
  }

  def mean: Double = if (n == 0) 0.0 else s / n

  def stddev: Double =
    if (n == 0) 0.0 else math.sqrt(math.max(0.0, sq / n - mean * mean))

  def median: Double =
    if (n == 0) 0.0 else (sorted((n + 1) / 2 - 1) + sorted(n / 2)) / 2.0

  /** |x − median| decreases as x walks left of the median and increases
    * as it walks right, so merging the two runs outward from the split
    * point streams the deviations in ascending order: rank selection
    * without a sort. `m − x` for x ≤ m and `x − m` for x > m are bit-equal
    * to `math.abs(x − m)` (IEEE negation is exact), so the selected
    * deviations are the doubles the sort-based definition selects.
    */
  def mad: Double =
    if (n == 0) 0.0
    else {
      val m = median
      var lo0 = 0
      var hi0 = n
      while (lo0 < hi0) {
        val mid = (lo0 + hi0) >>> 1
        if (sorted(mid) <= m) lo0 = mid + 1 else hi0 = mid
      }
      val r1 = (n + 1) / 2 - 1
      val r2 = n / 2
      var lo = lo0 - 1
      var hi = lo0
      var rank = 0
      var d1 = 0.0
      var d2 = 0.0
      while (rank <= r2) {
        val dl = if (lo >= 0) m - sorted(lo) else Double.PositiveInfinity
        val dr = if (hi < n) sorted(hi) - m else Double.PositiveInfinity
        val d = if (dl <= dr) { lo -= 1; dl } else { hi += 1; dr }
        if (rank == r1) d1 = d
        if (rank == r2) d2 = d
        rank += 1
      }
      (d1 + d2) / 2.0
    }

  def snapshot: RollingWindow.State = {
    val values = new Array[Double](n)
    var i = 0
    while (i < n) { values(i) = ring((start + i) % capacity); i += 1 }
    RollingWindow.State(values, s, sq)
  }

  /** Replaces the window with `st` — one sort of at most `capacity`
    * values; `Arrays.sort` and `binarySearch` share the same total order
    * on doubles, so the result equals the incrementally built array.
    */
  def restore(st: RollingWindow.State): this.type = {
    val k = st.values.length
    require(k <= capacity, s"state holds $k values, capacity is $capacity")
    System.arraycopy(st.values, 0, ring, 0, k)
    System.arraycopy(st.values, 0, sorted, 0, k)
    java.util.Arrays.sort(sorted, 0, k)
    start = 0
    n = k
    s = st.sum
    sq = st.sumSquares
    this
  }

  private def insertSorted(x: Double, len: Int): Unit = {
    var i = java.util.Arrays.binarySearch(sorted, 0, len, x)
    if (i < 0) i = -i - 1
    System.arraycopy(sorted, i, sorted, i + 1, len - i)
    sorted(i) = x
  }

  /** `x` was inserted earlier, and `binarySearch` finds it under the
    * same total order the insertion used.
    */
  private def removeSorted(x: Double, len: Int): Unit = {
    val i = java.util.Arrays.binarySearch(sorted, 0, len, x)
    System.arraycopy(sorted, i + 1, sorted, i, len - i - 1)
  }
}

object RollingWindow {

  /** A window as stored state: its values in arrival order plus the
    * carried moments (which a refold would not reproduce bit-for-bit).
    */
  case class State(values: Array[Double], sum: Double, sumSquares: Double)
}
