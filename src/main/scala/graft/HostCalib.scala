package graft

import scala.util.control.NonFatal

/** Host fingerprint + single-thread speed calibration, shared by
  * [[Bench]] (per-snapshot, for bench_diff's HOST VERDICT) and
  * [[ThroughputProbe]] (per-config, so a latency line carries the
  * box-speed evidence it was captured under).
  *
  * The calibration is a fixed 300M-step xorshift64 loop — pure
  * single-thread integer work, the axis that scales every per-query
  * minimum and every trigger-execution time. Its wall time is a direct
  * measure of how fast THIS box runs one thread RIGHT NOW: cross-box it
  * adjudicates host identity (the round-11 phantom regressions), and
  * within one long session it separates "the box degraded under
  * sustained load" (calib grows too — shared-VM neighbor/throttle
  * noise) from "the code accumulates drag" (calib flat while trigger
  * times grow).
  */
object HostCalib {

  /** The /proc/cpuinfo model string ("" off-Linux). */
  def cpuModel: String =
    try scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .collectFirst { case l if l.startsWith("model name") =>
        l.split(":", 2)(1).trim }
      .getOrElse("")
    catch { case NonFatal(_) => "" }

  private def pass(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // xorshift64 never maps a nonzero state to 0 — the require keeps
    // the loop observable so JIT cannot dead-code it
    require(x != 0L, "xorshift64 broke")
    (System.nanoTime() - t0) / 1e9
  }

  /** Min-of-3 seconds for the fixed loop, after one unbilled JIT
    * warmup pass.
    */
  def calibrate(): Double = {
    pass()
    (1 to 3).map(_ => pass()).min
  }
}
