package graft

import graft.functions.RollingWindow
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Algebraic properties of the rolling-window core (SURVEY §5 item b):
  * the incremental sum/sumSquares maintenance must follow the
  * reference's operation order, median/MAD must equal their sort-based
  * definitions bit-for-bit, and a snapshot/restore (the per-trigger state
  * boundary of the streaming detectors) must not change any later output.
  * Property-style via fixed-seed sampling.
  */
class RollingStatsSpec extends AnyFunSuite {

  private def samples(seed: Int): Seq[List[Double]] = {
    val rnd = new Random(seed)
    (0 until 200).map { _ =>
      List.fill(rnd.nextInt(40))(rnd.nextDouble() * 2e3 - 1e3)
    }
  }

  private def window(capacity: Int, xs: Seq[Double]): RollingWindow = {
    val w = new RollingWindow(capacity)
    xs.foreach(w.add)
    w
  }

  /** Sequences that stress the sorted array and the MAD merge: heavy
    * duplicates, monotone runs, constants, ulp-close values and plain
    * noise, each longer than the capacities they are run through.
    */
  private def adversarial(seed: Int): Seq[Vector[Double]] = {
    val rnd = new Random(seed)
    def len = 150 + rnd.nextInt(100)
    (0 until 40).flatMap { _ =>
      Seq(
        Vector.fill(len)(rnd.nextInt(4).toDouble),
        Vector.tabulate(len)(i => if (i < len / 2) i * 0.5 else (len - i) * 0.25),
        Vector.fill(len)(7.0),
        Vector.fill(len)(1.0 + rnd.nextInt(3) * math.ulp(1.0)),
        Vector.fill(len)(rnd.nextDouble() * 2e3 - 1e3),
        Vector.fill(len)(math.exp(rnd.nextGaussian() * 2))
      )
    }
  }

  private def sortedMedian(sorted: Array[Double]): Double = {
    val n = sorted.length
    (sorted((n + 1) / 2 - 1) + sorted(n / 2)) / 2.0
  }

  /** (median, MAD) by the definitions: sort, midpoint; sort |x − m|. */
  private def sortBased(kept: Seq[Double]): (Double, Double) = {
    val s = kept.toArray
    java.util.Arrays.sort(s)
    val m = sortedMedian(s)
    val dev = kept.map(x => math.abs(x - m)).toArray
    java.util.Arrays.sort(dev)
    (m, sortedMedian(dev))
  }

  private def outputs(w: RollingWindow): Seq[Double] =
    Seq(w.size.toDouble, w.sum, w.sumSquares, w.mean, w.stddev, w.median, w.mad)

  test("incremental sum/sumSquares equals recomputation over the ring") {
    for (xs <- samples(1)) {
      val w = window(10, xs)
      val kept = xs.takeRight(10)
      assert(w.snapshot.values.toList == kept)
      assert(math.abs(w.sum - kept.sum) < 1e-6)
      assert(math.abs(w.sumSquares - kept.map(x => x * x).sum) < 1e-4)
    }
  }

  test("incremental moments equal a left fold in the reference's order") {
    for (cap <- Seq(1, 3, 10, 100); xs <- adversarial(4).take(60)) {
      val w = new RollingWindow(cap)
      var kept = Vector.empty[Double]
      var sum = 0.0
      var sumSq = 0.0
      for (x <- xs) {
        if (kept.size == cap) {
          val ev = kept.head
          kept = kept.tail :+ x
          sum = sum - ev + x
          sumSq = sumSq - ev * ev + x * x
        } else {
          kept = kept :+ x
          sum = sum + x
          sumSq = sumSq + x * x
        }
        w.add(x)
        assert(w.sum == sum && w.sumSquares == sumSq)
      }
    }
  }

  test("refold equals an arrival-order left fold over the window") {
    for (xs <- adversarial(5).take(60)) {
      val w = new RollingWindow(100)
      xs.zipWithIndex.foreach { case (x, i) =>
        w.add(x)
        w.refold()
        val kept = xs.slice(math.max(0, i - 99), i + 1)
        assert(w.sum == kept.foldLeft(0.0)(_ + _))
        assert(w.sumSquares == kept.foldLeft(0.0)((a, v) => a + v * v))
      }
    }
  }

  test("mean and population stddev match two-pass formulas") {
    for (xs <- samples(2) if xs.nonEmpty) {
      val w = window(1000, xs)
      val mean = xs.sum / xs.size
      val variance = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
      assert(math.abs(w.mean - mean) < 1e-9)
      assert(math.abs(w.stddev - math.sqrt(variance)) < 1e-6)
    }
  }

  test("median matches reference semantics (avg of two middles when even)") {
    assert(window(100, Seq(3, 1, 2)).median == 2.0)
    assert(window(100, Seq(4, 1, 3, 2)).median == 2.5)
    for (xs <- samples(3) if xs.nonEmpty) {
      val w = window(1000, xs)
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      val expected =
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      assert(w.median == expected)
    }
  }

  test("MAD is the median of absolute deviations from the median") {
    // values 1..5: median 3, |dev| = [2,1,0,1,2] sorted [0,1,1,2,2] → 1
    assert(window(100, (1 to 5).map(_.toDouble)).mad == 1.0)
  }

  test("median and MAD are bit-equal to the sort-based definitions at every step") {
    for (cap <- Seq(1, 2, 7, 100); xs <- adversarial(6)) {
      val w = new RollingWindow(cap)
      xs.zipWithIndex.foreach { case (x, i) =>
        w.add(x)
        val (median, mad) = sortBased(xs.slice(math.max(0, i - cap + 1), i + 1))
        assert(w.median == median, s"median at step $i, capacity $cap")
        assert(w.mad == mad, s"MAD at step $i, capacity $cap")
      }
    }
  }

  test("snapshot and restore partway through equal an unbroken fold") {
    val rnd = new Random(7)
    for (cap <- Seq(1, 10, 100); xs <- adversarial(8).take(60)) {
      val cut = rnd.nextInt(xs.size)
      val unbroken = window(cap, xs.take(cut))
      val st = unbroken.snapshot
      // a fresh window per trigger, restored from a copy of the state
      val resumed = new RollingWindow(cap)
        .restore(RollingWindow.State(st.values.clone(), st.sum, st.sumSquares))
      assert(outputs(resumed) == outputs(unbroken))
      for (x <- xs.drop(cut)) {
        unbroken.add(x)
        resumed.add(x)
        assert(outputs(resumed) == outputs(unbroken))
      }
      assert(resumed.snapshot.values.toSeq == unbroken.snapshot.values.toSeq)
    }
  }

  test("eviction keeps exactly capacity most-recent values") {
    val w = window(100, (1 to 150).map(_.toDouble))
    val values = w.snapshot.values
    assert(w.size == 100)
    assert(values.head == 51.0 && values.last == 150.0)
    assert(w.mean == (51 to 150).sum / 100.0)
  }
}
