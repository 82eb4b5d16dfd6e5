package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One surviving counter of a [[TopKSketch]] summary: the estimate is an
  * undercount with summary-wide bound `maxerr`, so
  * est ≤ true_count ≤ est + maxerr.
  */
case class TokenEst(token: String, est: Long, maxerr: Long)

/** Finished summary, wrapped in a product so the UDAF output is a plain
  * `array<struct<token,est,maxerr>>` column a query can explode.
  */
case class TopTokens(items: Seq[TokenEst])

/** Mutable Misra–Gries buffer: surviving counters plus the total
  * decrement applied so far (the error bound). Kryo-serialized — it is
  * engine-internal shuffle payload, never a SQL value.
  */
final class MgState(
    val counters: mutable.HashMap[String, Long] = mutable.HashMap.empty,
    var dec: Long = 0L)
    extends Serializable

/** Misra–Gries heavy-hitters sketch as a mergeable typed Aggregator
  * (the summary family shown mergeable by Agarwal et al., "Mergeable
  * Summaries", PODS'12): at most `k` counters per partial, weighted
  * updates, merge = counter-sum then compress back to ≤ k by
  * subtracting the (k+1)-th largest count. Invariant under ANY
  * update/merge order: est ≤ true_count ≤ est + dec for every token,
  * and every token with true_count > dec survives in the summary.
  *
  * Scale shape: the exact frequent-tokens pass shuffles the full
  * vocabulary; this one runs map-side in O(k) memory per partition and
  * final-merges one k-entry summary per partition — the bounded-memory
  * form a 100 TB corpus requires.
  *
  * Determinism (why an oracle can hash-check a sketch): compression
  * only fires when a partial exceeds k distinct tokens, so with k above
  * the stream's distinct-token count every estimate is EXACT and
  * dec = 0 regardless of partitioning. The gate query
  * (`approx_top_tokens`) runs with k = 64, above the test-corpus
  * vocabulary, and emits `within_bound` against exact counts; adversarial small-k
  * behavior (undercounts whose bound still holds under arbitrary
  * splits) is property-tested in SketchSpec.
  */
class TopKSketch(k: Int)
    extends Aggregator[(String, Long), MgState, TopTokens] {
  require(k >= 1, s"k must be >= 1: $k")

  def zero: MgState = new MgState()

  def reduce(s: MgState, in: (String, Long)): MgState = {
    s.counters.updateWith(in._1)(c => Some(c.getOrElse(0L) + in._2))
    compress(s)
  }

  def merge(a: MgState, b: MgState): MgState = {
    b.counters.foreach { case (t, c) =>
      a.counters.updateWith(t)(x => Some(x.getOrElse(0L) + c))
    }
    a.dec += b.dec
    compress(a)
  }

  /** Restore the ≤ k-counters invariant: subtract the (k+1)-th largest
    * count from every counter, drop the non-positive, charge the
    * subtraction to the error bound.
    */
  private def compress(s: MgState): MgState = {
    if (s.counters.size > k) {
      val vals = s.counters.values.toArray
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - (k + 1))
      s.counters.filterInPlace((_, c) => c > cut)
      s.counters.mapValuesInPlace((_, c) => c - cut)
      s.dec += cut
    }
    s
  }

  def finish(s: MgState): TopTokens =
    TopTokens(
      s.counters.toSeq
        .map { case (t, c) => TokenEst(t, c, s.dec) }
        .sortBy(e => (-e.est, e.token)))

  def bufferEncoder: Encoder[MgState] = Encoders.kryo[MgState]
  def outputEncoder: Encoder[TopTokens] = Encoders.product[TopTokens]
}

object TopKSketch {

  /** UDAF form: `topTokens(k)(tokenCol, weightCol)` aggregates weighted
    * token occurrences into one summary struct.
    */
  def topTokens(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKSketch(k),
                  Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    (t, w) => fn(t, w)
  }
}
