package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** Streaming first-order event transitions — the incremental form of
  * [[graft.operators.FunnelOps.eventTransitions]]: per user, each event
  * pairs with its predecessor (one tiny record of state per key), so the
  * downstream aggregation sees exactly the pairs the batch `lead` window
  * derives. Parity is asserted in StreamingParitySpec over multi-batch
  * splits (the state carries the boundary pair across batches).
  */
object TransitionProcessor {

  /** Last seen event per user (enough to resume the pairing). */
  case class LastEvent(ts_millis: Long, event_id: Long, event_type: String)

  case class Transition(user_id: Long, prev_type: String, next_type: String)

  /** Pure pairing core of [[track]], also driven directly by the
    * split-invariance properties.
    */
  def advance(key: Long,
              init: Option[LastEvent],
              events: Iterator[Event]): (Option[LastEvent], Seq[Transition]) = {
    var prev = init
    val out = events.toSeq
      .sortBy(e => (EventTime.micros(e.ts), e.event_id))
      .flatMap { e =>
        val t = prev.map(p => Transition(key, p.event_type, e.event_type))
        prev = Some(LastEvent(e.ts.getTime, e.event_id, e.event_type))
        t
      }
    (prev, out)
  }

  /** flatMapGroupsWithState handler keyed by user_id. */
  def track(key: Long,
            events: Iterator[Event],
            state: GroupState[LastEvent]): Iterator[Transition] = {
    val (prev, out) = advance(key, state.getOption, events)
    prev.foreach(state.update)
    out.iterator
  }
}
