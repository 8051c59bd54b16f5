package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.model.Schemas._

/** Streaming Enter/Leave matching — the stateful-streaming twin of the
  * batch [[graft.enrich.EventMatcher]] (graft's extension; the reference
  * is batch-only, SURVEY §2.6).
  *
  * Per-process state is the open-frame stack (function name, enter ts,
  * enter id, parent frame id) — exactly the matcher's in-pass state, kept
  * between micro-batches via `flatMapGroupsWithState`. On each Leave the
  * matching Enter is popped with the reference's backward-scan tolerance
  * and one *completed-call* record is emitted: (process, name, enter/leave
  * ids and timestamps, depth at entry, inclusive ns). Exclusive time needs
  * the children's inclusive sums: each frame records its parent's id at
  * Enter time (as the batch matcher does) and adds its inc to that frame
  * at its own Leave — for balanced traces children close before parents,
  * so exc matches the batch EventMatcher exactly.
  *
  * Caveats of the streaming setting (documented, inherent): events must
  * arrive in timestamp order per process (use a sorted source or
  * micro-batch alignment); state size is O(open frames per process) =
  * O(call depth). For UNBALANCED traces (a Leave matching a non-top
  * frame), a child can outlive its parent; its inc is then attributed to
  * the nearest still-open ancestor frame (the batch matcher, with the
  * whole trace in hand, attributes it to the already-closed parent —
  * append-mode streaming cannot retract an emitted record, so the two
  * diverge on this degenerate case by design).
  */
object StreamingMatcher {

  case class InEvent(process: Int, event_id: Long, timestamp_ns: Long,
                     event_type: String, name: String)
  case class Frame(name: String, enterId: Long, enterTs: Long,
                   parentEnterId: Long, // -1 = top-level (no parent)
                   depth: Int, // stack height at Enter, like the batch matcher
                   var childInc: Long)
  case class MatchState(stack: List[Frame],
                        maxTs: Long = Long.MinValue) // per-process high-water mark
  case class CompletedCall(process: Int, name: String, enter_id: Long,
                           leave_id: Long, enter_ts: Long, leave_ts: Long,
                           depth: Int, time_inc: Long, time_exc: Long)

  /** events: streaming DataFrame with canonical columns. Returns a stream
    * of completed calls (append mode).
    *
    * `allowedLatenessNs` bounds cross-batch disorder, the stateful-op
    * analogue of a watermark: each process's state carries the highest
    * timestamp it has processed, and an event arriving in a later batch
    * with `ts < maxTs - allowedLatenessNs` is dropped instead of being
    * pushed onto a stack whose shape already assumed it never existed
    * (a late Enter would corrupt every subsequent exc attribution; a late
    * Leave would close the wrong frame). Within a batch, events are sorted
    * before processing, so lateness only bites across batches — exactly
    * like watermarked aggregations. The default (Long.MaxValue) keeps the
    * historical accept-everything behavior. */
  def completedCalls(events: DataFrame,
                     allowedLatenessNs: Long = Long.MaxValue): DataFrame = {
    val in = events.select(
      col(Process).cast("int").as("process"),
      col(EventId).cast("long").as("event_id"),
      col(TimestampNs).cast("long").as("timestamp_ns"),
      col(EventType).as("event_type"),
      col(Name).as("name"))
    BatchReplay.keyed[Int, InEvent, MatchState, CompletedCall](in,
      Seq("process"), _.process, None)(processGroup(allowedLatenessNs))
  }

  private[streaming] def processGroup(allowedLatenessNs: Long)(
      process: Int, events: Iterator[InEvent],
      state: GroupState[MatchState]): Iterator[CompletedCall] = {
    // restore the open-frame stack (top = head)
    val stack = mutable.ArrayBuffer[Frame]()
    var maxTs = state.getOption.map(_.maxTs).getOrElse(Long.MinValue)
    state.getOption.foreach(s => stack ++= s.stack.reverse) // stored top-first
    val out = mutable.ArrayBuffer[CompletedCall]()

    val inOrder = events.toSeq.sortBy(ev => (ev.timestamp_ns, ev.event_id))
    val admitted =
      if (allowedLatenessNs == Long.MaxValue || maxTs == Long.MinValue) inOrder
      else inOrder.filter(_.timestamp_ns >= maxTs - allowedLatenessNs)
    for (e <- admitted) {
      if (e.timestamp_ns > maxTs) maxTs = e.timestamp_ns
      e.event_type match {
        case Enter =>
          // parent identity and depth are fixed at Enter time, like the
          // batch matcher
          val parent = if (stack.isEmpty) -1L else stack.last.enterId
          stack += Frame(e.name, e.event_id, e.timestamp_ns, parent,
            stack.length, 0L)
        case Leave =>
          // backward scan for the matching name (reference tolerance,
          // pipit/trace.py:168-186); unmatched Leave is skipped
          var j = stack.length - 1
          while (j >= 0 && stack(j).name != e.name) j -= 1
          if (j >= 0) {
            val f = stack.remove(j)
            val inc = e.timestamp_ns - f.enterTs
            // credit inc to the recorded parent if still open; if it was
            // closed by an unbalanced mid-stack Leave, fall back to the
            // nearest open ancestor so Σ exc stays = Σ top-level inc
            val p = stack.indexWhere(_.enterId == f.parentEnterId)
            if (p >= 0) stack(p).childInc += inc
            else if (j > 0) stack(j - 1).childInc += inc
            out += CompletedCall(process, f.name, f.enterId, e.event_id,
              f.enterTs, e.timestamp_ns, f.depth, inc, inc - f.childInc)
          }
        case _ =>
      }
    }
    state.update(MatchState(stack.reverseIterator.toList, maxTs))
    out.iterator
  }
}
