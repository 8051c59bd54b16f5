package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.analysis.CommOps.{RecvNames, SendNames}
import graft.model.Schemas._

/** Streaming twins of [[graft.analysis.CommOps.matchMessages]]
  * (pipit/trace.py:393-481 pairs the k-th send with the k-th receive of
  * each (src, dst) channel).
  *
  * Two formulations, because streaming offers a real trade-off here:
  *
  *  - [[matchMessages]] — exact FIFO pairing via
  *    `flatMapGroupsWithState` keyed by channel. State is the pending
  *    unmatched queue per channel (bounded by in-flight message depth,
  *    not stream length) plus the next rank; matches emit exactly the
  *    batch operator's rows. Cross-batch disorder shifts pairing the
  *    same way a reordered trace file would — the inherent streaming
  *    caveat, bounded by the micro-batch interval.
  *  - [[matchMessagesWindow]] — Spark's built-in stream-stream interval
  *    join: sends ⋈ receives on the channel key with the receive inside
  *    `maxLatency` after the send. ZERO custom state — the watermark
  *    prunes both join buffers — making it the formulation that
  *    survives an unbounded run on a 1000-executor cluster unattended.
  *    It is a time-correlation, not a rank pairing: a send matches
  *    every receive in its window (candidate pairs; exact pairing
  *    downstream or via [[matchMessages]]).
  */
object StreamingComm {

  /** Exact FIFO channel matcher. Input: streaming events in the trace
    * schema. Output: matchMessages' columns (src, dst, k, send/recv
    * event ids and timestamps, latency_ns), appended as pairs complete.
    *
    * `idleTimeout` drops state for channels idle that long (an
    * unbounded channel domain — e.g. ephemeral ranks — would otherwise
    * grow the store without bound); a message completing after its
    * channel was dropped re-ranks from 1, as if the stream had started
    * then. */
  def matchMessages(events: DataFrame,
                    idleTimeout: Option[String] = None): DataFrame = {
    val sends = events.filter(col(Name).isin(SendNames: _*))
      .select(col(Process).cast("long").as("src"),
        col(AttrReceiver).cast("long").as("dst"),
        lit(0).as("side"), col(TimestampNs).cast("long").as("ts"),
        col(EventId).cast("long").as("id"))
    val recvs = events.filter(col(Name).isin(RecvNames: _*))
      .select(col(Process).cast("long").as("dst"),
        col(AttrReceiver).cast("long").as("src"),
        lit(1).as("side"), col(TimestampNs).cast("long").as("ts"),
        col(EventId).cast("long").as("id"))
      .select(col("src"), col("dst"), col("side"), col("ts"), col("id"))
    BatchReplay.keyed[(Long, Long), CommIn, CommState, MatchedMsg](
      sends.union(recvs), Seq("src", "dst"), r => (r.src, r.dst),
      idleTimeout)(fifoGroup(idleTimeout))
  }

  case class CommIn(src: Long, dst: Long, side: Int, ts: Long, id: Long)
  case class CommState(nextK: Long, sendTs: Seq[Long], sendId: Seq[Long],
                       recvTs: Seq[Long], recvId: Seq[Long])
  case class MatchedMsg(src: Long, dst: Long, k: Long,
                        send_event_id: Long, recv_event_id: Long,
                        send_ts: Long, recv_ts: Long, latency_ns: Long)

  private[streaming] def fifoGroup(idleTimeout: Option[String] = None)(
      key: (Long, Long), rows: Iterator[CommIn],
      state: GroupState[CommState]): Iterator[MatchedMsg] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val st = state.getOption.getOrElse(CommState(1L, Nil, Nil, Nil, Nil))
    val (newSends, newRecvs) = rows.toSeq.partition(_.side == 0)
    // within a batch each side orders by (ts, id) — the batch ranking rule
    val sends = (st.sendTs.zip(st.sendId) ++
      newSends.sortBy(r => (r.ts, r.id)).map(r => (r.ts, r.id))).toBuffer
    val recvs = (st.recvTs.zip(st.recvId) ++
      newRecvs.sortBy(r => (r.ts, r.id)).map(r => (r.ts, r.id))).toBuffer
    var k = st.nextK
    val out = scala.collection.mutable.ArrayBuffer[MatchedMsg]()
    while (sends.nonEmpty && recvs.nonEmpty) {
      val (sts, sid) = sends.remove(0)
      val (rts, rid) = recvs.remove(0)
      out += MatchedMsg(key._1, key._2, k, sid, rid, sts, rts, rts - sts)
      k += 1
    }
    state.update(CommState(k, sends.map(_._1).toSeq, sends.map(_._2).toSeq,
      recvs.map(_._1).toSeq, recvs.map(_._2).toSeq))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Built-in stream-stream interval join: candidate (send, receive)
    * pairs on the same channel with the receive at most `maxLatency`
    * after the send (event time from `timestamp_ns`, truncated to
    * microseconds — floor keeps recv_time >= send_time whenever
    * recv_ts >= send_ts). Both sides carry `watermarkDelay` watermarks,
    * so Spark itself expires buffered rows — no user state anywhere. */
  def matchMessagesWindow(events: DataFrame,
                          maxLatency: String = "10 seconds",
                          watermarkDelay: String = "30 seconds"): DataFrame = {
    val sends = events.filter(col(Name).isin(SendNames: _*))
      .select(col(Process).cast("long").as("src"),
        col(AttrReceiver).cast("long").as("dst"),
        col(TimestampNs).cast("long").as("send_ts"),
        col(EventId).cast("long").as("send_event_id"))
      .withColumn("send_time", timestamp_micros(expr("send_ts div 1000")))
      .withWatermark("send_time", watermarkDelay)
    val recvs = events.filter(col(Name).isin(RecvNames: _*))
      .select(col(Process).cast("long").as("r_dst"),
        col(AttrReceiver).cast("long").as("r_src"),
        col(TimestampNs).cast("long").as("recv_ts"),
        col(EventId).cast("long").as("recv_event_id"))
      .withColumn("recv_time", timestamp_micros(expr("recv_ts div 1000")))
      .withWatermark("recv_time", watermarkDelay)
    sends.join(recvs,
        col("src") === col("r_src") && col("dst") === col("r_dst") &&
          col("recv_time") >= col("send_time") &&
          col("recv_time") <= col("send_time") + expr(s"INTERVAL $maxLatency"))
      .select(col("src"), col("dst"), col("send_event_id"), col("recv_event_id"),
        col("send_ts"), col("recv_ts"),
        (col("recv_ts") - col("send_ts")).as("latency_ns"))
  }

  /** Streaming twin of [[graft.analysis.CommOps.commStructure]]'s FIRST
    * aggregation: per (tumbling event-time window, sender, receiver)
    * message and byte counts, finalized by the watermark (append mode —
    * a window's pairs emit once, when it can no longer receive late
    * sends). This stage is the corpus-sized reduction; the per-window
    * structure rollup (cardinalities, busiest pair, self/ring shares) is
    * the batch operator's second aggregation applied to this
    * already-tiny finalized table — chaining it INSIDE the stream would
    * need a second stateful aggregation with a distinct-count, which
    * streaming doesn't support; running it downstream of the sink (or
    * per micro-batch via foreachBatch) gives the same rows.
    * Built-in windowed aggregation only: the watermark bounds state, no
    * user state store. `binNs` is the tumbling width in nanoseconds
    * (trace time; converted to µs timestamps for the window operator). */
  def structurePairs(events: DataFrame, binNs: Long,
                     watermarkDelay: String = "30 seconds"): DataFrame = {
    val sends = events.filter(col(Name).isin(SendNames: _*))
      .select(col(Process).as("s"), col(AttrReceiver).as("r"),
        col(AttrMsgLength).cast("long").as("sz"),
        timestamp_micros(expr(s"${TimestampNs} div 1000")).as("t"))
      .withWatermark("t", watermarkDelay)
    sends
      .groupBy(window(col("t"), s"${binNs / 1000} microseconds"),
        col("s"), col("r"))
      .agg(count(lit(1)).as("n"), sum(col("sz")).as("b"))
      .select(col("window.start").as("win_start"), col("s"), col("r"),
        col("n"), col("b"))
  }
}
