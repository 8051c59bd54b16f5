package graft.enrich

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GroupPass, RddBridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas._

/** Enter/Leave matching + caller/callee linking + callpath hashing — the one
  * genuinely custom physical operator of the engine (SURVEY §2.3 M1/M2/M5).
  *
  * Reference semantics reproduced exactly:
  *  - matching (pipit/trace.py:106-191): per execution location
  *    (Process[,Thread]), walk Enter/Leave rows in (timestamp, event_id)
  *    order with an explicit stack. A Leave matches the nearest stack entry
  *    with the same name, scanning from the top; that entry is removed (any
  *    entries *above* it stay — tolerance for unbalanced traces,
  *    trace.py:168-186); a Leave with no matching name on the stack is left
  *    unmatched. Both rows of a pair get each other's id/timestamp.
  *  - caller/callee (pipit/trace.py:193-292): a second walk over *matched*
  *    Enter/Leave rows only; Enter records depth = current stack height and
  *    parent = enclosing Enter; Leave pops unconditionally. depth/parent are
  *    set on Enter rows only (Leave rows carry null, as in the reference).
  *  - callpath (pipit/util/cct.py:9-118): instead of pointer `Node` objects
  *    we emit a 64-bit `path_hash` chained as
  *    mix(parent_path_hash, fnv1a64(name)) on matched Enter rows; the CCT
  *    table is recovered relationally in [[graft.cct.Cct]].
  *
  * Spark shape: one [[org.apache.spark.sql.graftbridge.GroupPass]] keyed
  * on (process[, thread]) and ordered by (timestamp_ns, event_id): one
  * exchange and sort that Catalyst plans, then one pass per location.
  * The buffered pass runs as its own query when the DataFrame is built;
  * the bounded passes are part of the caller's plan. Parallelism =
  * number of execution locations; memory = O(events of one location)
  * per task (the reference buffers the *whole* trace on one node; we
  * buffer one location per task — at cluster scale partition counts
  * equal location counts, which for HPC traces is the natural
  * sharding). An input already clustered on the location columns, or
  * on a subset of them, at any partition count shuffles nothing, and
  * one sorted by (location, timestamp_ns, event_id) sorts nothing
  * ([[graft.ingest.Otf2Reader]]'s output is both, also once persisted),
  * in this pass and in [[enrichBounded]]'s first.
  *
  * All other event rows (Instant etc.) pass through with null enrichment,
  * so downstream operators see the full events table plus the new columns
  * — no join back is needed.
  */
object EventMatcher {

  val enrichmentColumns: Seq[StructField] = Seq(
    StructField(MatchingEventId, LongType, nullable = true),
    StructField(MatchingTs, LongType, nullable = true),
    StructField(Depth, IntegerType, nullable = true),
    StructField(ParentEventId, LongType, nullable = true),
    StructField(PathHash, LongType, nullable = true),
    StructField(ParentPathHash, LongType, nullable = true),
    // time metrics computed in the same pass: matching and parent links are
    // already in hand, so inclusive time (leave ts − enter ts,
    // pipit/trace.py:318-325) and exclusive time (inc − Σ direct children's
    // inc, trace.py:357-363) cost nothing extra here — computing them later
    // would need an aggregation shuffle plus a self-join over all events
    StructField(TimeInc, LongType, nullable = true),
    StructField(TimeExc, LongType, nullable = true)
  )

  /** FNV-1a 64-bit over UTF-8 bytes — stable, dependency-free name hash. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — chains parent path hash with a child name hash. */
  def mix(parent: Long, nameHash: Long): Long = {
    var z = parent + 0x9e3779b97f4a7c15L + nameHash
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Root sentinel for path hash chaining. */
  val RootHash: Long = 0x6772616674000000L // "graft" seed

  def isEnriched(events: DataFrame): Boolean =
    events.columns.contains(MatchingEventId)

  /** Idempotent (column-presence memoization, like pipit trace.py:111).
    *
    * Dispatches on the `matcher_mode` option: "buffered" (default) holds
    * one location in memory per task — the fast single-pass path;
    * "bounded" runs [[enrichBounded]], which keeps only O(stack-depth)
    * state and survives a pathological trace whose events are
    * concentrated in one location. */
  def enrich(events: DataFrame): DataFrame = {
    if (isEnriched(events)) return events
    if (graft.util.GraftConfig.getOption("matcher_mode") == "bounded")
      enrichBounded(events)
    else enrichBuffered(events)
  }

  private def enrichBuffered(events: DataFrame): DataFrame = {
    val schema = events.schema
    val idIdx = schema.fieldIndex(EventId)
    val tsIdx = schema.fieldIndex(TimestampNs)
    val typeIdx = schema.fieldIndex(EventType)
    val nameIdx = schema.fieldIndex(Name)

    // The pass reads InternalRows in place: a RowEncoder round trip per
    // row (external Row in, external Row out) costs more than the
    // matching itself, which is integer array walks (r11, guide §4.1).
    // Input rows are copied when buffered (the scan reuses its row); each
    // output is a fresh JoinedRow(input, enrichment) so no reuse hazard.
    val pass = GroupPass(events, locationCols(events), Seq(TimestampNs, EventId),
        StructType(schema.fields ++ enrichmentColumns)) { groups =>
      groups.flatMap { case (_, group) =>
        val rows = group.map(_.copy()).to(ArrayBuffer)
        val n = rows.length
        val matchId = new Array[Long](n)
        val matchTs = new Array[Long](n)
        val matched = new Array[Boolean](n)

        // pass 1: matching (trace.py:106-191)
        val stack = new ArrayBuffer[Int]()
        var i = 0
        while (i < n) {
          val r = rows(i)
          val et = r.getUTF8String(typeIdx)
          if (et == EnterU8) {
            stack += i
          } else if (et == LeaveU8) {
            val nm = r.getUTF8String(nameIdx)
            var j = stack.length - 1
            while (j >= 0 && rows(stack(j)).getUTF8String(nameIdx) != nm) j -= 1
            if (j >= 0) {
              val e = stack.remove(j)
              matched(e) = true; matched(i) = true
              matchId(e) = rows(i).getLong(idIdx)
              matchId(i) = rows(e).getLong(idIdx)
              matchTs(e) = rows(i).getLong(tsIdx)
              matchTs(i) = rows(e).getLong(tsIdx)
            }
          }
          i += 1
        }

        // pass 2: depth/parent/path + time metrics over matched Enters
        // (trace.py:193-292; inc/exc per trace.py:318-325,357-363)
        stack.clear()
        val depth = new Array[Int](n)
        val parent = Array.fill(n)(-1) // row index of the enclosing Enter
        val path = new Array[Long](n)
        val childIncSum = new Array[Long](n) // Σ direct children's inc per enter
        i = 0
        while (i < n) {
          if (matched(i)) {
            if (rows(i).getUTF8String(typeIdx) == EnterU8) {
              depth(i) = stack.length
              if (stack.nonEmpty) {
                parent(i) = stack.last
                childIncSum(stack.last) += matchTs(i) - rows(i).getLong(tsIdx)
              }
              path(i) = mix(if (stack.isEmpty) RootHash else path(stack.last),
                fnv1a64(rows(i).getString(nameIdx)))
              stack += i
            } else if (stack.nonEmpty) { // Leave pops unconditionally (matched stream is balanced)
              stack.remove(stack.length - 1)
            }
          }
          i += 1
        }

        rows.iterator.zipWithIndex.map { case (r, k) =>
          val vals = new Array[Any](enrichmentColumns.length)
          if (matched(k)) {
            vals(0) = matchId(k)
            vals(1) = matchTs(k)
            if (r.getUTF8String(typeIdx) == EnterU8) { // the rest is set on Enters only
              val inc = matchTs(k) - r.getLong(tsIdx)
              vals(2) = depth(k)
              if (parent(k) >= 0) { vals(3) = rows(parent(k)).getLong(idIdx); vals(5) = path(parent(k)) }
              vals(4) = path(k)
              vals(6) = inc
              vals(7) = inc - childIncSum(k)
            }
          }
          new JoinedRow(r, new GenericInternalRow(vals)): InternalRow
        }
      }
    }
    // its own query: AQE never coalesces a persisted plan's last stage, and
    // analyses over a persisted trace pay for every extra partition
    RddBridge.fromInternalRdd(events.sparkSession, pass.queryExecution.toRdd, pass.schema)
  }

  /** Bounded-memory enrichment: identical output to the buffered path, but
    * no task ever buffers a whole location. Two streaming passes with
    * O(stack-depth) state plus two equi-joins on `event_id`:
    *
    *  1. matching pass — the Enter stack holds (name, id, ts) only; each
    *     matched pair emits two (event_id → matching id/ts) records at the
    *     Leave. Joined back to the events.
    *  2. caller/callee pass over the match-joined rows — matched flags are
    *     now known per row, so depth/parent/path/inc/exc stream with a
    *     stack of per-Enter accumulators; each pop emits the popped
    *     Enter's enrichment record. Joined back on the Enter's id.
    *
    * The extra shuffles are the price of boundedness; both joins are on
    * the unique `event_id`, so they have no skew even when the trace
    * does. Unmatched-heavy traces degrade to O(unmatched) stack entries
    * (the reference has the same behavior). */
  def enrichBounded(events: DataFrame): DataFrame = {
    if (isEnriched(events)) return events
    val schema = events.schema
    val locNames = locationCols(events)
    val locCols = locNames.map(col)
    val order = Seq(TimestampNs, EventId)
    val nLoc = locCols.length

    // ---- pass 1: matching with O(stack) state -------------------------
    val slim = events.select(locCols ++ Seq(col(EventId), col(TimestampNs),
      col(EventType), col(Name)): _*)
    val matchSchema = StructType(Seq(
      StructField(EventId, LongType, nullable = false),
      StructField(MatchingEventId, LongType, nullable = false),
      StructField(MatchingTs, LongType, nullable = false)))
    val matchInfo = GroupPass(slim, locNames, order, matchSchema) { groups =>
      groups.flatMap { case (_, rows) =>
        val stack = new ArrayBuffer[(UTF8String, Long, Long)]() // (name, id, ts)
        rows.flatMap { r =>
          val id = r.getLong(nLoc)
          val ts = r.getLong(nLoc + 1)
          val et = r.getUTF8String(nLoc + 2)
          if (et == EnterU8) {
            stack += ((r.getUTF8String(nLoc + 3).clone(), id, ts)); Nil
          } else if (et == LeaveU8) {
            val nm = r.getUTF8String(nLoc + 3)
            var j = stack.length - 1
            while (j >= 0 && stack(j)._1 != nm) j -= 1
            if (j < 0) Nil
            else {
              val (_, eid, ets) = stack.remove(j)
              Seq(InternalRow(eid, id, ts), InternalRow(id, eid, ets))
            }
          } else Nil
        }
      }
    }

    val withMatch = events.join(matchInfo, Seq(EventId), "left")

    // ---- pass 2: caller/callee/path/metrics with O(depth) state -------
    val slim2 = withMatch.select(locCols ++ Seq(col(EventId), col(TimestampNs),
      col(EventType), col(Name), col(MatchingTs)): _*)
    val enrichSchema = StructType(Seq(
      StructField(EventId, LongType, nullable = false),
      StructField(Depth, IntegerType, nullable = false),
      StructField(ParentEventId, LongType, nullable = true),
      StructField(PathHash, LongType, nullable = false),
      StructField(ParentPathHash, LongType, nullable = true),
      StructField(TimeInc, LongType, nullable = false),
      StructField(TimeExc, LongType, nullable = false)))
    final class Frame(val id: Long, val up: Frame, val path: Long, val depth: Int,
                      val inc: Long) {
      var childIncSum: Long = 0L
    }
    val enrichInfo = GroupPass(slim2, locNames, order, enrichSchema) { groups =>
      groups.flatMap { case (_, rows) =>
        val stack = new ArrayBuffer[Frame]()
        rows.flatMap { r =>
          val et = r.getUTF8String(nLoc + 2)
          if (r.isNullAt(nLoc + 4)) Nil // unmatched rows pass through
          else if (et == EnterU8) {
            val up = if (stack.isEmpty) null else stack.last
            val inc = r.getLong(nLoc + 4) - r.getLong(nLoc + 1)
            if (up != null) up.childIncSum += inc
            stack += new Frame(r.getLong(nLoc), up, mix(if (up == null) RootHash else up.path,
              fnv1a64(r.getString(nLoc + 3))), stack.length, inc)
            Nil
          } else if (et == LeaveU8 && stack.nonEmpty) {
            // matched stream is balanced: pop unconditionally
            val f = stack.remove(stack.length - 1)
            Seq(InternalRow(f.id, f.depth, if (f.up == null) null else f.up.id, f.path,
              if (f.up == null) null else f.up.path, f.inc, f.inc - f.childIncSum))
          } else Nil
        }
      }
    }

    withMatch.join(enrichInfo, Seq(EventId), "left")
      .select((schema.fieldNames ++ enrichmentColumns.map(_.name)).map(col).toIndexedSeq: _*)
  }

  /** The columns that name an execution location: process[, thread]. */
  private def locationCols(events: DataFrame): Seq[String] =
    if (events.columns.contains(Thread)) Seq(Process, Thread) else Seq(Process)

  private val EnterU8 = UTF8String.fromString(Enter)
  private val LeaveU8 = UTF8String.fromString(Leave)
}
