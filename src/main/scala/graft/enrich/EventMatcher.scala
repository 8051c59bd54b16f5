package graft.enrich

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Spark shape: one `repartition(process[,thread])` +
  * `sortWithinPartitions(location, timestamp_ns, event_id)` shuffle, then a
  * single `mapPartitions` pass with group-change detection. Parallelism =
  * number of execution locations; memory = O(events of one location) per
  * task (the reference buffers the *whole* trace on one node; we buffer one
  * location per task — at cluster scale partition counts equal location
  * counts, which for HPC traces is the natural sharding). An input that
  * declares that clustering at `spark.sql.shuffle.partitions` and that
  * ordering to Catalyst ([[graft.ingest.Otf2Reader]]'s output does, also
  * once persisted) shuffles nothing: `EnsureRequirements` drops the
  * repartition and `RemoveRedundantSorts` the sort, in both this pass and
  * [[enrichBounded]]'s two. Declared at another partition count, the
  * exchange stays.
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
    val hasThread = events.columns.contains(Thread)
    val outSchema = StructType(schema.fields ++ enrichmentColumns)

    val idIdx = schema.fieldIndex(EventId)
    val tsIdx = schema.fieldIndex(TimestampNs)
    val typeIdx = schema.fieldIndex(EventType)
    val nameIdx = schema.fieldIndex(Name)
    val procIdx = schema.fieldIndex(Process)
    val thrIdx = if (hasThread) schema.fieldIndex(Thread) else -1

    val locCols = if (hasThread) Seq(col(Process), col(Thread)) else Seq(col(Process))
    val sorted = events
      .repartition(locCols: _*)
      .sortWithinPartitions(locCols ++ Seq(col(TimestampNs), col(EventId)): _*)

    // The pass runs over InternalRow (r11, guide §4.1): the former
    // Dataset.mapPartitions(...)(Encoders.row) shape paid the RowEncoder
    // round trip — every input deserialized to an external Row, every
    // output re-serialized — which dominated the matcher's cost (the
    // matching itself is integer array walks). Input rows are copied
    // when buffered (toRdd reuses the row per iterator step); each
    // output is a fresh JoinedRow(input, enrichment) so no reuse hazard.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val spark = events.sparkSession
    val enterU8 = org.apache.spark.unsafe.types.UTF8String.fromString(Enter)
    val leaveU8 = org.apache.spark.unsafe.types.UTF8String.fromString(Leave)

    val outRdd = org.apache.spark.sql.graftbridge.RddBridge
      .toInternalRdd(sorted).mapPartitions { iter =>
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var pending: InternalRow = null

        private def locKey(r: InternalRow): (Int, Int) = {
          val p = r.getInt(procIdx)
          val t = if (thrIdx >= 0 && !r.isNullAt(thrIdx)) r.getInt(thrIdx) else -1
          (p, t)
        }

        private def processGroup(rows: ArrayBuffer[InternalRow]): Iterator[InternalRow] = {
          val n = rows.length
          val matchId = new Array[Long](n)
          val matchTs = new Array[Long](n)
          val matched = new Array[Boolean](n)
          val depthArr = new Array[Int](n)
          val parentArr = new Array[Long](n)
          val hasParent = new Array[Boolean](n)
          val hasDepth = new Array[Boolean](n)
          val pathArr = new Array[Long](n)
          val parentPathArr = new Array[Long](n)
          val hasParentPath = new Array[Boolean](n)

          // pass 1: matching (trace.py:106-191)
          val stack = new ArrayBuffer[Int]()
          var i = 0
          while (i < n) {
            val r = rows(i)
            val et = r.getUTF8String(typeIdx)
            if (et == enterU8) {
              stack += i
            } else if (et == leaveU8) {
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

          // pass 2: depth/parent/path + time metrics over matched rows
          // (trace.py:193-292; inc/exc per trace.py:318-325,357-363)
          stack.clear()
          val pathStack = new ArrayBuffer[Long]()
          val childIncSum = new Array[Long](n) // Σ direct children's inc per enter
          i = 0
          while (i < n) {
            if (matched(i)) {
              val et = rows(i).getUTF8String(typeIdx)
              if (et == enterU8) {
                depthArr(i) = stack.length
                hasDepth(i) = true
                val inc = matchTs(i) - rows(i).getLong(tsIdx)
                if (stack.nonEmpty) {
                  val p = stack.last
                  parentArr(i) = rows(p).getLong(idIdx)
                  hasParent(i) = true
                  childIncSum(p) += inc
                }
                val parentHash = if (pathStack.isEmpty) RootHash else pathStack.last
                if (pathStack.nonEmpty) { parentPathArr(i) = parentHash; hasParentPath(i) = true }
                pathArr(i) = mix(parentHash,
                  fnv1a64(rows(i).getUTF8String(nameIdx).toString))
                stack += i
                pathStack += pathArr(i)
              } else { // Leave pops unconditionally (matched stream is balanced)
                if (stack.nonEmpty) { stack.remove(stack.length - 1); pathStack.remove(pathStack.length - 1) }
              }
            }
            i += 1
          }

          rows.iterator.zipWithIndex.map { case (r, k) =>
            val vals = new Array[Any](enrichmentColumns.length)
            if (matched(k)) {
              vals(0) = matchId(k)
              vals(1) = matchTs(k)
              val isEnter = r.getUTF8String(typeIdx) == enterU8
              vals(2) = if (hasDepth(k)) Int.box(depthArr(k)) else null
              vals(3) = if (hasParent(k)) Long.box(parentArr(k)) else null
              vals(4) = if (isEnter) Long.box(pathArr(k)) else null
              vals(5) = if (isEnter && hasParentPath(k)) Long.box(parentPathArr(k)) else null
              if (isEnter) {
                val inc = matchTs(k) - r.getLong(tsIdx)
                vals(6) = Long.box(inc)
                vals(7) = Long.box(inc - childIncSum(k))
              }
            }
            new JoinedRow(r, new GenericInternalRow(vals)): InternalRow
          }
        }

        private def advance(): Unit = {
          if (out.hasNext) return
          if (pending == null && !iter.hasNext) return
          val buf = new ArrayBuffer[InternalRow]()
          if (pending != null) { buf += pending; pending = null }
          var key = if (buf.nonEmpty) locKey(buf(0)) else null
          var done = false
          while (!done && iter.hasNext) {
            val r = iter.next().copy() // toRdd reuses the row object
            if (key == null) { key = locKey(r); buf += r }
            else if (locKey(r) == key) buf += r
            else { pending = r; done = true }
          }
          if (buf.nonEmpty) out = processGroup(buf)
        }

        override def hasNext: Boolean = { advance(); out.hasNext }
        override def next(): InternalRow = { advance(); out.next() }
      }
    }
    org.apache.spark.sql.graftbridge.RddBridge
      .fromInternalRdd(spark, outRdd, outSchema)
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
    val hasThread = events.columns.contains(Thread)
    val locCols = if (hasThread) Seq(col(Process), col(Thread)) else Seq(col(Process))
    val sortCols = locCols ++ Seq(col(TimestampNs), col(EventId))

    // ---- pass 1: matching with O(stack) state -------------------------
    val slim = events.select(locCols ++ Seq(col(EventId), col(TimestampNs),
      col(EventType), col(Name)): _*)
    val nLoc = locCols.length
    val matchSchema = StructType(Seq(
      StructField(EventId, LongType, nullable = false),
      StructField(MatchingEventId, LongType, nullable = false),
      StructField(MatchingTs, LongType, nullable = false)))
    val matchInfo = slim.repartition(locCols: _*).sortWithinPartitions(sortCols: _*)
      .mapPartitions { iter =>
        var curKey: Seq[Any] = null
        val stack = new ArrayBuffer[(String, Long, Long)]() // (name, id, ts)
        iter.flatMap { r =>
          val key = (0 until nLoc).map(r.get)
          if (key != curKey) { curKey = key; stack.clear() }
          val id = r.getLong(nLoc)
          val ts = r.getLong(nLoc + 1)
          r.getString(nLoc + 2) match {
            case Enter =>
              stack += ((r.getString(nLoc + 3), id, ts)); Nil
            case Leave =>
              val nm = r.getString(nLoc + 3)
              var j = stack.length - 1
              while (j >= 0 && stack(j)._1 != nm) j -= 1
              if (j < 0) Nil
              else {
                val (_, eid, ets) = stack.remove(j)
                Seq(Row(eid, id, ts), Row(id, eid, ets))
              }
            case _ => Nil
          }
        }
      }(Encoders.row(matchSchema))

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
    final class Frame(val id: Long, val parent: Any, val path: Long,
                      val parentPath: Any, val depth: Int, val inc: Long) {
      var childIncSum: Long = 0L
    }
    val enrichInfo = slim2.repartition(locCols: _*).sortWithinPartitions(sortCols: _*)
      .mapPartitions { iter =>
        var curKey: Seq[Any] = null
        val stack = new ArrayBuffer[Frame]()
        iter.flatMap { r =>
          val key = (0 until nLoc).map(r.get)
          if (key != curKey) { curKey = key; stack.clear() }
          if (r.isNullAt(nLoc + 4)) Nil // unmatched rows pass through
          else r.getString(nLoc + 2) match {
            case Enter =>
              val id = r.getLong(nLoc)
              val inc = r.getLong(nLoc + 4) - r.getLong(nLoc + 1)
              val parentHash = if (stack.isEmpty) RootHash else stack.last.path
              val f = new Frame(id,
                if (stack.isEmpty) null else Long.box(stack.last.id),
                mix(parentHash, fnv1a64(r.getString(nLoc + 3))),
                if (stack.isEmpty) null else Long.box(parentHash),
                stack.length, inc)
              if (stack.nonEmpty) stack.last.childIncSum += inc
              stack += f
              Nil
            case Leave => // matched stream is balanced: pop unconditionally
              if (stack.isEmpty) Nil
              else {
                val f = stack.remove(stack.length - 1)
                Seq(Row(f.id, f.depth, f.parent, f.path, f.parentPath,
                  f.inc, f.inc - f.childIncSum))
              }
            case _ => Nil
          }
        }
      }(Encoders.row(enrichSchema))

    withMatch.join(enrichInfo, Seq(EventId), "left")
      .select((schema.fieldNames ++ enrichmentColumns.map(_.name)).map(col).toIndexedSeq: _*)
  }
}
