package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** InternalRow batch replay for the keyed `flatMapGroupsWithState`
  * streaming operators (r12, guide §4 — the EventMatcher pattern).
  *
  * In BATCH mode `Dataset.groupByKey(f).flatMapGroupsWithState(...)`
  * deserializes every input row TWICE (once in `AppendColumns` to
  * evaluate the key lambda, once in the grouped iterator handed to the
  * state function), exchanges serialized case-class objects, and
  * re-serializes every output through the product encoder — none of
  * which the operator's logic needs. [[replay]] runs the SAME group
  * function over the SAME per-key row multiset with the same
  * empty-initial-state/no-timeout semantics as a single closed
  * micro-batch, but stays in Tungsten format end-to-end: a columnar
  * hash exchange on the key columns, a columnar sort within partitions
  * (so each key's rows are consecutive — the group functions impose
  * their own internal event order, exactly as they must under
  * `groupByKey`, whose grouped iterator is unordered), then one
  * InternalRow pass that decodes each row ONCE into the operator's
  * input record and encodes each emitted record ONCE.
  *
  * The streaming path is untouched — the typed stateful boundary IS the
  * streaming operator; this replaces only the batch replay plumbing
  * around the identical group function (parity pinned by the
  * batch-vs-MemoryStream specs). */
private[streaming] object BatchReplay {

  /** Minimal [[GroupState]] for a single closed batch: starts empty and
    * never times out. Timeout setters are accepted and ignored, as in
    * Spark's batch execution of `flatMapGroupsWithState`, which fires no
    * timeouts: a group function that sets an idle timeout runs here
    * exactly as it does in a batch query. `update(null)` throws
    * `IllegalArgumentException`, as Spark's `GroupStateImpl` does; use
    * `remove()` to clear the state. */
  final class ReplayState[S] extends GroupState[S] {
    private var v: Option[S] = None
    override def exists: Boolean = v.isDefined
    override def get: S = v.get
    override def getOption: Option[S] = v
    override def update(s: S): Unit = {
      if (s == null)
        throw new IllegalArgumentException("'null' is not a valid state value")
      v = Some(s)
    }
    override def remove(): Unit = { v = None }
    override def hasTimedOut: Boolean = false
    override def setTimeoutDuration(durationMs: Long): Unit = ()
    override def setTimeoutDuration(duration: String): Unit = ()
    override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
    override def setTimeoutTimestamp(timestampMs: Long,
                                     additionalDuration: String): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date,
                                     additionalDuration: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = -1L
    override def getCurrentProcessingTimeMs(): Long = 0L
  }

  /** Null-safe string read (matches the product encoder: a null cell
    * becomes a null String field). */
  @inline def str(r: InternalRow, i: Int): String = {
    val u = r.getUTF8String(i)
    if (u == null) null else u.toString
  }

  /** Null-safe string write. */
  @inline def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** Run `run(key, rows)` once per distinct key of `in`, like one closed
    * micro-batch of `groupByKey(key).flatMapGroupsWithState(fn)` with
    * empty initial state.
    *
    * `in`: the operator's already-projected batch input (the same select
    * the typed path feeds to `.as[I]`); its key columns are `keyCols`.
    * `decode` materializes one input record from an InternalRow — it
    * must copy values out (primitives / `str`), never retain the row
    * (rows are reused per partition by the scan). `run` returns freshly
    * allocated InternalRows matching `outSchema` (use
    * `Encoders.product[O].schema` so names/types equal the typed
    * `.toDF()`). A null key cell throws `IllegalArgumentException`
    * naming its column, where the typed path fails decoding it — `key`
    * would otherwise read it as 0 and merge the row into key 0's group. */
  def replay[K, I](in: DataFrame, keyCols: Seq[String],
                   key: InternalRow => K,
                   decode: InternalRow => I,
                   outSchema: StructType,
                   run: (K, Iterator[I]) => Iterator[InternalRow]): DataFrame = {
    val spark = in.sparkSession
    val keyed = in.repartition(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
    val keyIdx = keyCols.map(c => (in.schema.fieldIndex(c), c))
    val rdd = RddBridge.toInternalRdd(keyed).mapPartitions { it =>
      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var pendingKey: K = _
        private var pendingVal: I = _
        private var pending = false
        private def load(r: InternalRow): Unit = {
          keyIdx.foreach { case (i, c) =>
            if (r.isNullAt(i))
              throw new IllegalArgumentException(s"null key in column '$c'")
          }
          pendingKey = key(r); pendingVal = decode(r); pending = true
        }
        private def advance(): Unit = {
          while (!out.hasNext && (pending || it.hasNext)) {
            if (!pending) load(it.next())
            val k = pendingKey
            val buf = new ArrayBuffer[I]
            buf += pendingVal
            pending = false
            var same = true
            while (same && it.hasNext) {
              load(it.next())
              if (pendingKey == k) { buf += pendingVal; pending = false }
              else same = false
            }
            out = run(k, buf.iterator)
          }
        }
        override def hasNext: Boolean = { advance(); out.hasNext }
        override def next(): InternalRow = { advance(); out.next() }
      }
    }
    RddBridge.fromInternalRdd(spark, rdd, outSchema)
  }
}
