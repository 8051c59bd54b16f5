package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftbridge.GroupPass
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed-state operator behind every stateful streaming twin:
  * [[keyed]] runs a group function `fn(key, rows, state)` per key, on a
  * streaming input as `flatMapGroupsWithState` and on a batch input as
  * one closed micro-batch with empty initial state (guide §4 — the
  * EventMatcher pattern).
  *
  * In BATCH mode `Dataset.groupByKey(f).flatMapGroupsWithState(...)`
  * deserializes every input row TWICE (once in `AppendColumns` to
  * evaluate the key lambda, once in the grouped iterator handed to the
  * state function) and exchanges serialized case-class objects — none
  * of which the operator's logic needs. The batch branch of [[keyed]]
  * runs the SAME group function over the SAME per-key row multiset with
  * the same empty-initial-state/no-timeout semantics, but stays in
  * Tungsten format up to the group function: one
  * [[org.apache.spark.sql.graftbridge.GroupPass]] keyed on the key
  * columns, whose exchange and sort Catalyst plans (and drops where the
  * input already satisfies them; the group functions impose their own
  * internal event order, exactly as they must under `groupByKey`, whose
  * grouped iterator is unordered), decodes each row ONCE and encodes
  * each emitted record ONCE. Both branches decode
  * and encode through the same `ExpressionEncoder`s, so field order and
  * null handling cannot drift between them: a null in a primitive field
  * throws in both. */
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

  /** `fn` once per distinct key of `in`, in append mode.
    *
    * `in`: the operator's projected input, whose columns name the fields
    * of `I`; its key columns are `keyCols` and `key` reads the same key
    * from a decoded record. `idleTimeout` set selects
    * `ProcessingTimeTimeout` on a streaming input (the group function
    * arms it), unset `NoTimeout`; a batch input fires no timeouts. The
    * result has the columns of `O`. A null key cell of a batch input
    * throws `IllegalArgumentException` naming its column (a primitive
    * key would otherwise fail decoding without the column's name, and a
    * nullable one would form a null-key group). */
  def keyed[K: TypeTag, I <: Product : TypeTag, S <: Product : TypeTag,
            O <: Product : TypeTag](
      in: DataFrame, keyCols: Seq[String], key: I => K,
      idleTimeout: Option[String])(
      fn: (K, Iterator[I], GroupState[S]) => Iterator[O]): DataFrame = {
    val inEnc = ExpressionEncoder[I]()
    val outEnc = ExpressionEncoder[O]()
    if (in.isStreaming)
      in.as(inEnc).groupByKey(key)(ExpressionEncoder[K]())
        .flatMapGroupsWithState(OutputMode.Append(),
          if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
          else GroupStateTimeout.NoTimeout())(fn)(ExpressionEncoder[S](), outEnc)
        .toDF()
    else replay(in, keyCols, key, inEnc, outEnc, fn)
  }

  private def replay[K, I, S, O](in: DataFrame, keyCols: Seq[String],
      key: I => K, inEnc: ExpressionEncoder[I], outEnc: ExpressionEncoder[O],
      fn: (K, Iterator[I], GroupState[S]) => Iterator[O]): DataFrame = {
    val bound = inEnc.resolveAndBind(DataTypeUtils.toAttributes(in.schema))
    GroupPass(in, keyCols, Nil, outEnc.schema) { groups =>
      val decode = bound.createDeserializer()
      val encode = outEnc.createSerializer()
      groups.flatMap { case (k, rows) =>
        keyCols.indices.foreach { i =>
          if (k.isNullAt(i))
            throw new IllegalArgumentException(s"null key in column '${keyCols(i)}'")
        }
        val first = decode(rows.next())
        // the serializer reuses one row; the exec copies each row out
        fn(key(first), Iterator.single(first) ++ rows.map(decode),
          new ReplayState[S]).map(encode)
      }
    }
  }
}
