package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.enrich.Metrics
import graft.ingest.Ingest
import graft.model.Schemas._
import graft.model.Trace

/** A benchmark workload: inputs built in `setup`, then repetitions of the
  * same fixed round of operations. `rep` is the timed part; it keeps the
  * answers it computed, and `check` compares them with the ground truth
  * outside the timed region. */
trait Workload {
  /** Operation names of one round, in order. */
  def ops: Seq[String]
  /** Untimed warm-up repetitions before the first timed one, as many as
    * a run has time for (perfbench/README.md gives the warm-up curves). */
  def warmups: Int
  /** A fixed round length (seconds) that turns `--seconds` into a count of
    * timed repetitions. It is a constant, not a measurement, so the count
    * is the same on every commit. */
  def nominalRoundS: Double
  def timedReps(seconds: Double): Int =
    math.max(3, math.round(seconds / nominalRoundS).toInt)
  def setup(tr: Option[Tracer]): Unit
  /** One round. With a tracer, each layer call gets its own span. */
  def rep(tr: Option[Tracer]): Unit
  /** Operations of the last round whose answer is wrong or missing.
    * Checks that need Spark jobs of their own run on the `last` round of
    * a run only; the collected answers are checked every round. */
  def check(last: Boolean): Seq[String]
  /** Releases what the last round persisted. */
  def release(): Unit = ()
  /** Size of the persisted enriched trace, measured when enrichment is
    * traced. */
  var enrichPersistMb = 0.0
}

object Workload {
  def span[A](tr: Option[Tracer], name: String)(body: => A): A =
    tr.fold(body)(_.span(name)(body))

  /** Runs one operation, recording it as missing when it throws. */
  def attempt[A](failed: ArrayBuffer[String], op: String)(body: => A): Option[A] =
    try Some(body)
    catch { case e: Exception =>
      System.err.println(s"[perfbench] $op failed: $e")
      e.printStackTrace()
      failed += op; None
    }

  /** Persists and materializes `df`, recording the bytes it added to
    * storage when `size` is given. */
  def persisted(df: DataFrame, size: Option[Double => Unit] = None): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = Meter.cachedBytes(sc)
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    size.foreach(_(Meter.mb(Meter.cachedBytes(sc) - before)))
    p
  }

  /** The canonical events schema without `thread`, plus the two
    * message attribute columns. */
  val traceSchema: StructType = StructType(
    eventsSchema.fields.filterNot(_.name == Thread) ++ Seq(
      StructField(AttrReceiver, IntegerType, nullable = true),
      StructField(AttrMsgLength, LongType, nullable = true)))

  /** The canonical events table of a synthetic trace, ids in timestamp
    * order. Receives carry their sender in the attribute map, which is
    * where the OTF2 writer reads it from. */
  def eventsDf(spark: SparkSession, t: SynthTrace): DataFrame = {
    val rows = t.events.zipWithIndex.map { case (e, i) =>
      Row(i.toLong, e.ts, e.eventType, e.name, e.proc,
        if (e.sender >= 0) Map("sender" -> e.sender.toString) else null,
        if (e.receiver >= 0) e.receiver else null,
        if (e.msgLength >= 0) e.msgLength else null)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, traceSchema)
  }

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1.0 + 1e-9 * math.abs(b)

  /** Checks an enriched events table against the generator: event count,
    * dense 0..n-1 ids in timestamp order, every Enter matched, per-name
    * call counts and inclusive/exclusive sums, per-(sender, receiver)
    * bytes and message counts. Returns the failed properties. */
  def checkEnriched(ev: DataFrame, t: SynthTrace): Seq[String] = {
    val bad = ArrayBuffer[String]()
    val a = ev.agg(count(lit(1)), min(col(EventId)), max(col(EventId)),
      sum((col(EventId) + 1) * (col(TimestampNs) % Synth.ChecksumPrime)),
      sum(when(col(EventType) === Enter && col(MatchingEventId).isNull, 1L)
        .otherwise(0L))).head
    val n = t.events.size.toLong
    if (a.getLong(0) != n) bad += s"event count ${a.getLong(0)} != $n"
    if (a.getLong(1) != 0L || a.getLong(2) != n - 1) bad += "ids not 0..n-1"
    if (a.getLong(3) != t.orderChecksum) bad += "ids not in timestamp order"
    if (a.getLong(4) != 0L) bad += s"${a.getLong(4)} unmatched Enter rows"
    val byName = ev.filter(col(EventType) === Enter).groupBy(col(Name))
      .agg(count(lit(1)), sum(col(TimeInc)), sum(col(TimeExc))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    if (byName != t.byName) bad += "per-name calls/inclusive/exclusive differ"
    val comm = ev.filter(col(Name) === "MpiSend")
      .groupBy(col(Process), col(AttrReceiver))
      .agg(sum(col(AttrMsgLength)), count(lit(1))).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    if (comm != t.commMatrix) bad += "per-pair bytes/messages differ"
    bad.toSeq
  }

  def flatProfileOk(rows: Array[Row], t: SynthTrace): Boolean =
    rows.map(r => r.getString(0) -> r.getDouble(1)).toMap == t.flatProfile

  def commMatrixOk(rows: Array[Row], t: SynthTrace): Boolean =
    rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap ==
      t.commMatrix.map { case (k, (bytes, _)) => k -> bytes }

  /** Time-profile property: each function's time summed over the bins is
    * its total exclusive time, and each bin (idle included) sums to
    * bin width × processes. Float edges: within 1 ns + 1e-9 relative. */
  def timeProfileOk(rows: Array[Row], t: SynthTrace): Boolean = {
    val perName = rows.filter(_.getString(3) != "idle_time")
      .groupBy(_.getString(3)).map { case (n, rs) => n -> rs.map(_.getDouble(4)).sum }
    val names = perName.keySet == t.byName.keySet &&
      perName.forall { case (n, v) => near(v, t.byName(n)._3.toDouble) }
    val bins = rows.groupBy(_.get(0)).values.forall { rs =>
      near(rs.map(_.getDouble(4)).sum,
        (rs.head.getDouble(2) - rs.head.getDouble(1)) * t.nProcs)
    }
    names && bins
  }
}

/** `otf2_load`: the files → answer path. The archive is written once in
  * set-up; every repetition reads it, enriches, persists, and answers a
  * flat profile and a communication matrix. */
final class Otf2Load(spark: SparkSession, seed: Long, workDir: String) extends Workload {
  import Workload._
  val ops = Seq("load", "flat_profile", "comm_matrix")
  val warmups = 5
  val nominalRoundS = 1.25
  private val archive = s"$workDir/otf2"
  private var synth: SynthTrace = _
  private var events: DataFrame = _
  private var decoded: DataFrame = _
  private var fp: Array[Row] = _
  private var cm: Array[Row] = _
  private val failed = ArrayBuffer[String]()

  def setup(tr: Option[Tracer]): Unit = {
    synth = Synth.manyRanks(seed, nProcs = 32, iters = 100)
    Otf2Files.write(archive, synth)
  }

  def rep(tr: Option[Tracer]): Unit = {
    failed.clear(); fp = null; cm = null
    attempt(failed, "load") {
      events = tr match {
        case None => persisted(Trace.fromOtf2(spark, archive).enriched.events)
        case Some(_) =>
          // the traced form materializes each layer on its own
          decoded = span(tr, "ingest.otf2_read")(
            persisted(Trace.fromOtf2(spark, archive).events))
          span(tr, "ingest.dense_ids") {
            Ingest.assignDenseIds(decoded.drop(EventId), EventId,
              col(TimestampNs), col(Process)).count()
          }
          span(tr, "enrich.match")(persisted(
            Metrics.calcExcMetrics(decoded, Seq(TimestampNs)),
            Some(enrichPersistMb = _)))
      }
    }
    if (events != null) {
      val t = Trace(events)
      fp = attempt(failed, "flat_profile") {
        span(tr, "analysis.flat_profile")(t.flatProfile().collect())
      }.orNull
      cm = attempt(failed, "comm_matrix") {
        span(tr, "analysis.comm_matrix")(t.commMatrix().collect())
      }.orNull
    }
  }

  def check(last: Boolean): Seq[String] = {
    val bad = ArrayBuffer[String]() ++ failed
    if (events == null) bad ++= ops // nothing to answer from
    else if (last) checkEnriched(events, synth).foreach { why =>
      System.err.println(s"[perfbench] load: $why"); bad += "load"
    }
    if (fp != null && !flatProfileOk(fp, synth)) bad += "flat_profile"
    if (cm != null && !commMatrixOk(cm, synth)) bad += "comm_matrix"
    bad.distinct.toSeq
  }

  override def release(): Unit = {
    Seq(events, decoded).foreach(d => if (d != null) d.unpersist(true))
    events = null; decoded = null
  }
}

/** `trace_ops`: the pipit analyses on a loaded, enriched, persisted trace.
  * Enrichment is paid once, in set-up. */
final class TraceOps(spark: SparkSession, seed: Long) extends Workload {
  import Workload._
  val ops = Seq("flat_profile", "load_imbalance", "comm_matrix",
    "message_histogram", "time_profile", "callers_profile", "cct_rollup",
    "detect_pattern")
  val warmups = 3
  val nominalRoundS = 2.0
  private var synth: SynthTrace = _
  private var events: DataFrame = _
  private val out = scala.collection.mutable.Map[String, Any]()
  private val failed = ArrayBuffer[String]()

  def setup(tr: Option[Tracer]): Unit = {
    synth = Synth.deepFew(seed, nProcs = 4, fibDepth = 4, phases = 80, iters = 12)
    events = span(tr, "enrich.match")(
      persisted(Trace(eventsDf(spark, synth)).enriched.events, Some(enrichPersistMb = _)))
  }

  def rep(tr: Option[Tracer]): Unit = {
    failed.clear(); out.clear()
    val t = Trace(events)
    def run(op: String, layer: String)(body: => Any): Unit =
      attempt(failed, op)(span(tr, layer)(body)).foreach(out(op) = _)
    run("flat_profile", "analysis.flat_profile")(t.flatProfile().collect())
    run("load_imbalance", "analysis.load_imbalance")(t.loadImbalance().collect())
    run("comm_matrix", "analysis.comm_matrix")(t.commMatrix().collect())
    run("message_histogram", "analysis.message_histogram")(t.messageHistogram(20).collect())
    run("time_profile", "analysis.time_profile")(t.timeProfile(50).collect())
    run("callers_profile", "analysis.callers_profile")(t.callersProfile().collect())
    run("cct_rollup", "cct.rollup")(t.cctRollup().collect())
    run("detect_pattern", "analysis.detect_pattern") {
      // the occurrences, materialized in one job
      val occ = t.detectPattern(synth.loopName)
      occ.size -> occ.reduce(_ union _).count()
    }
  }

  def check(last: Boolean): Seq[String] = {
    val t = synth
    def rows(op: String) = out(op).asInstanceOf[Array[Row]]
    val good: Map[String, () => Boolean] = Map(
      "flat_profile" -> (() => flatProfileOk(rows("flat_profile"), t)),
      "load_imbalance" -> (() => rows("load_imbalance").map { r =>
        r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getSeq[Int](3).head))
      }.toMap == t.loadImbalance),
      "comm_matrix" -> (() => commMatrixOk(rows("comm_matrix"), t)),
      "message_histogram" -> (() =>
        rows("message_histogram").sortBy(_.getInt(0)).map(_.getLong(3)).toSeq ==
          t.messageHistogram(20)),
      "time_profile" -> (() => timeProfileOk(rows("time_profile"), t)),
      "callers_profile" -> (() => rows("callers_profile").map { r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))
      }.toMap == t.callers),
      "cct_rollup" -> (() => rows("cct_rollup").map { r =>
        r.getString(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5)))
      }.toMap == t.cctRollup),
      "detect_pattern" -> (() =>
        out("detect_pattern").asInstanceOf[(Int, Long)]._1 == t.loopIters))
    val wrong = ops.filter(op => out.contains(op) && !good(op)())
    (failed ++ wrong).distinct.toSeq
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
