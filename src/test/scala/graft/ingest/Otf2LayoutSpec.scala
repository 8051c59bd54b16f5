package graft.ingest

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{GroupPassExec, RddBridge}

import graft.SparkSpec
import graft.enrich.EventMatcher
import graft.model.Schemas._
import graft.model.Trace

/** The OTF2 reader's layout: rows stay in the task that decoded their
  * location, in the partition `repartition(process, thread)` hashes it
  * to, sorted by (process, thread, timestamp_ns, event_id) — declared to
  * Catalyst, so the matcher's exchange and sort plan away — with the
  * dense ids of the global (timestamp, location, seq) order. Also: a
  * truncated event file fails naming the file and the record. */
class Otf2LayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val ranks = 7 // more ranks than the session's 4 shuffle partitions

  /** Per rank: main { 5 × work { MpiSend, inner (zero length) } }, with
    * timestamps that tie across ranks and within a rank. */
  private def trace: DataFrame = {
    val rows = ArrayBuffer[(Long, Long, String, String, Int, Integer, java.lang.Long)]()
    def add(ts: Long, et: String, nm: String, p: Int,
            recv: Integer = null, len: java.lang.Long = null): Unit =
      rows += ((rows.size.toLong, ts, et, nm, p, recv, len))
    for (p <- 0 until ranks) {
      add(10, Enter, "main", p)
      for (i <- 0 until 5) {
        val t = 100L * (i + 1) + p % 3
        add(t, Enter, "work", p)
        add(t + 5, Instant, "MpiSend", p, Int.box((p + 1) % ranks), Long.box(64L * (i + 1)))
        add(t + 7, Enter, "inner", p)
        add(t + 7, Leave, "inner", p)
        add(t + 9, Leave, "work", p)
      }
      add(1000 + p, Leave, "main", p)
    }
    rows.toSeq.toDF(EventId, TimestampNs, EventType, Name, Process,
      AttrReceiver, AttrMsgLength)
      .withColumn(Attributes, typedLit(Map.empty[String, String]))
  }

  private lazy val archive: String = {
    val d = Files.createTempDirectory("otf2-layout").toString
    Trace(trace).toOtf2(d)
    d
  }

  /** Record start offsets of an event file (short-form records only). */
  private def recordStarts(b: Array[Byte]): Seq[Int] = {
    val out = ArrayBuffer[Int]()
    var i = 18
    while (i < b.length) {
      out += i
      if (b(i) == 0x05) i += 9
      else { assert((b(i + 1) & 0xff) != 0xff); i += 2 + (b(i + 1) & 0xff) }
    }
    out.toSeq
  }

  private def copyOfArchive(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    Files.createDirectories(Paths.get(s"$d/traces"))
    Files.list(Paths.get(archive)).filter(Files.isRegularFile(_)).forEach(f =>
      Files.copy(f, Paths.get(d).resolve(f.getFileName)))
    Files.list(Paths.get(s"$archive/traces")).forEach(f =>
      Files.copy(f, Paths.get(s"$d/traces").resolve(f.getFileName)))
    d
  }

  /** A copy of `archive` whose rank-1 event file holds its (timestamp,
    * event) record pairs in reverse order: timestamps step back. */
  private lazy val shuffledArchive: String = {
    val d = copyOfArchive("otf2-layout-ooo")
    val f = Paths.get(s"$d/traces/1.evt")
    val b = Files.readAllBytes(f)
    val starts = recordStarts(b) :+ b.length
    val pairs = starts.sliding(2).map { case Seq(s, e) => b.slice(s, e) }
      .toSeq.grouped(2).map(_.flatten.toArray).toSeq
    assert(pairs.forall(_.head == 0x05))
    Files.write(f, b.take(18) ++ pairs.reverse.flatten)
    d
  }

  private def n: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def checkLayout(dir: String): Unit = {
    val rows = Otf2Reader.read(spark, dir)
      .select(spark_partition_id(), pmod(hash(col(Process), col(Thread)), lit(n)),
        col(Process), col(Thread), col(TimestampNs), col(EventId))
      .as[(Int, Int, Int, Int, Long, Long)].collect()
    assert(rows.length == ranks * 27)
    assert(rows.forall(r => r._1 == r._2), "a row sits outside its hash partition")
    assert(rows.map(_._1).distinct.length > 1)
    val keys = rows.map(r => (r._1, r._3, r._4, r._5, r._6))
    assert(keys.sorted.toSeq == keys.toSeq,
      "partitions not sorted by (process, thread, timestamp_ns, event_id)")
  }

  test("each row sits in its pmod(hash(process, thread), n) partition, sorted") {
    checkLayout(archive)
    checkLayout(shuffledArchive)
  }

  private def plannedNodes(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: ShuffleExchangeExec => e }.size,
      collect(plan) { case s: SortExec => s }.size)
  }

  private def matcherShape(ev: DataFrame): DataFrame = ev
    .repartition(col(Process), col(Thread))
    .sortWithinPartitions(col(Process), col(Thread), col(TimestampNs), col(EventId))

  test("the matcher's repartition and sort plan away, also through persist") {
    val ev = Otf2Reader.read(spark, archive)
    assert(plannedNodes(matcherShape(ev)) == ((0, 0)))
    val cached = ev.persist()
    try assert(plannedNodes(matcherShape(cached)) == ((0, 0)))
    finally cached.unpersist()
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(col(EventId)).collect().toSeq

  /** (exchanges, sorts) below each instance of the bounded matcher's
    * first pass over `ev`, the pass that reads the input as it is. */
  private def belowMatchPass(ev: DataFrame): Set[(Int, Int)] = {
    val enriched = boundedMatcher(EventMatcher.enrich(ev))
    enriched.collect()
    collect(enriched.queryExecution.executedPlan) {
      case g: GroupPassExec if g.output.exists(_.name == MatchingTs) =>
        (collect(g.child) { case e: ShuffleExchangeExec => e }.size,
          collect(g.child) { case s: SortExec => s }.size)
    }.toSet
  }

  test("after spark.sql.shuffle.partitions changes the exchange is back, same rows") {
    val ev = Otf2Reader.read(spark, archive)
    val want = sortedRows(EventMatcher.enrich(ev))
    val before = n
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      assert(plannedNodes(matcherShape(ev))._1 == 1)
      assert(sortedRows(EventMatcher.enrich(ev)) == want)
      assert(sortedRows(EventMatcher.enrich(Otf2Reader.read(spark, archive))) == want)
      // the matcher requires clustering by location, not a partition
      // count: the 4-partition layout needs no exchange or sort at 3, and
      // an input clustered on the process alone only its own exchange
      assert(belowMatchPass(ev) == Set((0, 0)))
      assert(belowMatchPass(ev.repartition(col(Process))) == Set((1, 1)))
      assert(sortedRows(boundedMatcher(EventMatcher.enrich(ev.repartition(col(Process))))) == want)
      // the buffered pass runs as its own query when built: a job per
      // exchange it plans, none over the layout
      assert(jobsOf(EventMatcher.enrich(ev)) == 0)
      assert(jobsOf(EventMatcher.enrich(ev.repartition(col(Process)))) == 1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before.toString)
  }

  test("enrich(read) equals enrich(read.repartition(7)) row for row") {
    for (dir <- Seq(archive, shuffledArchive)) {
      val ev = Otf2Reader.read(spark, dir)
      val got = sortedRows(EventMatcher.enrich(ev))
      assert(got.length == ranks * 27)
      assert(got == sortedRows(EventMatcher.enrich(ev.repartition(7))))
      // the reversed file's zero-length calls put a Leave before its Enter
      if (dir == archive) assert(got.count(r => r.getAs[String](EventType) != Instant &&
        r.isNullAt(r.fieldIndex(MatchingEventId))) == 0)
    }
  }

  /** The ids `assignDenseIds` gives the decoded rows, keyed by what the
    * reader emits. */
  private def idsByAssignDenseIds(dir: String): Map[Long, (Long, String, String, Int, Int)] = {
    val meta = Otf2Reader.parseGlobalDefs(s"$dir/traces.def")
    assert(meta.locations.map(_._2).distinct.size == meta.locations.size)
    val locs = meta.locations.map { case (loc, grp) => (loc, grp.toInt) }
    val rows = spark.sparkContext.parallelize(locs, locs.size).flatMap { case (loc, p) =>
      val path = s"$dir/traces/$loc.evt"
      Otf2Reader.parseEvents(meta, Files.readAllBytes(Paths.get(path)), path, loc, p, 0)
    }
    Ingest.assignDenseIds(
        RddBridge.fromInternalRdd(spark, rows, Otf2Reader.outSchema(Nil)),
        EventId, col(TimestampNs), col("loc"), col("seq"))
      .select(EventId, TimestampNs, EventType, Name, Process, Thread)
      .as[(Long, Long, String, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
  }

  test("ids equal assignDenseIds' over the decoded rows, out-of-order timestamps too") {
    val b = Files.readAllBytes(Paths.get(s"$shuffledArchive/traces/1.evt"))
    val meta = Otf2Reader.parseGlobalDefs(s"$shuffledArchive/traces.def")
    val ts = Otf2Reader.parseEvents(meta, b, "1.evt", 1L, 1, 0).map(_.getLong(2)).toSeq
    assert(ts.zip(ts.tail).exists { case (a, c) => a > c }, "fixture is in order")
    for (dir <- Seq(archive, shuffledArchive)) {
      val got = Otf2Reader.read(spark, dir)
        .select(EventId, TimestampNs, EventType, Name, Process, Thread)
        .as[(Long, Long, String, String, Int, Int)].collect()
      assert(got.map(_._1).sorted.toSeq == (0L until ranks * 27L))
      assert(got.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap ==
        idsByAssignDenseIds(dir))
    }
  }

  test("an archive with no events reads back empty, in the declared layout") {
    val d = Files.createTempDirectory("otf2-empty").toString
    Trace(trace.limit(0)).toOtf2(d)
    val ev = Otf2Reader.read(spark, d)
    assert(ev.count() == 0)
    assert(EventMatcher.enrich(ev).count() == 0)
    assert(plannedNodes(matcherShape(ev)) == ((0, 0)))
  }

  test("a misaligned id zip throws") {
    val sc = spark.sparkContext
    val rows = sc.parallelize(Seq(InternalRow(0L, 1L), InternalRow(0L, 2L)), 1)
    def zipped(ids: Seq[InternalRow], parts: Int = 1) =
      Otf2Reader.zipIds(rows,
        if (parts == 0) sc.emptyRDD[InternalRow] else sc.parallelize(ids, parts))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).collect().toSeq
    assert(zipped(Seq(InternalRow(0L, 1L, 7L), InternalRow(0L, 2L, 8L))) ==
      Seq((0L, 1L, 7L), (0L, 2L, 8L)))
    def fails(ids: Seq[InternalRow], parts: Int = 1): String = {
      val e = intercept[Exception](zipped(ids, parts))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case s: IllegalStateException => s.getMessage }
        .getOrElse(fail(s"no IllegalStateException in $e"))
    }
    assert(fails(Seq(InternalRow(0L, 1L, 7L), InternalRow(0L, 3L, 8L))).contains("row 3"))
    assert(fails(Seq(InternalRow(0L, 1L, 7L))).contains("no id"))
    assert(fails(Seq(InternalRow(0L, 1L, 7L), InternalRow(0L, 2L, 8L),
      InternalRow(0L, 3L, 9L))).contains("more ids"))
    assert(fails(Seq(InternalRow(0L, 1L, 7L), InternalRow(0L, 2L, 8L)), 2)
      .contains("partitions"))
    // an id plan of no partitions stands for empty ones: rows left over throw
    assert(fails(Nil, 0).contains("no id"))
  }

  /** (seq, timestamp, type, name) of each decoded row. */
  private def decode(b: Array[Byte]): Seq[(Long, Long, String, String)] = {
    val meta = Otf2Reader.parseGlobalDefs(s"$archive/traces.def")
    Otf2Reader.parseEvents(meta, b, "traces/0.evt", 0L, 0, 0).map(r =>
      (r.getLong(1), r.getLong(2), r.getUTF8String(3).toString,
        r.getUTF8String(4).toString)).toSeq
  }

  test("a truncated event file fails naming the file and the record's offset") {
    val b = Files.readAllBytes(Paths.get(s"$archive/traces/0.evt"))
    val starts = recordStarts(b)
    val full = decode(b)
    // a cut at a record boundary returns exactly the clean prefix
    for (cut <- starts :+ b.length) {
      val events = starts.count(s => s < cut && b(s) != 0x05)
      assert(decode(b.take(cut)) == full.take(events), s"cut at $cut")
    }
    // a cut inside either of the last two records names that record
    for (Seq(s, e) <- (starts.takeRight(2) :+ b.length).sliding(2); cut <- s + 1 until e) {
      val ex = intercept[IllegalArgumentException](decode(b.take(cut)))
      assert(ex.getMessage.contains(s"byte $s of traces/0.evt"), ex.getMessage)
    }
    // and the public read fails the same way
    val d = copyOfArchive("otf2-truncated")
    Files.write(Paths.get(s"$d/traces/0.evt"), b.dropRight(1))
    val e = intercept[Exception](Otf2Reader.read(spark, d).count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains(s"byte ${starts.last} of $d/traces/0.evt"), msgs)
  }
}
