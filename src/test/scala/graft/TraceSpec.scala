package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.model.{Schemas, Trace}
import graft.model.Schemas._

/** Golden end-to-end checks on the hand-written foo-bar fixture
  * (structure + goldens documented in FIXTURES.md §A2):
  *   p0: main()[0,100] → foo()[2,26] → { MPI_Send[3,5], baz()[8,18] }
  *   p1: main()[0,100] → { bar()[1,39] → { Idle[2,10], MPI_Recv[10,14] },
  *                         Idle[39,57], grault()[57,77] }
  */
class TraceSpec extends SparkSpec {
  private val S = 1000000000L // seconds → ns

  lazy val trace: Trace = Trace.fromCsv(spark, resourcePath("foo-bar.csv")).enriched
  lazy val rows: Map[(Int, Long, String), Row] =
    trace.events.collect().map(r => (
      r.getAs[Int](Process), r.getAs[Long](TimestampNs), r.getAs[String](EventType)
    ) -> r).toMap

  test("csv reader: canonical schema, 20 events, sorted, dense ids") {
    val df = Trace.fromCsv(spark, resourcePath("foo-bar.csv")).events
    assert(df.count() == 20)
    val ids = df.orderBy(EventId).select(EventId).collect().map(_.getLong(0))
    assert(ids.sameElements(0L until 20L))
    val ts = df.orderBy(EventId).select(TimestampNs).collect().map(_.getLong(0))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("csv reader: optional Thread column scopes matching per (process, thread)") {
    // same names interleaved on two threads of one process — matching must
    // pair within a thread, not across (trace.py:121-126)
    val csv = java.nio.file.Files.createTempFile("thr", ".csv")
    java.nio.file.Files.writeString(csv,
      """Timestamp (ns), Event Type, Name, Process, Thread
        |0, Enter, f, 0, 0
        |1, Enter, f, 0, 1
        |2, Leave, f, 0, 0
        |3, Leave, f, 0, 1
        |""".stripMargin)
    val df = graft.ingest.CsvReader.read(spark, csv.toString)
    assert(df.columns.contains(Thread))
    val e = graft.enrich.EventMatcher.enrich(df).collect()
      .map(r => r.getAs[Long](EventId) -> r.getAs[Long](MatchingEventId)).toMap
    assert(e(0L) == 2L && e(1L) == 3L) // within-thread pairing
  }

  test("matching: enter/leave pairing is an involution with golden pairs") {
    def m(p: Int, ts: Long) = rows((p, ts * S, Enter)).getAs[Long](MatchingTs)
    assert(m(0, 0) == 100 * S)   // main p0
    assert(m(0, 2) == 26 * S)    // foo
    assert(m(0, 3) == 5 * S)     // MPI_Send
    assert(m(1, 1) == 39 * S)    // bar
    assert(m(1, 10) == 14 * S)   // MPI_Recv (tie at ts=10 with Leave Idle)
    assert(m(1, 39) == 57 * S)   // second Idle (tie at ts=39 with Leave bar)
    // involution: leave's match points back at the enter
    val fooEnterId = rows((0, 2 * S, Enter)).getAs[Long](EventId)
    val fooLeave = rows((0, 26 * S, Leave))
    assert(fooLeave.getAs[Long](MatchingEventId) == fooEnterId)
  }

  test("depth and parent") {
    def d(p: Int, ts: Long) = rows((p, ts * S, Enter)).getAs[Int](Depth)
    assert(d(0, 0) == 0 && d(1, 0) == 0)
    assert(d(0, 2) == 1 && d(0, 3) == 2 && d(0, 8) == 2)
    assert(d(1, 1) == 1 && d(1, 2) == 2 && d(1, 39) == 1 && d(1, 57) == 1)
    val fooId = rows((0, 2 * S, Enter)).getAs[Long](EventId)
    assert(rows((0, 3 * S, Enter)).getAs[Long](ParentEventId) == fooId)
    // leave rows carry null depth/parent (reference behavior)
    assert(rows((0, 26 * S, Leave)).isNullAt(
      trace.events.schema.fieldIndex(Depth)))
  }

  test("inc/exc metrics goldens") {
    def inc(p: Int, ts: Long) = rows((p, ts * S, Enter)).getAs[Long](TimeInc)
    def exc(p: Int, ts: Long) = rows((p, ts * S, Enter)).getAs[Long](TimeExc)
    assert(inc(0, 2) == 24 * S && exc(0, 2) == 12 * S)   // foo
    assert(inc(1, 1) == 38 * S && exc(1, 1) == 26 * S)   // bar
    assert(inc(0, 0) == 100 * S && inc(1, 0) == 100 * S) // main
    assert(exc(0, 0) == 76 * S)
    assert(exc(1, 0) == (100 - 38 - 18 - 20) * S)
    assert(inc(0, 3) == 2 * S && exc(0, 3) == 2 * S)     // leaf: exc == inc
  }

  test("generic metric columns: inc = leave − enter, exc subtracts children") {
    // PAPI-style counter riding on the events (monotonic per process):
    // value = timestamp in µs, so metric inc/exc == time inc/exc ÷ 1000
    import spark.implicits._
    val withCounter = Trace.fromCsv(spark, resourcePath("foo-bar.csv")).events
      .withColumn("papi_tot_ins", (col(TimestampNs) / 1000).cast("double"))
    val t = graft.model.Trace(withCounter)
      .calcExcMetrics(Seq("papi_tot_ins"))
    val rows2 = t.events.collect().map(r => (
      r.getAs[Int](Process), r.getAs[Long](TimestampNs), r.getAs[String](EventType)
    ) -> r).toMap
    def m(p: Int, ts: Long, c: String) = rows2((p, ts * S, Enter)).getAs[Double](c)
    assert(m(0, 2, "papi_tot_ins_inc") == 24e9 / 1000)   // foo inc
    assert(m(0, 2, "papi_tot_ins_exc") == 12e9 / 1000)   // foo exc
    assert(m(1, 1, "papi_tot_ins_exc") == 26e9 / 1000)   // bar exc
  }

  test("flat profile: mean over processes of per-process sums") {
    val fp = trace.flatProfile(Seq(TimeInc, TimeExc)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(fp("main()")._1 == 100.0 * S)                 // both processes 100
    assert(fp("foo()") == (24.0 * S, 12.0 * S))          // only p0
    // Idle appears twice in p1 → per-process sum = 26s, one process → mean 26s
    assert(fp("Idle") == (26.0 * S, 26.0 * S))
  }

  test("flat profile per-process sums") {
    val fp = trace.flatProfile(Seq(TimeInc), perProcess = true).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2).toDouble).toMap
    assert(fp(("Idle", 1)) == 26.0 * S)
    assert(fp(("main()", 0)) == 100.0 * S && fp(("main()", 1)) == 100.0 * S)
  }

  test("idle time per process (zero-filled)") {
    val it = trace.idleTime().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(it(1) == 26 * S)
    assert(it(0) == 0L)
  }

  test("load imbalance: max/mean and mean") {
    val li = trace.loadImbalance(TimeInc).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(li("main()") == (1.0, 100.0 * S))
    assert(li("foo()") == (1.0, 24.0 * S))
  }

  test("time profile: conservation per bin and per function") {
    val nBins = 10
    val tp = trace.timeProfile(nBins).collect()
    val binSize = 100.0 * S / nBins
    // per bin: Σ functions + idle == bin_size × #processes
    val perBin = tp.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(4)).sum)
    assert(perBin.size == nBins)
    perBin.foreach { case (_, total) =>
      assert(math.abs(total - binSize * 2) < 1.0, s"bin total $total")
    }
    // per function: Σ over bins == total exclusive time
    val fnTotals = tp.filter(_.getString(3) != "idle_time")
      .groupBy(_.getString(3)).view.mapValues(_.map(_.getDouble(4)).sum)
    val excTotals = trace.flatProfile(Seq(TimeExc), perProcess = true).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2).toDouble).sum)
    excTotals.foreach { case (fn, total) =>
      assert(math.abs(fnTotals(fn) - total) < 1.0, s"fn $fn: ${fnTotals.get(fn)} vs $total")
    }
  }

  test("time profile: an Instant-only process doesn't inflate idle time") {
    // reference counts processes over Enter rows only (trace.py:651-661)
    val extra = trace.events.limit(1).select(
      (col(EventId) + 1000000L).as(EventId), col(TimestampNs),
      org.apache.spark.sql.functions.lit(Instant).as(EventType),
      org.apache.spark.sql.functions.lit("marker").as(Name),
      org.apache.spark.sql.functions.lit(99).as(Process))
    val base = trace.events.select(EventId, TimestampNs, EventType, Name, Process)
    val tp0 = graft.analysis.TimeProfile.timeProfile(base, 10).collect()
    val tp1 = graft.analysis.TimeProfile.timeProfile(base.union(extra), 10).collect()
    def idleSum(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getString(3) == "idle_time").map(_.getDouble(4)).sum
    assert(math.abs(idleSum(tp0) - idleSum(tp1)) < 1.0,
      s"idle ${idleSum(tp0)} vs ${idleSum(tp1)}")
  }

  test("time profile normalized: each bin sums to 1") {
    // reference divides by bin_size × #processes (trace.py:760), so the
    // per-bin total (functions + idle) normalizes to exactly 1
    val tp = trace.timeProfile(10, normalized = true).collect()
    val perBin = tp.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(4)).sum)
    perBin.foreach { case (_, t) => assert(math.abs(t - 1.0) < 1e-9) }
  }

  test("cct: deterministic paths and node ids; events carry node_id") {
    val t2 = trace.createCct()
    val cct = t2.cct.get.collect()
    val paths = cct.map(_.getAs[String]("path")).toSet
    assert(paths.contains("main()"))
    assert(paths.contains("main()->foo()->MPI_Send"))
    assert(paths.contains("main()->bar()->Idle"))
    assert(paths.contains("main()->Idle"))
    assert(paths.contains("main()->grault()"))
    // node ids dense 0..n-1
    val ids = cct.map(_.getAs[Long]("node_id")).sorted
    assert(ids.sameElements(0L until ids.length))
    // every matched Enter got a node id
    val enters = t2.events.filter(col(EventType) === Enter)
    assert(enters.filter(col("node_id").isNull).count() == 0)
  }

  test("chrome projection: B/E phases, µs timestamps") {
    val ch = trace.chromeProjection.collect()
    assert(ch.length == 20)
    assert(ch.forall(r => Set("B", "E").contains(r.getString(1))))
    val mainB = ch.filter(r => r.getString(0) == "main()" && r.getString(1) == "B")
    assert(mainB.length == 2 && mainB.forall(_.getDouble(2) == 0.0))
  }

  test("config registry validates") {
    import graft.util.GraftConfig
    GraftConfig.setOption("log_level", "DEBUG")
    assert(GraftConfig.getOption("log_level") == "DEBUG")
    intercept[IllegalArgumentException](GraftConfig.setOption("log_level", "bogus"))
    GraftConfig.resetOption("log_level")
    assert(GraftConfig.getOption("log_level") == "INFO")
  }

  test("cct subtree rollup: self vs total matches the nested spans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // main [0,100] > a [10,30] > b [15,20]:
    // own exc: main 80, a 15, b 5; subtree: main 100, a 20, b 5
    val ev = Seq(
      (0L, 0L, "Enter", "main"), (1L, 10L, "Enter", "a"),
      (2L, 15L, "Enter", "b"), (3L, 20L, "Leave", "b"),
      (4L, 30L, "Leave", "a"), (5L, 100L, "Leave", "main"))
      .toDF("id", "ts", "et", "nm")
      .select(col("id").as(EventId), col("ts").as(TimestampNs),
        col("et").as(EventType), col("nm").as(Name), lit(0).as(Process))
    val got = graft.cct.Cct.subtreeRollup(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      "main" -> ((1L, 80L, 100L)),
      "main->a" -> ((1L, 15L, 20L)),
      "main->a->b" -> ((1L, 5L, 5L))))
  }

  /** A canonical events table from (event_type, name, process, ts)
    * rows; ids follow the row order. */
  private def eventsOf(rows: Seq[(String, String, Int, Long)]) = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((et, nm, p, ts), i) => (i.toLong, ts, et, nm, p) }
      .toDF(EventId, TimestampNs, EventType, Name, Process)
  }

  test("cct subtree rollup: two processes, two roots, recursion, an unmatched Enter") {
    // p0: main[0,100] > f[10,60] > { f[20,40] > f[25,30], g[45,55] }
    // p1: main[0,50] > { h@3 never left, f[5,15] };  init[60,80] > g[62,70]
    // The unmatched h has no calling context: it is no node and no parent.
    val ev = eventsOf(Seq(
      (Enter, "main", 0, 0L), (Enter, "f", 0, 10L), (Enter, "f", 0, 20L),
      (Enter, "f", 0, 25L), (Leave, "f", 0, 30L), (Leave, "f", 0, 40L),
      (Enter, "g", 0, 45L), (Leave, "g", 0, 55L), (Leave, "f", 0, 60L),
      (Leave, "main", 0, 100L),
      (Enter, "main", 1, 0L), (Enter, "h", 1, 3L), (Enter, "f", 1, 5L),
      (Leave, "f", 1, 15L), (Leave, "main", 1, 50L), (Enter, "init", 1, 60L),
      (Enter, "g", 1, 62L), (Leave, "g", 1, 70L), (Leave, "init", 1, 80L)))
    val out = graft.cct.Cct.subtreeRollup(ev)
    assert(out.columns.toSeq ==
      Seq("path", "name", "depth", "n_calls", "own_exc", "subtree_exc"))
    val got = out.collect().map(r =>
      r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    // (name, depth, calls, own exc, subtree exc); own exc sums both processes
    val want = Map(
      "main" -> (("main", 0, 2L, 90L, 150L)),
      "main->f" -> (("f", 1, 2L, 30L, 60L)),
      "main->f->f" -> (("f", 2, 1L, 15L, 20L)),
      "main->f->f->f" -> (("f", 3, 1L, 5L, 5L)),
      "main->f->g" -> (("g", 2, 1L, 10L, 10L)),
      "init" -> (("init", 0, 1L, 12L, 20L)),
      "init->g" -> (("g", 1, 1L, 8L, 8L)))
    assert(got.toMap == want)
    assert(got.length == want.size) // one row per calling context
  }

  test("cct subtree rollup: the job count does not grow with the tree's depth") {
    def chain(depth: Int) = {
      val ev = graft.enrich.Metrics.calcExcMetrics(eventsOf(
        (0 until depth).map(d => (Enter, s"f$d", 0, d.toLong)) ++
          (0 until depth).reverse.map(d => (Leave, s"f$d", 0, 2L * depth - d))),
        Seq(TimestampNs)).cache()
      ev.count()
      ev
    }
    val (shallow, deep) = (chain(3), chain(30))
    try {
      val jobs = Seq(shallow, deep).map { ev =>
        var rows = Array.empty[Row]
        val n = jobsOf { rows = graft.cct.Cct.subtreeRollup(ev).collect() }
        assert(rows.map(_.getInt(2)).max == ev.filter(col(EventType) === Enter).count() - 1)
        n
      }
      assert(jobs.head == jobs(1), s"jobs at depth 3 vs 30: $jobs")
    } finally Seq(shallow, deep).foreach(_.unpersist())
  }

  test("time profile: a bin without calls is one idle row of bin width × processes") {
    // 3 bins over [0,30] ns, 2 processes; nothing runs in bin 1 = [10,20]
    val ev = eventsOf(Seq(
      (Enter, "a", 0, 0L), (Leave, "a", 0, 10L),
      (Enter, "b", 1, 20L), (Leave, "b", 1, 30L)))
    val tp = graft.analysis.TimeProfile.timeProfile(ev, 3).collect()
    val bin1 = tp.filter(_.getLong(0) == 1L)
    assert(bin1.length == 1)
    val r = bin1.head
    assert(r.getDouble(1) == 10.0 && r.getDouble(2) == 20.0)
    assert(r.getString(3) == "idle_time" && r.getDouble(4) == 10.0 * 2)
    // the busy bins: one process runs the whole bin, the other idles
    assert(tp.filter(_.getLong(0) == 0L).map(r => r.getString(3) -> r.getDouble(4)).toMap ==
      Map("a" -> 10.0, "idle_time" -> 10.0))
  }

  test("callers profile: exclusive time attributed to the calling site") {
    val got = trace.callersProfile().collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // foo() called once from main(), exc 12 s; bar() once from main(),
    // exc 26 s; main() itself is a root on both processes
    assert(got(("foo()", "main()")) === ((1L, 12L * S)))
    assert(got(("bar()", "main()")) === ((1L, 26L * S)))
    assert(got(("main()", "<root>"))._1 === 2L)
    // child calls attribute to their enclosing function, not the root
    assert(got(("MPI_Send", "foo()")) === ((1L, 2L * S)))
    assert(got(("Idle", "bar()")) === ((1L, 8L * S)))
  }
}
