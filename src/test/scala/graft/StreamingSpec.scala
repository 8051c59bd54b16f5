package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** Structured Streaming operators driven through MemoryStream with
  * processAllAvailable — verifies the incremental plans produce the same
  * aggregates as their batch twins. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents(rows: Seq[(Long, String, Int, Int, Long)]) =
    rows.toDF("t_ms", "name", "process", "attr_receiver", "attr_msg_length")
      .withColumn("event_time", timestamp_millis(col("t_ms")))

  test("streaming comm_over_time windows match batch totals") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Int, Int, Long)]
    val events = stream.toDF()
      .toDF("t_ms", "name", "process", "attr_receiver", "attr_msg_length")
      .withColumn("event_time", timestamp_millis(col("t_ms")))

    val q = StreamingOps.commOverTime(events, "10 seconds", "0 seconds")
      .writeStream.format("memory").queryName("cot").outputMode("update").start()
    try {
      stream.addData(
        (1000L, "MpiSend", 0, 1, 100L), (2000L, "MpiSend", 1, 0, 200L),
        (11000L, "MpiIsend", 0, 1, 50L), (12000L, "MpiRecv", 1, 0, 999L))
      q.processAllAvailable()
      val out = spark.table("cot").collect()
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2))).toMap
      assert(out(0L) == (300L, 2L))     // window [0,10s): two sends
      assert(out(10000L) == (50L, 1L))  // recv excluded
    } finally q.stop()
  }

  test("streaming matcher emits completed calls with inc/exc across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Int, Long, Long, String, String)]
    val events = stream.toDF()
      .toDF("process", "event_id", "timestamp_ns", "event_type", "name")

    val q = graft.streaming.StreamingMatcher.completedCalls(events)
      .writeStream.format("memory").queryName("calls").outputMode("append").start()
    try {
      // batch 1: main enters, child a enters+leaves — a completes, main open
      stream.addData((0, 1L, 0L, "Enter", "main"), (0, 2L, 10L, "Enter", "a"),
        (0, 3L, 30L, "Leave", "a"))
      q.processAllAvailable()
      val afterB1 = spark.table("calls").collect()
      assert(afterB1.length == 1 && afterB1.head.getAs[String]("name") == "a")
      assert(afterB1.head.getAs[Long]("time_inc") == 20L)
      assert(afterB1.head.getAs[Int]("depth") == 1)
      // batch 2: main leaves — completes with exc = 100 − 20 (state carried)
      stream.addData((0, 4L, 100L, "Leave", "main"))
      q.processAllAvailable()
      val calls = spark.table("calls").collect()
        .map(r => r.getAs[String]("name") -> r).toMap
      assert(calls("main").getAs[Long]("time_inc") == 100L)
      assert(calls("main").getAs[Long]("time_exc") == 80L)
      assert(calls("main").getAs[Int]("depth") == 0)
    } finally q.stop()
  }

  test("watermark drops late events once their window has expired") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Int, Int, Long)]
    val events = stream.toDF()
      .toDF("t_ms", "name", "process", "attr_receiver", "attr_msg_length")
      .withColumn("event_time", timestamp_millis(col("t_ms")))

    val q = StreamingOps.commOverTime(events, "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName("wm").outputMode("update").start()
    try {
      stream.addData((1000L, "MpiSend", 0, 1, 100L))
      q.processAllAvailable()
      // advance event time far past window [0,10s) + watermark slack
      stream.addData((60000L, "MpiSend", 0, 1, 10L))
      q.processAllAvailable()
      // a send 59s late: its window is expired — must NOT resurface
      stream.addData((2000L, "MpiSend", 1, 0, 999L))
      q.processAllAvailable()
      val w0 = spark.table("wm").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(w0 == Set((100L, 1L)), s"late row leaked into expired window: $w0")
    } finally q.stop()
  }

  test("streaming matcher on unbalanced stream: documented divergence semantics") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Int, Long, Long, String, String)]
    val events = stream.toDF()
      .toDF("process", "event_id", "timestamp_ns", "event_type", "name")

    val q = graft.streaming.StreamingMatcher.completedCalls(events)
      .writeStream.format("memory").queryName("unbal").outputMode("append").start()
    try {
      // EnterA, EnterB, LeaveA (mid-stack), LeaveB: A is emitted before
      // B's inc is known — A.exc stays incA (the documented append-mode
      // divergence from batch); B still completes with its exact inc
      stream.addData((0, 1L, 0L, "Enter", "A"), (0, 2L, 10L, "Enter", "B"),
        (0, 3L, 50L, "Leave", "A"), (0, 4L, 80L, "Leave", "B"))
      q.processAllAvailable()
      val calls = spark.table("unbal").collect()
        .map(r => r.getAs[String]("name") -> r).toMap
      assert(calls("A").getAs[Long]("time_inc") == 50L)
      assert(calls("A").getAs[Long]("time_exc") == 50L) // batch would say -20
      assert(calls("B").getAs[Long]("time_inc") == 70L)
      assert(calls("B").getAs[Int]("depth") == 1)
    } finally q.stop()
  }

  test("batch matcher rejects a null process key, naming the column") {
    val events = Seq[(Option[Int], Long, Long, String, String)](
      (Some(0), 1L, 0L, "Enter", "main"), (Some(0), 2L, 5L, "Leave", "main"),
      (None, 3L, 1L, "Enter", "orphan"))
      .toDF("process", "event_id", "timestamp_ns", "event_type", "name")
    val e = intercept[Exception] {
      graft.streaming.StreamingMatcher.completedCalls(events).collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("'process'")), e)
  }

  test("batch concurrency throws on a null tick time instead of reading 0") {
    // the batch replay decodes through the same encoder as the stream, so
    // a null in a primitive non-key field fails in both modes
    val deltas = Seq[(Long, Option[Long], Long)](
      (0L, Some(0L), 1L), (0L, None, -1L), (0L, Some(10L), -1L))
      .toDF("process", "t", "delta")
    val e = intercept[Exception] {
      StreamingOps.concurrency(deltas).collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c =>
      String.valueOf(c.getMessage).contains("non-nullable")), e)
  }

  test("matcher lateness bound drops cross-batch stragglers; default accepts") {
    implicit val sqlCtx = spark.sqlContext
    // bounded: 5ns allowed lateness
    val bounded = MemoryStream[(Int, Long, Long, String, String)]
    val qb = graft.streaming.StreamingMatcher.completedCalls(
        bounded.toDF().toDF("process", "event_id", "timestamp_ns", "event_type", "name"),
        allowedLatenessNs = 5L)
      .writeStream.format("memory").queryName("late_b").outputMode("append").start()
    try {
      // batch 1 advances the high-water mark to t=100 and leaves main open
      bounded.addData((0, 1L, 0L, "Enter", "main"), (0, 2L, 100L, "Enter", "work"))
      qb.processAllAvailable()
      // batch 2: a straggler pair from t=10..20 (90ns late > 5ns bound) must
      // be dropped — admitting the Leave would close the open "work" frame’s
      // sibling-less stack wrongly; then main closes normally
      bounded.addData((0, 3L, 10L, "Enter", "stale"), (0, 4L, 20L, "Leave", "stale"),
        (0, 5L, 200L, "Leave", "work"), (0, 6L, 300L, "Leave", "main"))
      qb.processAllAvailable()
      val names = spark.table("late_b").collect().map(_.getAs[String]("name")).toSet
      assert(names == Set("work", "main"), s"straggler leaked: $names")
      val main = spark.table("late_b").collect()
        .find(_.getAs[String]("name") == "main").get
      assert(main.getAs[Long]("time_exc") == 300L - 100L) // only work's inc subtracted
    } finally qb.stop()

    // default (unbounded): the same straggler pair is admitted and matches
    val open = MemoryStream[(Int, Long, Long, String, String)]
    val qo = graft.streaming.StreamingMatcher.completedCalls(
        open.toDF().toDF("process", "event_id", "timestamp_ns", "event_type", "name"))
      .writeStream.format("memory").queryName("late_o").outputMode("append").start()
    try {
      open.addData((0, 1L, 0L, "Enter", "main"), (0, 2L, 100L, "Enter", "work"))
      qo.processAllAvailable()
      open.addData((0, 3L, 10L, "Enter", "stale"), (0, 4L, 20L, "Leave", "stale"))
      qo.processAllAvailable()
      val names = spark.table("late_o").collect().map(_.getAs[String]("name")).toSet
      assert(names == Set("stale"))
    } finally qo.stop()
  }

  test("streaming exact dedup drops repeats within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val docs = stream.toDF().toDF("doc_id", "text", "t_ms")
      .withColumn("event_time", timestamp_millis(col("t_ms")))
    val q = StreamingOps.exactDedup(docs, watermark = "10 seconds")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      stream.addData((0L, "aaa", 1000L), (1L, "aaa", 2000L), (2L, "bbb", 3000L))
      q.processAllAvailable()
      // in-batch duplicate collapsed
      def byContent = spark.table("sdedup").collect()
        .groupBy(_.getAs[String]("text")).view.mapValues(_.length).toMap
      assert(byContent == Map("aaa" -> 1, "bbb" -> 1))
      // cross-batch duplicate inside the horizon: still dropped
      stream.addData((3L, "aaa", 4000L))
      q.processAllAvailable()
      assert(byContent == Map("aaa" -> 1, "bbb" -> 1))
      // advance the watermark far past aaa's expiry; the hash state is
      // evicted and the same content is admitted again — dedup-at-ingest
      // is horizon-bounded by design
      stream.addData((4L, "ccc", 100000L))
      q.processAllAvailable()
      stream.addData((5L, "aaa", 101000L))
      q.processAllAvailable()
      assert(byContent == Map("aaa" -> 2, "bbb" -> 1, "ccc" -> 1))
    } finally q.stop()
  }

  test("streaming image dedup: rescaled copies collide on the perceptual hash") {
    import graft.scale.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val base = Multimodal.encodePgm(8, 8, i => (i * 37) % 256)
    val upscale = Multimodal.resizePgm(16, 16)(base) // same 8x8 sample grid
    val other = Multimodal.encodePgm(8, 8, i => (i * 11 + 3) % 256)
    val stream = MemoryStream[(Long, Array[Byte], Long)]
    val docs = stream.toDF().toDF("doc_id", "payload", "t_ms")
      .withColumn("event_time", timestamp_millis(col("t_ms")))
    val q = StreamingOps.imageDedup(docs, watermark = "10 seconds")
      .writeStream.format("memory").queryName("simg").outputMode("append").start()
    try {
      stream.addData((0L, base, 1000L), (1L, other, 2000L))
      q.processAllAvailable()
      // the 2x upscale arrives in a LATER batch and still collides
      stream.addData((2L, upscale, 3000L))
      q.processAllAvailable()
      val ids = spark.table("simg").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(0L, 1L), s"upscale must dedup against base: $ids")
    } finally q.stop()
  }

  test("curated ingest: quality filter runs before stateful dedup") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Long)]
    val docs = stream.toDF().toDF("doc_id", "text", "t_ms")
      .withColumn("event_time", timestamp_millis(col("t_ms")))
    val good = "a genuinely varied sentence with many distinct interesting " +
      "words here and even more of them to pass the length gate"
    val q = StreamingOps.curatedIngest(docs, minQuality = 0.8,
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("cin").outputMode("append").start()
    try {
      // junk (one short token ⇒ low quality) is dropped stateless-ly;
      // the good doc is admitted once despite the in-batch repeat
      stream.addData((0L, good, 1000L), (1L, good, 2000L), (2L, "zz", 3000L))
      q.processAllAvailable()
      val texts = spark.table("cin").collect().map(_.getAs[String]("text"))
      assert(texts.toSeq == Seq(good))
    } finally q.stop()
  }

  test("streaming sessions split on gap") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, Int, Int, Long)]
    val events = stream.toDF()
      .toDF("t_ms", "name", "process", "attr_receiver", "attr_msg_length")
      .withColumn("event_time", timestamp_millis(col("t_ms")))

    val q = StreamingOps.sessions(events, "process", "5 seconds", "0 seconds")
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      // p0: two bursts 20s apart -> 2 sessions; p1: one burst
      stream.addData(
        (1000L, "a", 0, 0, 1L), (2000L, "a", 0, 0, 1L),
        (30000L, "a", 0, 0, 1L),
        (5000L, "a", 1, 0, 1L))
      q.processAllAvailable()
      val bySess = spark.table("sess").collect()
        .groupBy(_.getAs[Int]("process")).view.mapValues(_.length).toMap
      assert(bySess(0) == 2 && bySess(1) == 1)
    } finally q.stop()
  }

  test("streaming transitions match the batch lag-window across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, String)]
    val events = stream.toDF().toDF("user_id", "t", "event_id", "event_type")
    val q = StreamingOps.transitions(events)
      .writeStream.format("memory").queryName("trans")
      .outputMode("append").start()
    try {
      stream.addData((1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"))
      q.processAllAvailable()
      stream.addData((1L, 30L, 102L, "a"), (2L, 5L, 103L, "x"))
      q.processAllAvailable()
      val out = spark.table("trans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getBoolean(4))).sortBy(t => (t._1, t._2))
      // user 1 chains a→b then (cross-batch) b→a; user 2 has no pair yet
      assert(out.toSeq == Seq((1L, "a", "b", true), (1L, "b", "a", true)))
    } finally q.stop()
  }

  test("streaming concurrency segments reproduce the batch sweep") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long)]
    val deltas = stream.toDF().toDF("process", "t", "delta")
    val q = StreamingOps.concurrency(deltas)
      .writeStream.format("memory").queryName("conc")
      .outputMode("append").start()
    try {
      stream.addData((0L, 0L, 1L), (0L, 5L, 1L), (0L, 8L, -1L))
      q.processAllAvailable()
      stream.addData((0L, 10L, -1L)) // closes [8,10) at level 1
      q.processAllAvailable()
      val segs = spark.table("conc").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._2)
      assert(segs.toSeq == Seq((1L, 0L, 5L), (2L, 5L, 8L), (1L, 8L, 10L)))
    } finally q.stop()
  }

  test("one micro-batch equals the batch result for sampled calls, " +
      "rolling contributions and interval union") {
    import org.apache.spark.sql.{DataFrame, Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import graft.model.Schemas.{Enter, EventType, Leave, Name, Process, TimestampNs}
    val calls = (for {
      p <- 0 to 1; c <- 0 until 12
      (dt, et, nm) <- Seq((0L, Enter, s"f$c"), (10L, Enter, "g"),
        (20L, Leave, "g"), (900L, Leave, s"f$c"))
    } yield (p, c * 1000L + p + dt, et, nm))
      .toDF(Process, TimestampNs, EventType, Name)
    val days = Seq((1L, 0L), (1L, 3L), (2L, 1L), (1L, 20L), (2L, 2L))
      .map { case (u, d) => (u, d * 86400000000L + 5L) }.toDF("user_id", "t_us")
    val spans = Seq((1L, 0L, 5L), (1L, 5L, 9L), (1L, 12L, 14L), (1L, 20L, 21L),
      (2L, 3L, 4L), (2L, 7L, 8L)).toDF("key", "start", "end")
    val cases = Seq[(String, DataFrame, DataFrame => DataFrame)](
      ("sampled", calls, StreamingOps.sampledCalls(_, 1, 2)),
      ("rolling", days, StreamingOps.rollingContributions(_)),
      ("interval", spans, StreamingOps.intervalUnion(_)))
    implicit val sqlCtx = spark.sqlContext
    for ((name, in, op) <- cases) {
      implicit val enc: Encoder[Row] = ExpressionEncoder(in.schema)
      val stream = MemoryStream[Row]
      val q = op(stream.toDF()).writeStream.format("memory")
        .queryName(s"parity_$name").outputMode("append").start()
      try {
        stream.addData(in.collect().toSeq)
        q.processAllAvailable()
        val streamed = spark.table(s"parity_$name").collect().map(_.toString).sorted
        val batch = op(in).collect().map(_.toString).sorted
        assert(batch.nonEmpty, name)
        assert(streamed.toSeq == batch.toSeq, name)
      } finally q.stop()
    }
  }
}
