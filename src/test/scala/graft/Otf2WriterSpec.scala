package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.analysis.CommOps
import graft.ingest.{Otf2Reader, Otf2Writer}
import graft.model.Schemas._
import graft.model.Trace

/** OTF2 writer: a canonical trace exported as a binary archive must
  * re-ingest byte-exactly through the from-scratch reader. */
class Otf2WriterSpec extends SparkSpec {
  import spark.implicits._

  private def trace = Seq(
    // rank 0: main { work { Isend(req 7) } } + completion
    (0L, 10L, Enter, "main", 0, null, null, Map.empty[String, String]),
    (1L, 20L, Enter, "work", 0, null, null, Map.empty[String, String]),
    (2L, 30L, Instant, "MpiIsend", 0, Int.box(1), Long.box(1024L),
      Map("request_id" -> "7", "msg_tag" -> "5")),
    (3L, 35L, Instant, "MpiIsendComplete", 0, null, null,
      Map("request_id" -> "7")),
    (4L, 40L, Leave, "work", 0, null, null, Map.empty[String, String]),
    (5L, 90L, Leave, "main", 0, null, null, Map.empty[String, String]),
    // rank 1: main { Recv ← 0 } with a blocking send back
    (6L, 10L, Enter, "main", 1, null, null, Map.empty[String, String]),
    (7L, 45L, Instant, "MpiRecv", 1, Int.box(0), Long.box(1024L),
      Map("msg_tag" -> "5")),
    (8L, 50L, Instant, "MpiSend", 1, Int.box(0), Long.box(64L),
      Map.empty[String, String]),
    (9L, 80L, Leave, "main", 1, null, null, Map.empty[String, String]),
    // an un-encodable instant: dropped and counted, never silently lost
    (10L, 85L, Instant, "CudaKernel", 1, null, null,
      Map.empty[String, String])
  ).toDF(EventId, TimestampNs, EventType, Name, Process,
    AttrReceiver, AttrMsgLength, Attributes)

  private lazy val dir = Files.createTempDirectory("otf2-writer").toString
  private lazy val saved = Otf2Writer.save(trace, dir)
  private lazy val back = { saved; Otf2Reader.read(spark, dir).cache() }

  test("write reports locations, events, and dropped rows") {
    assert(saved == ((2L, 10L, 1L)))
  }

  test("round trip reproduces the canonical event set exactly") {
    val got = back.select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet
    val want = trace.filter(col(Name) =!= "CudaKernel")
      .select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == want)
  }

  test("comm attributes survive: matrix, tags, request ids") {
    val vol = CommOps.commMatrixDense(back)
    assert(vol(0)(1) == 1024L && vol(1)(0) == 64L)
    val isend = back.filter(col(Name) === "MpiIsend").collect()(0)
    val attrs = isend.getMap[String, String](isend.fieldIndex(Attributes))
    assert(attrs("request_id") == "7" && attrs("msg_tag") == "5" &&
      attrs("msg_length") == "1024" && attrs("receiver") == "1")
    val recv = back.filter(col(Name) === "MpiRecv").collect()(0)
    val rattrs = recv.getMap[String, String](recv.fieldIndex(Attributes))
    assert(rattrs("sender") == "0" && rattrs("msg_tag") == "5")
  }

  test("re-exporting a READER-produced trace keeps communicators and long names") {
    // reader attribute convention: "communicator" -> "Comm N"
    val longName = "ns::" + ("x" * 300) + "::work" // forces a long-form record
    val t = Seq(
      (0L, 10L, Enter, longName, 0, null, null, Map.empty[String, String]),
      (1L, 20L, Instant, "MpiSend", 0, Int.box(1), Long.box(512L),
        Map("communicator" -> "Comm 3", "msg_tag" -> "9")),
      (2L, 90L, Leave, longName, 0, null, null, Map.empty[String, String])
    ).toDF(EventId, TimestampNs, EventType, Name, Process,
      AttrReceiver, AttrMsgLength, Attributes)
    val d = Files.createTempDirectory("otf2-writer-comm").toString
    Otf2Writer.save(t, d)
    val back = Otf2Reader.read(spark, d)
    assert(back.filter(col(Name) === longName).count() == 2L)
    val send = back.filter(col(Name) === "MpiSend").collect()(0)
    val attrs = send.getMap[String, String](send.fieldIndex(Attributes))
    assert(attrs("communicator") == "Comm 3" && attrs("msg_tag") == "9")
  }

  test("a second write round-trips a trace without attribute columns") {
    val bare = trace.filter(col(EventType).isin(Enter, Leave))
      .select(col(EventId), col(TimestampNs), col(EventType), col(Name),
        col(Process))
    val d2 = Files.createTempDirectory("otf2-writer-bare").toString
    val (locs, n, dropped) = Otf2Writer.save(bare, d2)
    assert(locs == 2L && n == 6L && dropped == 0L)
    val got = Otf2Reader.read(spark, d2)
      .select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == bare.select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet)
  }

  test("Trace.toOtf2 archives load back through Trace.fromOtf2, region names included") {
    val d3 = Files.createTempDirectory("otf2-writer-trace").toString
    Trace(trace).toOtf2(d3)
    val t = Trace.fromOtf2(spark, d3)
    val got = t.events.select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet
    assert(got == trace.filter(col(Name) =!= "CudaKernel")
      .select(TimestampNs, EventType, Name, Process)
      .as[(Long, String, String, Int)].collect().toSet)
    val regions = t.definitions.get.filter(col("def_type") === "Region").collect()
    assert(regions.map(_.getString(2)).toSet == Set("main", "work"))
    assert(regions.forall { r =>
      val attrs = r.getMap[String, String](3)
      attrs("name") == r.getString(2) && attrs("canonical_name") == r.getString(2)
    })
  }

  test("a Region definition record too short for its fields names its offset") {
    val d4 = Files.createTempDirectory("otf2-writer-short").toString
    Otf2Writer.save(trace, d4)
    // cut the canonical-name field off the first Region record: drop its
    // last byte and shorten its length byte to match
    val path = java.nio.file.Paths.get(d4, "traces.def")
    val bytes = Files.readAllBytes(path)
    var i = 18
    while ((bytes(i) & 0xff) != 0x0f) i += 2 + (bytes(i + 1) & 0xff)
    val len = bytes(i + 1) & 0xff
    val cut = bytes.patch(i + 2 + len - 1, Nil, 1)
    cut(i + 1) = (len - 1).toByte
    Files.write(path, cut)
    val e = intercept[IllegalArgumentException](Trace.fromOtf2(spark, d4))
    assert(e.getMessage.contains("Region") && e.getMessage.contains(s"byte $i"),
      e.getMessage)
  }
}
