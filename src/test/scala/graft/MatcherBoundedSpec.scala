package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.enrich.EventMatcher
import graft.util.GraftConfig

/** Equivalence of the bounded-memory matcher (O(stack-depth) state, pair
  * emission + join-back) with the buffered fast path, on traces the
  * buffered path is known-correct for — including a pathologically skewed
  * one where 97% of events sit in a single location, the case the bounded
  * path exists for. */
class MatcherBoundedSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic nested trace: one location gets `big` leaf pairs under
    * nested scopes, others get tiny traces; plus unbalanced noise (an
    * Enter with no Leave, a stray Leave). */
  private def skewedTrace(big: Int): DataFrame = {
    val rng = new Random(42)
    val rows = ArrayBuffer[(Long, Long, String, String, Int)]()
    var id = 0L
    var ts = 0L
    def emit(et: String, name: String, p: Int): Unit = {
      rows += ((id, ts, et, name, p)); id += 1; ts += 1 + rng.nextInt(3)
    }
    for (p <- 0 until 4) {
      val n = if (p == 0) big else 25
      emit("Enter", "main", p)
      emit("Enter", "phantom", p) // never left → unmatched tolerance
      var depth = 0
      for (i <- 0 until n) {
        val f = s"f${i % 7}"
        if (depth > 0 && rng.nextInt(3) == 0) {
          emit("Leave", s"f${(i - 1) % 7}", p); depth -= 1
        }
        emit("Enter", f, p)
        if (rng.nextInt(2) == 0) { emit("Leave", f, p) } else depth += 1
      }
      while (depth > 0) { emit("Leave", s"f$depth", p); depth -= 1 } // some stray
      emit("Leave", "stray_never_entered", p)
      emit("Leave", "main", p)
    }
    rows.toSeq.toDF("event_id", "timestamp_ns", "event_type", "name", "process")
  }

  private def both(df: DataFrame): (Array[String], Array[String]) = {
    GraftConfig.resetOption("matcher_mode")
    val buffered = EventMatcher.enrich(df).orderBy(col("event_id")).collect()
      .map(_.toString)
    GraftConfig.setOption("matcher_mode", "bounded")
    try {
      val bounded = EventMatcher.enrich(df).orderBy(col("event_id")).collect()
        .map(_.toString)
      (buffered, bounded)
    } finally GraftConfig.resetOption("matcher_mode")
  }

  test("bounded == buffered on the foo-bar fixture") {
    val df = graft.ingest.CsvReader.read(spark, "src/test/resources/foo-bar.csv")
    val (a, b) = both(df)
    assert(a.length == b.length)
    assert(a.sameElements(b))
  }

  test("bounded == buffered on a 97%-single-location skewed trace") {
    val (a, b) = both(skewedTrace(3000))
    assert(a.length == b.length)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  buffered=$x\n  bounded =$y")
    }
  }

  test("bounded == buffered when null-thread and thread -1 locations share a partition") {
    // one process, two locations; each holds one half of an f call, so
    // neither half may match the other
    val df = Seq[(Long, Long, String, String, Int, Integer)](
      (0L, 1L, "Enter", "f", 0, null), (1L, 2L, "Leave", "f", 0, -1),
      (2L, 3L, "Enter", "g", 0, -1), (3L, 4L, "Leave", "g", 0, -1))
      .toDF("event_id", "timestamp_ns", "event_type", "name", "process", "thread")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val (a, b) = both(df)
      assert(a.sameElements(b), s"\n  buffered=${a.mkString(" ")}\n  bounded =${b.mkString(" ")}")
      val matched = EventMatcher.enrich(df).filter(col("matching_event_id").isNotNull)
      assert(matched.select("name").as[String].collect().toSeq == Seq("g", "g"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("bounded path emits no single-location full buffer (spot: unbalanced rows stay unmatched)") {
    GraftConfig.setOption("matcher_mode", "bounded")
    try {
      val e = EventMatcher.enrich(skewedTrace(500))
      val phantom = e.filter(col("name") === "phantom")
      assert(phantom.filter(col("matching_event_id").isNotNull).count() == 0)
      val stray = e.filter(col("name") === "stray_never_entered")
      assert(stray.filter(col("matching_event_id").isNotNull).count() == 0)
    } finally GraftConfig.resetOption("matcher_mode")
  }
}
