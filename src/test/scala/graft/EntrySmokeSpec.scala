package graft

import org.apache.spark.sql.functions._

import graft.enrich.AttrPromote
import graft.model.Schemas._

/** Driver-contract smoke: entry() on sf0.001 must return rows; attr
  * promotion turns map-bag traces into comm-operator-ready columns. */
class EntrySmokeSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("entry() returns rows on sf0.001") {
    assume(new java.io.File(sfDir).isDirectory)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("clearCaches evicts this session's memoized artifacts and unpersists them") {
    assume(new java.io.File(sfDir).isDirectory)
    // populate the enriched-trace cache, then evict: the persisted plan
    // must actually leave the cache manager (executor storage released)
    val df = SparkEntry.queries("trace_depth")(spark, sfDir)
    assert(df.count() > 0)
    assert(SparkEntry.cachedEntryCount(spark) > 0)
    SparkEntry.clearCaches(spark)
    assert(SparkEntry.cachedEntryCount(spark) == 0)
    // idempotent, and the next query simply rebuilds the cache
    SparkEntry.clearCaches(spark)
    assert(SparkEntry.queries("trace_depth")(spark, sfDir).count() > 0)
  }

  test("clearCaches deletes the on-disk stored-index scratch directories") {
    assume(new java.io.File(sfDir).isDirectory)
    // a day-2 query builds its index via IndexStore save/load on scratch
    val df = SparkEntry.queries("cdc_dedup_incr")(spark, sfDir)
    assert(df.count() > 0)
    val paths = SparkEntry.scratchLivePaths(spark)
    assert(paths.nonEmpty)
    paths.foreach(p => assert(new java.io.File(p).isDirectory, p))
    assert(SparkEntry.artifactIoBytes(spark).get("idx_cdc").exists(_ > 0))
    SparkEntry.clearCaches(spark)
    assert(SparkEntry.scratchLivePaths(spark).isEmpty)
    paths.foreach(p => assert(!new java.io.File(p).exists(),
      s"scratch dir leaked: $p"))
  }

  test("clearCaches drops driver-side fits, so the next query refits them") {
    assume(new java.io.File(sfDir).isDirectory)
    val q = SparkEntry.queries("knn_graph_auto")
    assert(q(spark, sfDir).count() > 0)
    assert(SparkEntry.artifactBreakdown(spark).contains("kmeans_auto_fit"))
    SparkEntry.clearCaches(spark)
    assert(SparkEntry.cachedEntryCount(spark) == 0)
    assert(SparkEntry.artifactBreakdown(spark).isEmpty)
    // a stale fit left behind would be reused without a rebuild
    assert(q(spark, sfDir).count() > 0)
    assert(SparkEntry.artifactBreakdown(spark).contains("kmeans_auto_fit"))
    SparkEntry.clearCaches(spark)
  }

  test("attr promotion lifts map keys to typed columns (comm ops ready)") {
    val events = Seq(
      (0L, 10L, Instant, "MpiSend", 0, Map("receiver" -> "3", "msg_length" -> "1024")),
      (1L, 20L, Instant, "MpiSend", 1, Map("receiver" -> "0", "msg_length" -> "2048")),
      (2L, 30L, Enter, "f", 0, null.asInstanceOf[Map[String, String]])
    ).toDF(EventId, TimestampNs, EventType, Name, Process, Attributes)
    val promoted = AttrPromote.promoteCommAttrs(events)
    val cm = graft.analysis.CommOps.commMatrix(promoted).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(cm == Map((0, 3) -> 1024L, (1, 0) -> 2048L))
    // idempotent; enter row gets nulls
    val again = AttrPromote.promoteCommAttrs(promoted)
    assert(again.columns.count(_ == AttrReceiver) == 1)
    assert(again.filter(col(EventType) === Enter).head().isNullAt(
      again.schema.fieldIndex(AttrReceiver)))
  }

  test("Verify.rowsHash ignores row order and counts duplicate rows") {
    val rows = Seq((1L, "x"), (2L, "y"), (3L, null)).toDF("k", "v")
    val (n, h) = Verify.rowsHash(rows)
    assert(n == 3)
    assert(Verify.rowsHash(rows.orderBy(col("k").desc).repartition(3)) == ((3L, h)))
    val dup = Verify.rowsHash(rows.union(rows.filter(col("k") === 1L)))
    assert(dup._1 == 4 && dup._2 != h)
    assert(Verify.rowsHash(rows.filter(lit(false))) == ((0L, 0L)))
  }
}
