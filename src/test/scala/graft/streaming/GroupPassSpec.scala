package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GroupPassExec

import graft.SparkSpec
import graft.enrich.EventMatcher
import graft.model.Schemas._

case class GroupPassIn(k: Int, v: Long)
case class GroupPassState(n: Long)
case class GroupPassOut(k: Int, total: Long)

/** The per-key pass behind the batch replays and the bounded matcher is
  * a plan node: Catalyst plans its exchange and sort (and drops them
  * where the input already satisfies them), building a DataFrame over it
  * runs nothing, and its SQL metrics are readable off the executed plan. */
class GroupPassSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def fooBar =
    graft.ingest.CsvReader.read(spark, "src/test/resources/foo-bar.csv")

  private def sums(in: DataFrame) =
    BatchReplay.keyed[Int, GroupPassIn, GroupPassState, GroupPassOut](
      in, Seq("k"), _.k, None) { (k, rows, _) =>
      Iterator.single(GroupPassOut(k, rows.map(_.v).sum))
    }

  private def kv = (0 until 40).map(i => (i % 5, i.toLong)).toDF("k", "v")
  private val want = (0 until 5).map(k => (k, (k until 40 by 5).map(_.toLong).sum))

  private def plannedNodes(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: ShuffleExchangeExec => e }.size,
      collect(plan) { case s: SortExec => s }.size)
  }

  test("building a batch replay or the bounded matcher over an input that needs an exchange starts no job") {
    val events = fooBar.repartition(3)
    val in = kv.repartition(3)
    assert(jobsOf { sums(in); boundedMatcher(EventMatcher.enrich(events)) } == 0)
    assert(sums(in).as[(Int, Long)].collect().sorted.toSeq == want)
  }

  test("no exchange or sort over an input clustered on the key at another partition count") {
    val clustered = kv.repartition(3, col("k")).sortWithinPartitions("k")
    assert(plannedNodes(sums(clustered)) == ((1, 1))) // the input's own
    assert(sums(clustered).as[(Int, Long)].collect().sorted.toSeq == want)
    assert(plannedNodes(sums(kv.repartition(3))) == ((2, 1)))
  }

  test("numOutputRows and numGroups: matched Enters and locations of the bounded matcher's second pass") {
    val events = fooBar
    val enriched = boundedMatcher(EventMatcher.enrich(events))
    val counted = enriched.groupBy().count()
    val rows = counted.collect().head.getLong(0)
    assert(rows == events.count())
    // pass 2 (the one that emits depth) runs once, one row per matched Enter
    val pass2 = collect(counted.queryExecution.executedPlan) {
      case g: GroupPassExec if g.output.exists(_.name == Depth) => g }
    assert(pass2.size == 1)
    assert(pass2.head.metrics("numGroups").value ==
      events.select(events.columns.filter(Set(Process, Thread)).map(col): _*).distinct().count())
    assert(pass2.head.metrics("numOutputRows").value == enriched
      .filter(col(EventType) === Enter && col(MatchingEventId).isNotNull).count())
  }

  test("a self-join of a pass's output resolves both sides") {
    val s = sums(kv)
    assert(s.as("l").join(s.as("r"), col("l.k") === col("r.k")).count() == 5)
  }
}
