package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.{Case, Family}

/** The registry is one list of cases: every query name keys exactly one
  * plan and one oracle, and the families partition the names. */
class RegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.cases.map(_.name)

  test("317 unique names, each with a non-empty oracle") {
    assert(names.size == 317)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    val empty = SparkEntry.cases.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty)
  }

  test("each twin's oracle is its sibling's") {
    val twins = Seq(
      "minhash_day3" -> "minhash_incremental",
      "jaccard_prefix_day3" -> "jaccard_prefix_incr",
      "fuzzy_exact_day3" -> "fuzzy_exact_incr",
      "winnow_pairs_day3" -> "winnow_pairs_incr",
      "cdc_dedup_day3" -> "cdc_dedup_incr",
      "dup_spans_removed_day3" -> "dup_spans_removed_incr",
      "image_neardup_day3" -> "image_neardup_incr",
      "stream_sample_endstate" -> "trace_sample_calls")
    for ((twin, sibling) <- twins)
      assert(SparkEntry.oracleSql(twin) == SparkEntry.oracleSql(sibling),
        s"$twin vs $sibling")
  }

  test("the families cover every name exactly once") {
    val byFamily = SparkEntry.families.flatMap(_.cases.map(_.name))
    assert(byFamily.sorted == names.sorted)
    assert(SparkEntry.families.map(_.title).distinct.size ==
      SparkEntry.families.size)
    assert(SparkEntry.families.forall(_.cases.nonEmpty))
  }

  test("the name lists of Bench, ExplainAudit and ScaleBench name registry queries") {
    val lists = Seq(
      "Bench.headline" -> Bench.headline,
      "ExplainAudit.defaultQueries" -> graft.examples.ExplainAudit.defaultQueries,
      "ScaleBench.outputBoundAtSf1" ->
        graft.demo.ScaleBench.outputBoundAtSf1.toSeq)
    for ((list, qs) <- lists) {
      assert(qs.nonEmpty, list)
      val unknown = qs.filterNot(SparkEntry.queries.contains)
      assert(unknown.isEmpty, s"$list names no query: $unknown")
    }
  }

  test("concatenating families rejects a duplicate name") {
    def family(title: String, name: String): Family = new Family(title) {
      val cases = Seq(Case(name, (s, _) => s.emptyDataFrame, "SELECT 1"))
    }
    val e = intercept[IllegalArgumentException](
      Case.concat(Seq(family("a", "q"), family("b", "r"), family("c", "q"))))
    assert(e.getMessage.contains("q"))
    assert(Case.concat(Seq(family("a", "q"), family("b", "r"))).size == 2)
  }
}
