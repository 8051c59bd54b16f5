package graft

import org.apache.spark.sql.functions._
import graft.analysis.FuzzyJoin

/** Blocked Levenshtein self-match: in-block pairs within threshold,
  * cross-block pairs never compared, viral blocks droppable by cap. */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private val block = (n: org.apache.spark.sql.Column) =>
    element_at(split(n, " "), -1)

  test("finds close pairs within a block only") {
    val df = Seq("cold widget", "bold widget", "warm widget", "cold bolt")
      .toDF("name")
    val got = FuzzyJoin.selfPairs(df, "name", block, maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sortBy(identity)
    // bold/cold distance 1; warm is 3+ from both; "cold bolt" is in
    // another block even though it is 4 edits from "cold widget"
    assert(got.toSeq == Seq(("bold widget", "cold widget", 1)))
  }

  test("distinct-value semantics: duplicate rows produce no self-pair") {
    val df = Seq("cold gear", "cold gear").toDF("name")
    assert(FuzzyJoin.selfPairs(df, "name", block, 2).count() == 0)
  }

  test("sorted-neighborhood: window pairs only, cross-window pairs absent") {
    // sorted order: apple, apply, azzzz, badge, badgy
    val df = Seq("apple", "apply", "badge", "badgy", "azzzz").toDF("name")
    val got = FuzzyJoin.sortedNeighborPairs(df, "name", window = 2, maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(identity)
    // window 2 compares adjacent ranks only: apple-apply (1) and
    // badge-badgy (1) qualify; apply-azzzz/azzzz-badge are > 2 edits, and
    // apple-badge is never compared (3 ranks apart)
    assert(got.toSeq == Seq(("apple", "apply", 1), ("badge", "badgy", 1)))
    // widening the window to 3 reaches rank distance 2 — apply-badge
    // (apply,azzzz,badge in sort order) now compared and within 5 edits —
    // while apple-badgy (rank distance 4) is still never compared
    val wide = FuzzyJoin.sortedNeighborPairs(df, "name", 3, 5).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(wide.contains(("apply", "badge")))
    assert(!wide.contains(("apple", "badgy")))
  }

  // --- lossless q-gram count-filter join (Dedup.editDistancePairs) ---

  /** Driver-side reference Levenshtein for brute-force parity. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def bruteForce(names: Seq[String], d: Int): Set[(Int, Int, Int)] =
    (for {
      i <- names.indices; j <- names.indices if i < j
      dist = lev(names(i), names(j)) if dist <= d
    } yield (i, j, dist)).toSet

  private def engine(names: Seq[String], d: Int): Set[(Int, Int, Int)] = {
    val df = names.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    graft.scale.Dedup.editDistancePairs(df, maxDist = d)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getInt(2))).toSet
  }

  test("editDistancePairs equals brute force, incl. short strings and shared-zero-gram pairs") {
    // short bucket: "a"/"b" (len < q, no grams at all), "ab"/"ba"
    // (share zero bigrams yet distance 2); long bucket: widget family;
    // cross-length pairs; empty string against 1-2 char strings
    val names = Seq("cold widget", "bold widget", "cold widgets", "warm gear",
      "a", "b", "ab", "ba", "", "ax", "cold  widget", "old widget")
    for (d <- 1 to 3)
      assert(engine(names, d) == bruteForce(names, d), s"maxDist=$d")
  }

  test("editDistancePairs is lossless on uniform-prefix names (the blocking-adversarial case)") {
    // every name shares a 9-char prefix — heuristic blocking degenerates,
    // the count filter + verification must still return the exact set
    val names = (0 until 40).map(i => f"Customer#$i%04d")
    assert(engine(names, 1) == bruteForce(names, 1))
  }

  test("editDistanceLink equals brute force across two tables, overlapping ids allowed") {
    val leftN = Seq("cold widget", "warm gear", "x", "ab", "shiny rng", "")
    val rightN = Seq("bold widget", "warm gears", "y", "ba", "shiny ring", "a")
    val left = leftN.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val right = rightN.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for (d <- 1 to 2) {
      val got = graft.scale.Dedup.editDistanceLink(left, right, maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        i <- leftN.indices; j <- rightN.indices
        dist = lev(leftN(i), rightN(j)) if dist <= d
      } yield (i.toLong, j.toLong, dist)).toSet
      assert(got == want, s"maxDist=$d")
    }
  }

  test("editDistanceIncremental == full rerun restricted to batch-touching pairs, through a parquet index round-trip") {
    // history includes duplicates, shorts, and gram-less strings; the
    // batch repeats a long and a short history string (dist-0 cross
    // pairs, and pairs of two batch strings one of which is indexed),
    // contains within-batch near-pairs, and a string whose grams are
    // all UNSEEN on day 1 (exercises the batch-df order extension)
    val histN = Seq("cold widget", "bold widget", "warm gear", "a", "ab",
      "cold widget", "shiny ring")
    val newN = Seq("cold widgets", "warm gears", "b", "ba", "cold widget",
      "zzqq xxyy", "zzqq xxyz", "ab")
    val hist = histN.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val fresh = newN.zipWithIndex.map { case (s, i) => (100L + i, s) }
      .toDF("doc_id", "text")
    for (d <- 1 to 2) {
      val (dfTab, strIdx, idMap) = graft.scale.Dedup.editDistanceIndex(
        hist, maxDist = d)
      val dir = java.nio.file.Files.createTempDirectory("edidx").toString
      dfTab.write.mode("overwrite").parquet(s"$dir/df")
      strIdx.write.mode("overwrite").parquet(s"$dir/str")
      idMap.write.mode("overwrite").parquet(s"$dir/ids")
      val gotRows = graft.scale.Dedup.editDistanceIncremental(fresh,
          spark.read.parquet(s"$dir/df"), spark.read.parquet(s"$dir/str"),
          spark.read.parquet(s"$dir/ids"), maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val got = gotRows.toSet
      assert(gotRows.length == got.size, s"duplicate pairs at maxDist=$d")
      val full = graft.scale.Dedup.editDistancePairs(
          hist.unionByName(fresh), maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        .filter(p => p._1 >= 100L || p._2 >= 100L)
      assert(got == full, s"maxDist=$d")
      // the interesting shapes genuinely landed: batch↔history near
      // pair, dist-0 repeat of a history string (both its history ids),
      // within-batch pair over day-1-unseen grams, short-bucket pair
      assert(got.contains((0L, 100L, 1)))
      assert(got.contains((0L, 104L, 0)) && got.contains((5L, 104L, 0)))
      assert(got.contains((105L, 106L, 1)))
      assert(got.contains((3L, 102L, 1))) // "a" vs "b", gram-less
      assert(got.contains((102L, 107L, 1))) // "b" vs the repeated "ab"
    }
  }

  test("editDistanceLinkIncremental == full link of the batch against the canonical table") {
    val rightN = Seq("bold widget", "warm gears", "y", "ba", "shiny ring", "a")
    val right = rightN.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val leftN = Seq("cold widget", "warm gear", "x", "ab", "shiny rng",
      "", "warm gears")
    val left = leftN.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    for (d <- 1 to 2) {
      val (dfTab, strIdx, idMap) = graft.scale.Dedup.editDistanceIndex(
        right, maxDist = d)
      val got = graft.scale.Dedup.editDistanceLinkIncremental(left,
          dfTab, strIdx, idMap, maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = graft.scale.Dedup.editDistanceLink(left, right, maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"maxDist=$d")
      assert(got.nonEmpty)
      // ids may overlap across tables; equal strings link at dist 0
      if (d >= 1) assert(got.contains((6L, 1L, 0)))
    }
  }

  test("edit-distance streaming member: foreachBatch against the frozen index accumulates the batch link") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val right = Seq((0L, "bold widget"), (1L, "warm gears"), (2L, "ba"))
      .toDF("doc_id", "text")
    val (dfTab, strIdx, idMap) =
      graft.scale.Dedup.editDistanceIndex(right, maxDist = 2)
    // freeze the index artifacts once, as a deployment would
    Seq(dfTab, strIdx, idMap).foreach(_.cache().count())
    val acc = scala.collection.mutable.Set[(Long, Long, Int)]()
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= graft.scale.Dedup.editDistanceLinkIncremental(
            batch, dfTab, strIdx, idMap, maxDist = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }.start()
    try {
      stream.addData((10L, "cold widget"), (11L, "nothing close"))
      q.processAllAvailable()
      stream.addData((12L, "warm gear"), (13L, "ab"))
      q.processAllAvailable()
    } finally q.stop()
    val want = graft.scale.Dedup.editDistanceLink(
        Seq((10L, "cold widget"), (11L, "nothing close"),
          (12L, "warm gear"), (13L, "ab")).toDF("doc_id", "text"),
        right, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(acc.toSet == want)
    assert(acc.contains((10L, 0L, 1)) && acc.contains((13L, 2L, 2)))
  }

  test("maxBlockSize drops viral blocks entirely") {
    val df = Seq("a ring", "b ring", "c ring", "x hub", "y hub").toDF("name")
    val capped = FuzzyJoin.selfPairs(df, "name", block, 2, Some(2)).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(identity)
    // the 3-name "ring" block is dropped; the 2-name "hub" block stays
    assert(capped.toSeq == Seq(("x hub", "y hub")))
  }
}
