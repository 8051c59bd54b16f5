package graft

import graft.scale.{Dedup, GraphOps}

/** Fixed-point PageRank: hand-computed superstep, dangling/isolated
  * nodes, determinism of integer arithmetic. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("one superstep matches hand-computed micro-unit values") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 2L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(nodes, edges, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // teleport = 150000; node 2 gets 1/1 from both 1 and 3
    assert(pr(1L) == 150000L + 85L * 1000000L / 100)
    assert(pr(2L) == 150000L + 85L * 2000000L / 100)
    assert(pr(3L) == 150000L) // no in-edges
    assert(pr(4L) == 150000L) // isolated: teleport only, still present
  }

  test("two runs produce bit-identical results (integer arithmetic)") {
    val nodes = (1L to 50L).toDF("id")
    val edges = (1L to 200L)
      .map(i => (i * 7 % 50 + 1, i * 13 % 50 + 1))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val a = GraphOps.pageRank(nodes, edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = GraphOps.pageRank(nodes, edges, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    // mass sanity: every rank >= teleport, total <= N * scale
    assert(a.forall(_._2 >= 150000L))
    assert(a.map(_._2).sum <= 50L * 1000000L)
  }

  test("triangles: planted cliques are counted per corner") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-5 +
    // separate triangle {6,7,8}; mixed direction + a duplicate edge
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (4L, 5L), (6L, 7L), (8L, 7L), (6L, 8L), (2L, 1L)))
      .toDF("src", "dst")
    val got = GraphOps.triangles(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L),
      (6L, 1L), (7L, 1L), (8L, 1L)))
  }

  test("triangles: self-loops and triangle-free graphs yield nothing") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst") // a 4-cycle has no triangle
    assert(GraphOps.triangles(edges).count() == 0)
  }

  test("kcore: chain peels away, dense core survives with its degrees") {
    // path 1-2-3-4-5 + near-clique {5,6,7,8}: the 2-core is {5,6,7,8}
    // (chain nodes cascade off over three rounds); degrees are within-core
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("src", "dst")
    val got = GraphOps.kcore(edges, k = 2, maxRounds = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((5L, 3L), (6L, 3L), (7L, 3L), (8L, 3L)))
  }

  test("kcore: round cap stops mid-cascade, deterministically") {
    // same graph, one round only: just node 1 (degree 1) is removed, so
    // node 2's now-too-low degree is NOT yet acted on — cap semantics
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L)).toDF("src", "dst")
    val got = GraphOps.kcore(edges, k = 2, maxRounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((2L, 1L), (3L, 2L), (4L, 2L), (5L, 4L),
      (6L, 3L), (7L, 3L), (8L, 3L)))
  }

  test("kcore: k above the max degree empties the graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphOps.kcore(edges, k = 3, maxRounds = 4).count() == 0)
  }

  test("kcore: size-gated local peeling == distributed rounds, including " +
      "the round cap") {
    // r12: below maxLocalEdges the driver peels locally instead of the
    // per-round snapshot/count fixpoint (pure scheduling overhead on
    // small graphs). Both paths must agree on the surviving subgraph's
    // degrees for EVERY round budget — the cap, not convergence, defines
    // the contract ("the graph after exactly N rounds").
    val rnd = new scala.util.Random(7)
    val edges = (0 until 400).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.toDF("src", "dst")
    for (mr <- Seq(0, 1, 2, 8)) {
      val local = GraphOps.kcore(edges, k = 4, maxRounds = mr).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val dist = GraphOps.kcore(edges, k = 4, maxRounds = mr,
          maxLocalEdges = 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(local == dist, s"maxRounds=$mr: " +
        s"${(local diff dist).take(5)} vs ${(dist diff local).take(5)}")
    }
  }

  test("connected components and kcore: IntegerType edges with a negative " +
      "id give the LongType input's labels on both sides of the size gate") {
    // the driver-local paths read primitive longs off internal rows; an
    // int column read that way misreads every negative id
    val pairs = Seq((-3, 1), (1, 2), (2, -3), (2, 5), (7, 8), (-9, -9))
    val asInt = pairs.toDF("a", "b")
    val asLong = pairs.map { case (x, y) => (x.toLong, y.toLong) }.toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].longValue)).toSet
    for (gate <- Seq(2000000L, 0L)) {
      val ccLong = Dedup.connectedComponents(asLong, maxLocalEdges = gate)
      val ccInt = Dedup.connectedComponents(asInt, maxLocalEdges = gate)
      assert(rows(ccInt) == rows(ccLong), s"maxLocalEdges=$gate")
      assert(rows(ccLong).contains((-3L, -3L)) && rows(ccLong).contains((-9L, -9L)))
      assert(ccInt.schema == ccLong.schema)
      def kcore(df: org.apache.spark.sql.DataFrame) =
        GraphOps.kcore(df.toDF("src", "dst"), k = 2, maxLocalEdges = gate)
      val kLong = kcore(asLong)
      val kInt = kcore(asInt)
      assert(rows(kInt) == rows(kLong), s"maxLocalEdges=$gate")
      assert(rows(kLong) == Set((-3L, 2L), (1L, 2L), (2L, 2L)))
      assert(kInt.schema == kLong.schema)
    }
  }
}
