package graft
package registry

import org.apache.spark.sql.functions._

import graft.scale.Similarity
import graft.SparkEntry.{T, embAutoCentroids, embCentroids}
import graft.registry.OracleCtes.{kmeansCte, kmeansCteAuto}

/** Graph: graph analytics over the kNN graph of the embeddings. */
object GraphCases extends Family("Graph") {

  val cases: Seq[Case] = Seq(

    // --- per-node triangle counts on the kNN graph (degree-ordered
    // orientation bounds wedge enumeration at O(m^1.5)) ---
    Case("graph_triangles", (s, dir) => {
      val edges = Similarity.knnGraph(T(s, dir, "embeddings"), 3,
          centroids = Some(embCentroids(s, dir)))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.scale.GraphOps.triangles(edges).orderBy(col("node"))
    },
      kmeansCte() +
      """, knn AS (
        |  SELECT a.vec_id, x.vec_id AS neighbor_id,
        |         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                                      CAST(ex.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign a JOIN assign x
        |    ON a.cluster = x.cluster AND a.vec_id != x.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id),
        |ranked AS (
        |  SELECT vec_id, neighbor_id FROM (
        |    SELECT vec_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY sim DESC, neighbor_id) AS rank
        |    FROM knn)
        |  WHERE rank <= 3),
        |ed AS (
        |  SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
        |         GREATEST(vec_id, neighbor_id) AS v
        |  FROM ranked WHERE vec_id != neighbor_id),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
        |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM corners GROUP BY 1 ORDER BY node""".stripMargin),

    // --- PageRank over the kNN graph: central corpus documents.
    // The edge build (not the rank loop) dominated the sf1 sweep at
    // fixed k (21x) — it rides the auto-k quantizer now ---
    Case("graph_pagerank", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (nc, cents) = embAutoCentroids(s, dir)
      val edges = Similarity.knnGraph(emb, 3, nc, centroids = Some(cents))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.scale.GraphOps.pageRank(
          emb.select(col("vec_id").as("id")), edges, 3)
        .select(col("id").as("vec_id"), col("pr_micro"))
        .orderBy(col("vec_id"))
    },
      // same knn CTE as knn_graph (rank <= 3), then 3 unrolled FIXED-POINT
      // PageRank stages (micro-units, integer division — exact in both
      // engines, no FP sum-order noise)
      kmeansCteAuto() +
      """, knn AS (
        |  SELECT a.vec_id, x.vec_id AS neighbor_id,
        |         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                                      CAST(ex.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign a JOIN assign x
        |    ON a.cluster = x.cluster AND a.vec_id != x.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id),
        |ed AS (
        |  SELECT vec_id AS src, neighbor_id AS dst FROM (
        |    SELECT vec_id, neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |    FROM knn)
        |  WHERE rank <= 3),
        |deg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1),
        |pr0 AS (SELECT vec_id AS id, CAST(1000000 AS BIGINT) AS pr
        |        FROM embeddings),
        |pr1 AS (SELECT e.id,
        |               CAST(150000 + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS pr
        |        FROM (SELECT vec_id AS id FROM embeddings) e
        |        LEFT JOIN (SELECT ed.dst AS id, SUM(p.pr // d.deg) AS sc
        |                   FROM ed JOIN pr0 p ON ed.src = p.id
        |                   JOIN deg d ON ed.src = d.src GROUP BY 1) s USING (id)),
        |pr2 AS (SELECT e.id,
        |               CAST(150000 + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS pr
        |        FROM (SELECT vec_id AS id FROM embeddings) e
        |        LEFT JOIN (SELECT ed.dst AS id, SUM(p.pr // d.deg) AS sc
        |                   FROM ed JOIN pr1 p ON ed.src = p.id
        |                   JOIN deg d ON ed.src = d.src GROUP BY 1) s USING (id)),
        |pr3 AS (SELECT e.id,
        |               CAST(150000 + (85 * COALESCE(s.sc, 0)) // 100 AS BIGINT) AS pr
        |        FROM (SELECT vec_id AS id FROM embeddings) e
        |        LEFT JOIN (SELECT ed.dst AS id, SUM(p.pr // d.deg) AS sc
        |                   FROM ed JOIN pr2 p ON ed.src = p.id
        |                   JOIN deg d ON ed.src = d.src GROUP BY 1) s USING (id))
        |SELECT id AS vec_id, pr AS pr_micro FROM pr3
        |ORDER BY vec_id""".stripMargin),

    // --- k-core of the co-purchase graph (parts sharing an order):
    // peels occasional pairings away until only the densely co-bought
    // cluster remains; k=65 cascades for several rounds at sf0.01 ---
    Case("graph_kcore", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
        .filter(col("pk") =!= col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
      graft.scale.GraphOps.kcore(edges, k = 65, maxRounds = 8)
        .orderBy(col("node"))
    },
      // peeling as a recursive CTE over the symmetric co-purchase edge
      // list — each iteration's working table is the surviving graph,
      // per-endpoint degrees come from two window counts, and the
      // iteration cap (not convergence) defines the result, so the engines
      // agree even if the fixpoint lands earlier
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS (
        |  SELECT DISTINCT LEAST(a.pk, b.pk) AS u, GREATEST(a.pk, b.pk) AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk != b.pk),
        |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |ae(iter, u, v) AS (
        |  SELECT 0, u, v FROM sym
        |  UNION ALL
        |  SELECT iter + 1, u, v FROM (
        |    SELECT iter, u, v,
        |           COUNT(*) OVER (PARTITION BY u) AS du,
        |           COUNT(*) OVER (PARTITION BY v) AS dv
        |    FROM ae)
        |  WHERE du >= 65 AND dv >= 65 AND iter < 8)
        |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
        |FROM ae WHERE iter = 8 GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
