package graft
package registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.scale.{Similarity, TextOps}
import graft.SparkEntry.{T, bm25Scores5, embAutoCentroids, embCentroids,
  embCodebooks, embSq8, ivfIndexPath}
import graft.registry.OracleCtes.{kmeansCte, kmeansCteAuto}

/** Similarity / embeddings: k-means, IVF, PQ, SQ8 and exact nearest-
  * neighbour search over the embeddings table. */
object SimilarityCases extends Family("Similarity / embeddings") {

  val cases: Seq[Case] = Seq(

    Case("pq_codes", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.pqEncode(emb, embCodebooks(s, dir)).orderBy(col("vec_id"))
    },
      pqCte() +
      "SELECT vec_id, code0, code1, code2, code3 FROM codes ORDER BY vec_id"),

    Case("ann_pq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cbs = embCodebooks(s, dir)
      Similarity.pqTopK(Similarity.pqEncode(emb, cbs),
        emb.filter(col("vec_id") < 10), cbs)
        .orderBy(col("query_id"), col("rank"))
    }, {
      val m = 4; val sub = 16
      val terms = (0 until m).map { s =>
        val sl = s"q.qv[${s * sub + 1}:${(s + 1) * sub}]"
        s"(list_inner_product($sl, $sl) + list_inner_product(b$s.v, b$s.v)" +
          s" - 2 * list_inner_product($sl, b$s.v))"
      }.mkString(" + ")
      val cbJoins = (0 until m).map(s => s"JOIN s${s}c3 b$s ON b$s.j = c.code$s")
        .mkString(" ")
      pqCte() +
        s""", q AS (SELECT vec_id AS query_id, fv AS qv FROM e WHERE vec_id < 10),
           |d AS (
           |  SELECT q.query_id, c.vec_id AS neighbor_id,
           |         ROUND($terms, 4) AS approx_dist
           |  FROM codes c CROSS JOIN q $cbJoins
           |  WHERE q.query_id <> c.vec_id)
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, approx_dist FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY approx_dist, neighbor_id) AS rn FROM d)
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // --- PQ recall audit: brute-force top-5 ∩ PQ top-5, integer hits ---
    Case("ann_pq_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val cbs = embCodebooks(s, dir)
      val bf = Similarity.bruteForceTopK(emb, q, 5)
      val pq = Similarity.pqTopK(Similarity.pqEncode(emb, cbs), q, cbs)
      val hits = bf.join(pq.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("query_id"))
    }, {
      val m = 4; val sub = 16
      val terms = (0 until m).map { s =>
        val sl = s"q.qv[${s * sub + 1}:${(s + 1) * sub}]"
        s"(list_inner_product($sl, $sl) + list_inner_product(b$s.v, b$s.v)" +
          s" - 2 * list_inner_product($sl, b$s.v))"
      }.mkString(" + ")
      val cbJoins = (0 until m).map(s => s"JOIN s${s}c3 b$s ON b$s.j = c.code$s")
        .mkString(" ")
      pqCte() +
        s""", q AS (SELECT vec_id AS query_id, fv AS qv FROM e WHERE vec_id < 10),
           |pq AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.query_id, c.vec_id AS neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY q.query_id
           |             ORDER BY ROUND($terms, 4), c.vec_id) AS rn
           |    FROM codes c CROSS JOIN q $cbJoins
           |    WHERE q.query_id <> c.vec_id)
           |  WHERE rn <= 5),
           |bf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY qq.vec_id
           |             ORDER BY list_cosine_similarity(CAST(qq.embedding AS DOUBLE[]),
           |                                             CAST(cc.embedding AS DOUBLE[])) DESC,
           |                      cc.vec_id) AS rn
           |    FROM embeddings qq JOIN embeddings cc ON qq.vec_id != cc.vec_id
           |    WHERE qq.vec_id < 10)
           |  WHERE rn <= 5),
           |hits AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           |         FROM bf JOIN pq USING (query_id, neighbor_id) GROUP BY 1)
           |SELECT em.vec_id AS query_id,
           |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
           |FROM embeddings em LEFT JOIN hits h ON h.query_id = em.vec_id
           |WHERE em.vec_id < 10 ORDER BY query_id""".stripMargin
    }),

    Case("ann_ivfpq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
          coarseCentroids = Some(embCentroids(s, dir)),
          codebooks = Some(embCodebooks(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }, {
      val m = 4; val sub = 16
      val terms = (0 until m).map { s =>
        val sl = s"q.qv[${s * sub + 1}:${(s + 1) * sub}]"
        s"(list_inner_product($sl, $sl) + list_inner_product(b$s.v, b$s.v)" +
          s" - 2 * list_inner_product($sl, b$s.v))"
      }.mkString(" + ")
      val cbJoins = (0 until m).map(s => s"JOIN s${s}c3 b$s ON b$s.j = c.code$s")
        .mkString(" ")
      pqCte() + coarseCte() +
        s""", q AS (SELECT vec_id AS query_id, fv AS qv FROM e WHERE vec_id < 10),
           |qprobe AS (SELECT query_id, j AS cluster FROM (
           |  SELECT q.query_id, c.j, ROW_NUMBER() OVER (PARTITION BY q.query_id
           |    ORDER BY list_distance(q.qv, c.v), c.j) AS rn
           |  FROM q CROSS JOIN gc5 c) WHERE rn <= 2),
           |d AS (
           |  SELECT p.query_id, c.vec_id AS neighbor_id,
           |         ROUND($terms, 4) AS approx_dist
           |  FROM codes c JOIN gassign ga ON ga.vec_id = c.vec_id
           |  JOIN qprobe p ON p.cluster = ga.cluster
           |  JOIN q ON q.query_id = p.query_id
           |  $cbJoins
           |  WHERE q.query_id <> c.vec_id)
           |SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, approx_dist FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY approx_dist, neighbor_id) AS rn FROM d)
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    // --- per-cluster embedding outliers: farthest-from-centroid docs,
    // the OOD/garbage review queue of embedding-based curation ---
    Case("emb_outliers", (s, dir) =>
      Similarity.clusterOutliers(T(s, dir, "embeddings"),
          embCentroids(s, dir))
        .orderBy(col("cluster"), col("rank")),
      // distance by the ann_topk_l2 dots convention (NOT list_distance's
      // sqrt path) so the 4dp round sees the same double as the engine
      kmeansCte() +
      """SELECT cluster, rank, vec_id, dist_sq FROM (
        |  SELECT a.cluster, a.vec_id,
        |         ROUND(list_inner_product(e.v, e.v)
        |               + list_inner_product(c.v, c.v)
        |               - 2 * list_inner_product(e.v, c.v), 4) AS dist_sq,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY a.cluster
        |           ORDER BY ROUND(list_inner_product(e.v, e.v)
        |                    + list_inner_product(c.v, c.v)
        |                    - 2 * list_inner_product(e.v, c.v), 4) DESC,
        |                    a.vec_id) AS INT) AS rank
        |  FROM assign a JOIN e ON e.vec_id = a.vec_id
        |       JOIN c5 c ON c.j = a.cluster)
        |WHERE rank <= 3 ORDER BY cluster, rank""".stripMargin),

    // --- similarity search ---
    Case("ann_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(c.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- SQ8 scalar quantization: per-dim [min,max] fit (cached like
    // the k-means/PQ models), codes packed by a codegen'd loop — the
    // exploded (vec,dim,code) form is presentation-only ---
    Case("sq8_codes", (s, dir) => {
      val (mn, mx) = embSq8(s, dir)
      Similarity.sq8Codes(T(s, dir, "embeddings"), mn, mx)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("d", "code")))
        .select(col("vec_id"), (col("d") + 1).as("dim"), col("code"))
        .orderBy(col("vec_id"), col("dim"))
    },
      // the engine packs codes in a codegen'd loop; DuckDB re-derives
      // them per (vec, dim). Identical IEEE double expression + LEAST
      // clamp → identical codes; distances are pure integers.
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT e.vec_id, CAST(g.generate_series AS INT) AS dim,
        |              e.v[g.generate_series] AS x
        |       FROM e, generate_series(1, 64) g),
        |st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ev GROUP BY 1)
        |SELECT ev.vec_id, ev.dim,
        |       CAST(CASE WHEN st.mx = st.mn THEN 0
        |            ELSE LEAST(FLOOR((ev.x - st.mn) * 255.0 / (st.mx - st.mn)), 255.0)
        |            END AS INT) AS code
        |FROM ev JOIN st USING (dim)
        |ORDER BY vec_id, dim""".stripMargin),

    // --- symmetric SQ8 search: integer code-space distance, so the
    // ranking is engine-exact (no float-summation-order flake) ---
    Case("ann_sq8", (s, dir) => {
      val (mn, mx) = embSq8(s, dir)
      val emb = T(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), 5, mn, mx)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT e.vec_id, CAST(g.generate_series AS INT) AS dim,
        |              e.v[g.generate_series] AS x
        |       FROM e, generate_series(1, 64) g),
        |st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ev GROUP BY 1),
        |codes AS (
        |  SELECT ev.vec_id, ev.dim,
        |         CAST(CASE WHEN st.mx = st.mn THEN 0
        |              ELSE LEAST(FLOOR((ev.x - st.mn) * 255.0 / (st.mx - st.mn)), 255.0)
        |              END AS INT) AS code
        |  FROM ev JOIN st USING (dim)),
        |qd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         SUM(CAST((q.code - c.code) * (q.code - c.code) AS BIGINT)) AS dist2
        |  FROM codes q JOIN codes c ON q.dim = c.dim AND q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10 GROUP BY 1, 2)
        |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
        |       CAST(dist2 AS BIGINT) AS dist2 FROM (
        |  SELECT query_id, neighbor_id, dist2,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY dist2, neighbor_id) AS rank
        |  FROM qd)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- filtered vector search: top-k under a metadata predicate,
    // pushed BEFORE the distance scan (filter-then-search, so selective
    // predicates shrink the scan instead of post-filtering the top-k
    // short — the difference between 5 results and 2 at high
    // selectivity) ---
    Case("ann_filtered", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("label") === 2),
          emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(c.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10 AND c.label = 2)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- Euclidean (squared-distance) top-k, metric twin of ann_topk ---
    Case("ann_topk_l2", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.l2TopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT query_id, rank, neighbor_id, dist_sq FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_inner_product(CAST(q.embedding AS DOUBLE[]),
        |                                  CAST(q.embedding AS DOUBLE[]))
        |               + list_inner_product(CAST(c.embedding AS DOUBLE[]),
        |                                    CAST(c.embedding AS DOUBLE[]))
        |               - 2 * list_inner_product(CAST(q.embedding AS DOUBLE[]),
        |                                        CAST(c.embedding AS DOUBLE[])),
        |               4) AS dist_sq,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY ROUND(list_inner_product(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(q.embedding AS DOUBLE[]))
        |                    + list_inner_product(CAST(c.embedding AS DOUBLE[]),
        |                                         CAST(c.embedding AS DOUBLE[]))
        |                    - 2 * list_inner_product(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])), 4),
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- JL random projection 64 -> 16 dims (long form) ---
    Case("rp_reduce", (s, dir) =>
      Similarity.randomProject(T(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("d", "v")))
        .orderBy(col("vec_id"), col("d")),
      """WITH planes AS (
        |  SELECT p.generate_series AS p, d.generate_series AS d,
        |         CAST(CAST('0x' || substring(md5(p.generate_series || ':' || d.generate_series), 1, 15) AS BIGINT)
        |              AS DOUBLE) / 576460752303423488 - 1.0 AS v
        |  FROM generate_series(0, 15) p, generate_series(0, 63) d)
        |SELECT e.vec_id, CAST(pl.p AS INT) AS d,
        |       ROUND(SUM(e.embedding[pl.d + 1] * pl.v), 4) AS v
        |FROM embeddings e, planes pl
        |GROUP BY e.vec_id, pl.p ORDER BY e.vec_id, pl.p""".stripMargin),

    // --- binary quantization: sign-bit pack + Hamming first pass ---
    Case("ann_hamming", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 5))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH u AS (
        |  SELECT vec_id, unnest(embedding) AS e,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |words AS (
        |  SELECT vec_id, (i-1)//32 AS w,
        |         CAST(SUM(CASE WHEN e > 0 THEN 1::BIGINT << ((i-1) % 32)
        |                       ELSE 0 END) AS BIGINT) AS word
        |  FROM u GROUP BY 1, 2),
        |ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(SUM(bit_count(xor(q.word, c.word))) AS INT) AS hamming
        |  FROM words q JOIN words c ON q.w = c.w AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5 GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id, hamming FROM (
        |  SELECT query_id, neighbor_id, hamming,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY hamming, neighbor_id) AS INT) AS rank
        |  FROM ham)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- two-stage: Hamming candidates -> exact-cosine rerank ---
    Case("ann_hamming_rerank", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hammingRerank(emb, emb.filter(col("vec_id") < 5))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH u AS (
        |  SELECT vec_id, unnest(embedding) AS e,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |words AS (
        |  SELECT vec_id, (i-1)//32 AS w,
        |         CAST(SUM(CASE WHEN e > 0 THEN 1::BIGINT << ((i-1) % 32)
        |                       ELSE 0 END) AS BIGINT) AS word
        |  FROM u GROUP BY 1, 2),
        |ham AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         SUM(bit_count(xor(q.word, c.word))) AS hamming
        |  FROM words q JOIN words c ON q.w = c.w AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5 GROUP BY 1, 2),
        |cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY hamming, neighbor_id) AS rank
        |    FROM ham) WHERE rank <= 20),
        |scored AS (
        |  SELECT ca.query_id, ca.neighbor_id,
        |         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])), 4) AS sim
        |  FROM cand ca
        |  JOIN embeddings q ON q.vec_id = ca.query_id
        |  JOIN embeddings c ON c.vec_id = ca.neighbor_id)
        |SELECT query_id, rank, neighbor_id, sim FROM (
        |  SELECT query_id, neighbor_id, sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Case("ann_ivf", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(c.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id != c.vec_id AND q.label = c.label
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Case("emb_neardup", (s, dir) =>
      Similarity.cosinePairs(T(s, dir, "embeddings"), 0.3)
        .orderBy(col("a"), col("b")),
      """SELECT a, b, sim FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         ROUND(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                                      CAST(y.embedding AS DOUBLE[])), 4) AS sim
        |  FROM embeddings x JOIN embeddings y
        |    ON x.label = y.label AND x.vec_id < y.vec_id)
        |WHERE sim >= 0.3 ORDER BY a, b""".stripMargin),

    Case("kmeans_assign", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.kmeansAssign(emb, embCentroids(s, dir))
        .orderBy(col("vec_id"))
    },
      kmeansCte() +
      "SELECT vec_id, cluster FROM assign ORDER BY vec_id"),

    Case("ann_ivf_learned", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansCte() +
      """SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                CAST(xe.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                           CAST(xe.embedding AS DOUBLE[])) DESC,
        |                    x.vec_id) AS INT) AS rank
        |  FROM assign q JOIN assign x
        |    ON q.cluster = x.cluster AND q.vec_id != x.vec_id
        |  JOIN embeddings qe ON qe.vec_id = q.vec_id
        |  JOIN embeddings xe ON xe.vec_id = x.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Case("ann_ivf_probe2", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5, nprobe = 2,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    },
      kmeansCte() +
      """, qprobe AS (
        |  SELECT vec_id, j AS cluster FROM (
        |    SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
        |    FROM e CROSS JOIN c5 c WHERE e.vec_id < 10) WHERE rn <= 2)
        |SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                CAST(xe.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                           CAST(xe.embedding AS DOUBLE[])) DESC,
        |                    x.vec_id) AS INT) AS rank
        |  FROM qprobe q JOIN assign x
        |    ON q.cluster = x.cluster AND q.vec_id != x.vec_id
        |  JOIN embeddings qe ON qe.vec_id = q.vec_id
        |  JOIN embeddings xe ON xe.vec_id = x.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- IVF as a DISK layout: partition-pruned inverted-list search ---
    Case("ann_ivf_disk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.searchIvfIndex(s, ivfIndexPath(s, dir),
          emb.filter(col("vec_id") < 10), embCentroids(s, dir), 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // ann_ivf_disk is the SAME search over the on-disk layout — one
      // oracle, two execution paths (in-memory vs partition-pruned scan)
      kmeansCte() +
      """, qprobe AS (
        |  SELECT vec_id, j AS cluster FROM (
        |    SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
        |    FROM e CROSS JOIN c5 c WHERE e.vec_id < 10) WHERE rn <= 2)
        |SELECT query_id, rank, neighbor_id, ROUND(sim, 4) AS sim FROM (
        |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                CAST(xe.embedding AS DOUBLE[])) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                           CAST(xe.embedding AS DOUBLE[])) DESC,
        |                    x.vec_id) AS INT) AS rank
        |  FROM qprobe q JOIN assign x
        |    ON q.cluster = x.cluster AND q.vec_id != x.vec_id
        |  JOIN embeddings qe ON qe.vec_id = q.vec_id
        |  JOIN embeddings xe ON xe.vec_id = x.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- corpus-wide kNN graph (cluster-restricted self-join) ---
    Case("knn_graph", (s, dir) =>
      Similarity.knnGraph(T(s, dir, "embeddings"), 3,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("vec_id"), col("rank")),
      kmeansCte() + knnGraphTailSql),

    // --- kNN graph under the auto-k + sampled-fit policy (the measured
    // linearity dial: fixed k=8 was 54 s at the 10x tiling, k grown
    // with n was 8.4 s for the same output) ---
    Case("knn_graph_auto", (s, dir) => {
      val (nc, cents) = embAutoCentroids(s, dir)
      Similarity.knnGraph(T(s, dir, "embeddings"), 3, nc,
          centroids = Some(cents))
        .orderBy(col("vec_id"), col("rank"))
    },
      kmeansCteAuto() + knnGraphTailSql),

    // --- NN-descent recall audit: the cluster-restricted kNN graph vs
    // one NN-descent round (deterministic random bridges + the local
    // neighbor-of-neighbor join), both scored against brute-force truth
    // over a fixed-size node sample. The cluster graph's 2-hop closure can
    // never leave a cluster, so this measures exactly what the bridges
    // + local join buy back of the IVF restriction's lost recall —
    // candidate sets stay keyed and degree-bounded, never all-pairs ---
    Case("knn_graph_nnd", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      // fixed-SIZE query sample (~500 queries at ANY corpus size): the
      // audit's brute-force ground truth is inherently quadratic in the
      // sample, so the sample must not grow with the corpus — vec_ids
      // are dense, so a count-derived modulus is a uniform draw the
      // oracle recomputes exactly
      val mod = math.max(1L, emb.count() / 500)
      val sample = emb.filter(col("vec_id") % mod === 0)
      // ground truth via the map-side-bounded heap aggregate in micro
      // ints — k rows per (query, partition) cross the exchange, never
      // the sample x corpus pair table through a window sort.
      // fanOutMinBytes = 0: unlike the k-query ann_* audits (whose tiny
      // query sets made the corpus fan-out pure exchange tax, r12), this
      // audit scans ~500 broadcast queries per corpus row — ~500 dots
      // ≫ one row's exchange cost at ANY corpus size, so an
      // under-partitioned scan should always spread (measured: a single
      // 1.5 s one-task stage at sf0.1 with the byte gate on)
      val bf = Similarity.bruteForceTopKMicro(emb, sample, 3,
          fanOutMinBytes = 0L)
        .select(col("query_id"), col("neighbor_id"))
      // auto-k quantizer by default: the fixed-k fit was the 36x
      // sf0.1→sf1 row (denser clusters ⇒ ~quadratic within-cluster
      // candidates); k = ceil(n/64) keeps the edge build linear
      val (nc, cents) = embAutoCentroids(s, dir)
      def scored(nm: String, g: org.apache.spark.sql.DataFrame) =
        bf.join(g.select(col("vec_id").as("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "leftsemi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(nm).as("method"), col("hits"))
      // checkpoint the bounded (3 edges/node) cluster graph: it is
      // consumed twice (its own recall score + the NN-descent seed) and
      // would otherwise replay the Σ|c|² self-join per consumer
      val base = Similarity.knnGraph(emb, 3, nc, centroids = Some(cents))
        .localCheckpoint()
      val nnd = Similarity.knnGraphDescent(emb, 3, rounds = 1, nc,
        centroids = Some(cents), base = Some(base))
      scored("ivf", base).unionByName(scored("nnd1", nnd))
        .crossJoin(sample.select((count(lit(1)) * 3).as("possible")))
        .select(col("method"), col("hits"), col("possible"),
          expr("hits * 1000000 div possible").as("recall_micro"))
        .orderBy(col("method"))
    },
      // the full NN-descent round replicated relationally: cluster-kNN ∪
      // deterministic random bridges -> reverse cap -> 2-hop closure ->
      // re-score -> top-3; recall of both graphs vs brute force over the
      // fixed-size (count-derived modulus) sample, in integer micro-units
      kmeansCteAuto() +
      """, sm AS (SELECT GREATEST(1, COUNT(*) // 500) AS m FROM embeddings),
        |knn0 AS (
        |  SELECT a.vec_id AS v, x.vec_id AS u,
        |         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                                      CAST(ex.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign a JOIN assign x
        |    ON a.cluster = x.cluster AND a.vec_id != x.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id),
        |ivf AS (SELECT v, u, sim FROM (
        |  SELECT v, u, sim,
        |         ROW_NUMBER() OVER (PARTITION BY v ORDER BY sim DESC, u) AS rank
        |  FROM knn0) WHERE rank <= 3),
        |idx AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS idx
        |        FROM embeddings),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings),
        |rnd AS (
        |  SELECT i.vec_id AS v, t.vec_id AS u
        |  FROM idx i CROSS JOIN nn JOIN generate_series(0, 2) j(j) ON TRUE
        |  JOIN idx t ON t.idx = (i.idx * 2654435761 + j.j * 40503) % nn.n
        |  WHERE t.idx != i.idx),
        |rsc AS (
        |  SELECT r.v, r.u,
        |         ROUND(list_cosine_similarity(CAST(ev.embedding AS DOUBLE[]),
        |                                      CAST(eu.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM rnd r JOIN embeddings ev ON ev.vec_id = r.v
        |             JOIN embeddings eu ON eu.vec_id = r.u),
        |g0 AS (SELECT v, u, sim FROM ivf UNION SELECT v, u, sim FROM rsc),
        |rev AS (SELECT u AS v, v AS u FROM (
        |  SELECT v, u,
        |         ROW_NUMBER() OVER (PARTITION BY u ORDER BY sim DESC, v) AS r
        |  FROM g0) WHERE r <= 3),
        |und AS (SELECT v, u FROM g0 UNION SELECT v, u FROM rev),
        |hop2 AS (SELECT a.v, b.u FROM und a JOIN und b ON a.u = b.v),
        |cand AS (SELECT v, u FROM (
        |  SELECT v, u FROM und UNION SELECT v, u FROM hop2) WHERE v != u),
        |sc AS (
        |  SELECT c.v, c.u,
        |         ROUND(list_cosine_similarity(CAST(ev.embedding AS DOUBLE[]),
        |                                      CAST(eu.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM cand c JOIN embeddings ev ON ev.vec_id = c.v
        |              JOIN embeddings eu ON eu.vec_id = c.u),
        |nnd AS (SELECT v, u FROM (
        |  SELECT v, u,
        |         ROW_NUMBER() OVER (PARTITION BY v ORDER BY sim DESC, u) AS rank
        |  FROM sc) WHERE rank <= 3),
        |xm AS (SELECT vec_id, CAST(i AS INT) AS i,
        |         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |           AS v
        |       FROM (SELECT vec_id, embedding,
        |               UNNEST(generate_series(1, len(embedding))) AS i
        |             FROM embeddings)),
        |nm AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS n2
        |       FROM xm GROUP BY 1),
        |bfd AS (SELECT xa.vec_id AS query_id, xb.vec_id AS neighbor_id,
        |          CAST(SUM(xa.v * xb.v) AS BIGINT) AS dot
        |        FROM xm xa JOIN xm xb
        |          ON xb.i = xa.i AND xb.vec_id != xa.vec_id
        |        WHERE xa.vec_id % (SELECT m FROM sm) = 0 GROUP BY 1, 2),
        |bfs AS (SELECT d.query_id, d.neighbor_id,
        |          CASE WHEN nq.n2 = 0 OR nc.n2 = 0 THEN CAST(0 AS BIGINT)
        |               ELSE CAST(FLOOR(CAST(d.dot AS DOUBLE) * 1000000 /
        |                    SQRT(CAST(nq.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
        |                 AS BIGINT) END AS s
        |        FROM bfd d JOIN nm nq ON nq.vec_id = d.query_id
        |             JOIN nm nc ON nc.vec_id = d.neighbor_id),
        |bf AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY s DESC, neighbor_id) AS rank
        |  FROM bfs) WHERE rank <= 3),
        |ns AS (SELECT COUNT(*) * 3 AS possible FROM embeddings
        |       WHERE vec_id % (SELECT m FROM sm) = 0),
        |hi AS (SELECT COUNT(*) AS hits FROM bf
        |       JOIN ivf ON bf.query_id = ivf.v AND bf.neighbor_id = ivf.u),
        |hn AS (SELECT COUNT(*) AS hits FROM bf
        |       JOIN nnd ON bf.query_id = nnd.v AND bf.neighbor_id = nnd.u)
        |SELECT 'ivf' AS method, CAST(hi.hits AS BIGINT) AS hits,
        |       CAST(ns.possible AS BIGINT) AS possible,
        |       CAST(hi.hits * 1000000 // ns.possible AS BIGINT) AS recall_micro
        |FROM hi, ns
        |UNION ALL
        |SELECT 'nnd1', CAST(hn.hits AS BIGINT), CAST(ns.possible AS BIGINT),
        |       CAST(hn.hits * 1000000 // ns.possible AS BIGINT) FROM hn, ns
        |ORDER BY method""".stripMargin),

    // --- per-cluster embedding drift between the even/odd halves ---
    Case("emb_drift", (s, dir) =>
      Similarity.clusterDrift(T(s, dir, "embeddings"), embCentroids(s, dir))
        .orderBy(col("cluster"), col("d")),
      kmeansCte() +
      """, u AS (
        |  SELECT a.vec_id, a.cluster,
        |         CAST(generate_subscripts(e.embedding, 1) - 1 AS INT) AS d,
        |         unnest(e.embedding) AS v
        |  FROM assign a JOIN embeddings e USING (vec_id)),
        |g AS (
        |  SELECT cluster, d, CAST(vec_id % 2 AS INT) AS half,
        |         SUM(CAST(ROUND(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS s,
        |         COUNT(*) AS n
        |  FROM u GROUP BY 1, 2, 3)
        |SELECT a.cluster, a.d,
        |       CAST((a.s * 100) // a.n AS BIGINT) AS mean_a_micro,
        |       CAST((b.s * 100) // b.n AS BIGINT) AS mean_b_micro,
        |       CAST((a.s * 100) // a.n - (b.s * 100) // b.n AS BIGINT)
        |         AS shift_micro
        |FROM (SELECT * FROM g WHERE half = 0) a
        |JOIN (SELECT * FROM g WHERE half = 1) b USING (cluster, d)
        |ORDER BY cluster, d""".stripMargin),

    // --- IVF recall@5 against the exact brute-force neighbors ---
    Case("ann_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(emb, q, 5)
      val ivf = Similarity.ivfTopK(emb, q, 5,
        centroids = Some(embCentroids(s, dir)))
      val hits = bf.join(
          ivf.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("c"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          round(coalesce(col("c"), lit(0L)) / 5.0, 4).as("recall_at_5"))
        .orderBy(col("query_id"))
    },
      kmeansCte() +
      """, bf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])) DESC,
        |                      c.vec_id) AS INT) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 5),
        |ivf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |                                             CAST(xe.embedding AS DOUBLE[])) DESC,
        |                      x.vec_id) AS INT) AS rank
        |    FROM assign q JOIN assign x
        |      ON q.cluster = x.cluster AND q.vec_id != x.vec_id
        |    JOIN embeddings qe ON qe.vec_id = q.vec_id
        |    JOIN embeddings xe ON xe.vec_id = x.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT query_id, COUNT(*) AS c
        |  FROM bf JOIN ivf USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.vec_id AS query_id,
        |       ROUND(COALESCE(h.c, 0) / 5.0, 4) AS recall_at_5
        |FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
        |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin),

    // --- the SQL surface: native vec_cosine via registered function ---
    Case("ann_topk_sql", (s, dir) => {
      graft.functions.GraftSql.register(s)
      T(s, dir, "embeddings").createOrReplaceTempView("emb_sql")
      s.sql("""
        SELECT query_id, rank, neighbor_id, sim FROM (
          SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id,
                 c.vec_id AS neighbor_id,
                 ROUND(vec_cosine(q.embedding, c.embedding), 4) AS sim,
                 CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY vec_cosine(q.embedding, c.embedding) DESC,
                            c.vec_id) AS INT) AS rank
          FROM emb_sql c JOIN emb_sql q
            ON q.vec_id < 5 AND q.vec_id != c.vec_id)
        WHERE rank <= 3 ORDER BY query_id, rank""")
    },
      """SELECT query_id, rank, neighbor_id, sim FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(c.embedding AS DOUBLE[])), 4) AS sim,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // --- lexical-vs-dense retrieval agreement: top-d intersections for
    // d = 1..5 with integer RBO weights (p=0.9 powers × LCM(1..5) in
    // micro-units — FP-free rank-biased overlap) ---
    Case("retrieval_overlap", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val bm = TextOps.bm25TopK(docs, docs.filter(col("doc_id") < 5), 5,
          scores = Some(bm25Scores5(s, dir)))
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val cs = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 5)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      TextOps.rankOverlap(bm, cs, 5)
        .withColumn("rbo_contrib",
          expr("element_at(array(60000000L, 27000000L, 16200000L, " +
            "10935000L, 7873200L), d) * n_overlap"))
        .select(col("query_id"), col("d"), col("n_overlap"),
          col("rbo_contrib"))
        .orderBy(col("query_id"), col("d"))
    },
      // same BM25 + cosine ranking CTEs as hybrid_topk, truncated at 5,
      // then per-depth intersection counts with integer RBO weights
      """WITH tk AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), ' +')) AS dl,
        |         unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
        |       FROM tk GROUP BY 1, 2),
        |st AS (SELECT COUNT(*) AS n,
        |              AVG(len(regexp_split_to_array(trim(text), ' +'))) AS avgdl
        |       FROM documents),
        |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tk WHERE doc_id < 5),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf
        |        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |sc AS (
        |  SELECT q.query_id, f.doc_id,
        |         ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |                   * (f.tf * 2.2)
        |                   / (f.tf + 1.2 * (1 - 0.75 + 0.75 * f.dl / s.avgdl))),
        |               4) AS score
        |  FROM tf f JOIN qt q USING (term) JOIN dfq d USING (term) CROSS JOIN st s
        |  WHERE f.doc_id != q.query_id
        |  GROUP BY 1, 2),
        |bmr AS (
        |  SELECT query_id, doc_id AS id, rank FROM (
        |    SELECT query_id, doc_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |             ORDER BY score DESC, doc_id) AS INT) AS rank
        |    FROM sc)
        |  WHERE rank <= 5),
        |bfr AS (
        |  SELECT query_id, neighbor_id AS id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])) DESC,
        |                      c.vec_id) AS INT) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 5)
        |  WHERE rank <= 5),
        |m AS (SELECT b.query_id, b.id, b.rank AS ra, c.rank AS rb
        |      FROM bmr b JOIN bfr c USING (query_id, id)),
        |g AS (SELECT query_id, UNNEST(generate_series(1, 5)) AS d
        |      FROM (SELECT DISTINCT query_id FROM bmr)),
        |x2 AS (SELECT query_id,
        |              UNNEST(generate_series(GREATEST(ra, rb), 5)) AS d
        |       FROM m),
        |o AS (SELECT query_id, d, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |      FROM x2 GROUP BY 1, 2)
        |SELECT g.query_id, CAST(g.d AS INT) AS d,
        |       COALESCE(o.n_overlap, 0) AS n_overlap,
        |       CAST([60000000, 27000000, 16200000, 10935000, 7873200][g.d]
        |            * COALESCE(o.n_overlap, 0) AS BIGINT) AS rbo_contrib
        |FROM g LEFT JOIN o ON g.query_id = o.query_id AND g.d = o.d
        |ORDER BY 1, 2""".stripMargin),

    // --- d×d scatter (Gram) matrix of the embedding corpus in exact
    // micro-unit integers: per-partition triangle accumulation, shuffle
    // only #partitions × d(d+1)/2 partials ---
    Case("emb_gram", (s, dir) =>
      graft.scale.LinAlg.gramMicro(T(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j")),
      """WITH e AS (SELECT vec_id, embedding,
        |                  UNNEST(generate_series(1, len(embedding))) AS i
        |           FROM embeddings),
        |x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                  AS BIGINT) AS v
        |      FROM e)
        |SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS s
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- centered covariance numerator n·S_ij − s_i·s_j, exact
    // BIGINTs over micro-scaled values (the PCA input, reproducible
    // bit-for-bit under any reduction order) ---
    Case("emb_cov", (s, dir) =>
      graft.scale.LinAlg.covNumMicro(T(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j")),
      """WITH e AS (SELECT vec_id, embedding,
        |                  UNNEST(generate_series(1, len(embedding))) AS i
        |           FROM embeddings),
        |x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                  AS BIGINT) AS v
        |      FROM e),
        |s AS (SELECT i, CAST(SUM(v) AS BIGINT) AS si,
        |             CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY 1),
        |g AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS sg
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |      GROUP BY 1, 2)
        |SELECT g.i, g.j, si.n * g.sg - si.si * sj.si AS cov_num
        |FROM g JOIN s si ON g.i = si.i JOIN s sj ON g.j = sj.i
        |ORDER BY g.i, g.j""".stripMargin),

    // --- kNN classification: majority label among the 5 cosine
    // neighbors from the labeled corpus, ties by smaller label —
    // the eval-harness workload on the same ANN machinery ---
    Case("knn_classify", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val test = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val nn = Similarity.bruteForceTopK(corpus, test, 5,
          excludeSelf = false)
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), Seq("neighbor_id"))
      val votes = nn.groupBy(col("query_id"), col("n_label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("n_label"))
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .select(col("query_id"), col("true_label"),
          col("n_label").as("pred_label"), col("votes"))
        .orderBy(col("query_id"))
    },
      """WITH nn AS (
        |  SELECT query_id, n_label FROM (
        |    SELECT q.vec_id AS query_id, c.label AS n_label,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])) DESC,
        |                      c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON c.vec_id >= 20
        |    WHERE q.vec_id < 20)
        |  WHERE rank <= 5),
        |v AS (SELECT query_id, n_label, CAST(COUNT(*) AS BIGINT) AS votes
        |      FROM nn GROUP BY 1, 2),
        |p AS (SELECT query_id, n_label, votes,
        |             ROW_NUMBER() OVER (PARTITION BY query_id
        |               ORDER BY votes DESC, n_label) AS rn
        |      FROM v)
        |SELECT p.query_id, e.label AS true_label, p.n_label AS pred_label,
        |       p.votes
        |FROM p JOIN embeddings e ON e.vec_id = p.query_id
        |WHERE p.rn = 1 ORDER BY p.query_id""".stripMargin),

    // --- exact maximum-inner-product top-k (the MIPS objective) ---
    Case("ann_mips", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT query_id, rank, neighbor_id, ROUND(ip, 4) AS ip FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                          CAST(c.embedding AS DOUBLE[])) AS ip,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |                                     CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id) AS INT) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- matryoshka-style truncation audit: recall@5 of cosine ranking
    // on the first 16 of 64 dims vs the full-dimension neighbors — the
    // "can we serve at quarter cost" measurement, same integer-hits
    // shape as ann_pq_recall ---
    Case("ann_trunc_recall", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val trunc = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val bf = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      val tr = Similarity.bruteForceTopK(trunc,
        trunc.filter(col("vec_id") < 10), 5)
      val hits = bf.join(tr.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "leftsemi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("query_id"))
    },
      """WITH full5 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(
        |                 CAST(q.embedding AS DOUBLE[]),
        |                 CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 5),
        |tr5 AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(
        |                 CAST(q.embedding[1:16] AS DOUBLE[]),
        |                 CAST(c.embedding[1:16] AS DOUBLE[])) DESC,
        |               c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM full5 f JOIN tr5 t
        |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT q.vec_id AS query_id,
        |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
        |FROM embeddings q LEFT JOIN hits h ON h.query_id = q.vec_id
        |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin),

    // --- retrieval eval: MRR@10 and same-label hits of the cosine
    // ranking against the labeled corpus (1e6 div rank keeps the
    // reciprocal rank integer-exact) ---
    Case("retrieval_mrr", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val nn = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .join(emb.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), Seq("neighbor_id"))
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
      nn.groupBy(col("query_id"), col("true_label"))
        .agg(min(when(col("n_label") === col("true_label"), col("rank")))
            .as("fr"),
          sum(when(col("n_label") === col("true_label"), 1L).otherwise(0L))
            .as("n_rel10"))
        .select(col("query_id"), col("true_label"),
          coalesce(col("fr"), lit(0)).cast("int").as("first_rank"),
          coalesce(expr("1000000 div fr"), lit(0L)).cast("long")
            .as("mrr_micro"),
          col("n_rel10"))
        .orderBy(col("query_id"))
    },
      """WITH nn AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(
        |                 CAST(q.embedding AS DOUBLE[]),
        |                 CAST(c.embedding AS DOUBLE[])) DESC,
        |               c.vec_id) AS INT) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 10),
        |j AS (
        |  SELECT nn.query_id, eq.label AS true_label, nn.rank,
        |         en.label AS n_label
        |  FROM nn JOIN embeddings en ON en.vec_id = nn.neighbor_id
        |          JOIN embeddings eq ON eq.vec_id = nn.query_id)
        |SELECT query_id, true_label,
        |       CAST(COALESCE(MIN(CASE WHEN n_label = true_label
        |                              THEN rank END), 0) AS INT) AS first_rank,
        |       CAST(COALESCE(1000000 // MIN(CASE WHEN n_label = true_label
        |                                         THEN rank END), 0) AS BIGINT)
        |         AS mrr_micro,
        |       CAST(SUM(CASE WHEN n_label = true_label THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_rel10
        |FROM j GROUP BY 1, 2 ORDER BY query_id""".stripMargin),

    // --- IVF tuning curve: recall@5 vs nprobe over the SAME memoized
    // quantizer fit — the probes-vs-recall report that picks the
    // serving configuration from data (lsh_tuning's ANN sibling) ---
    Case("ann_probe_sweep", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(emb, q, 5)
      Seq(1, 2, 4).map { p =>
        val ivf = Similarity.ivfTopK(emb, q, 5, nprobe = p,
          centroids = Some(embCentroids(s, dir)))
        bf.join(ivf.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "leftsemi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p).as("nprobe"), col("n_hits"),
            lit(50L).as("n_truth"))
      }.reduce(_ unionByName _).orderBy(col("nprobe"))
    },
      kmeansCte() +
      """, bf AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])) DESC,
        |                      c.vec_id) AS INT) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 10)
        |  WHERE rank <= 5)""".stripMargin +
      Seq(1, 2, 4).map(p =>
        s""", qp$p AS (
           |  SELECT vec_id, j AS cluster FROM (
           |    SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
           |    FROM e CROSS JOIN c5 c WHERE e.vec_id < 10) WHERE rn <= $p),
           |iv$p AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |             ORDER BY list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
           |                                             CAST(xe.embedding AS DOUBLE[])) DESC,
           |                      x.vec_id) AS INT) AS rank
           |    FROM qp$p q JOIN assign x
           |      ON q.cluster = x.cluster AND q.vec_id != x.vec_id
           |    JOIN embeddings qe ON qe.vec_id = q.vec_id
           |    JOIN embeddings xe ON xe.vec_id = x.vec_id)
           |  WHERE rank <= 5),
           |h$p AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
           |        FROM bf JOIN iv$p USING (query_id, neighbor_id))""".stripMargin)
        .mkString("\n") +
      Seq(1, 2, 4).map(p =>
        s"""SELECT $p AS nprobe, h$p.c AS n_hits,
           |       CAST(50 AS BIGINT) AS n_truth FROM h$p""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY nprobe")),

    // --- embedding-space health: per-label L2 norm stats in micro-unit
    // integers (per-row double sqrt is IEEE-deterministic; the cross-row
    // SUM stays integer, so order-free) ---
    Case("emb_norms", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      emb.withColumn("__n",
          sqrt(graft.functions.VecMath.dot(col("embedding"), col("embedding"))))
        .select(col("label"), floor(col("__n") * 1000000).cast("long")
          .as("norm_micro"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("norm_micro")).cast("long").as("sum_norm_micro"),
          min(col("norm_micro")).as("min_norm_micro"),
          max(col("norm_micro")).as("max_norm_micro"))
        .orderBy(col("label"))
    },
      """WITH n AS (
        |  SELECT label,
        |         CAST(FLOOR(sqrt(list_dot_product(
        |             CAST(embedding AS DOUBLE[]),
        |             CAST(embedding AS DOUBLE[]))) * 1000000) AS BIGINT)
        |           AS norm_micro
        |  FROM embeddings)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(norm_micro) AS BIGINT) AS sum_norm_micro,
        |       MIN(norm_micro) AS min_norm_micro,
        |       MAX(norm_micro) AS max_norm_micro
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Shared oracle tail: within-cluster top-3 cosine neighbors per
    * vector; appended after a kmeans CTE chain ending in `assign`. */
  private def knnGraphTailSql: String =
    """, knn AS (
      |  SELECT a.vec_id, x.vec_id AS neighbor_id,
      |         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
      |                                      CAST(ex.embedding AS DOUBLE[])), 4)
      |           AS sim
      |  FROM assign a JOIN assign x
      |    ON a.cluster = x.cluster AND a.vec_id != x.vec_id
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings ex ON ex.vec_id = x.vec_id)
      |SELECT vec_id, rank, neighbor_id, sim FROM (
      |  SELECT vec_id, neighbor_id, sim,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY sim DESC, neighbor_id) AS INT) AS rank
      |  FROM knn)
      |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin

  /** Oracle CTE chain for product quantization (mirrors
    * [[graft.scale.Similarity.pqFit]]/`pqEncode`): per subspace s, slice
    * the (double-cast) embedding to `e{s}`, unroll the deterministic
    * Lloyd iterations exactly like [[kmeansCte]], and emit `s{s}code`;
    * `codes` joins the per-subspace assignments. Final per-subspace
    * centroids live in `s{s}c{iters}`. */
  private def pqCte(m: Int = 4, k: Int = 8, iters: Int = 3, dim: Int = 64): String = {
    val sub = dim / m
    val sb = new StringBuilder
    sb.append("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),\n")
    for (s <- 0 until m) {
      val lo = s * sub + 1; val hi = (s + 1) * sub
      def assignSql(c: String): String =
        s"""(SELECT vec_id, j AS cluster FROM (
           |  SELECT x.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY x.vec_id
           |    ORDER BY list_distance(x.v, c.v), c.j) AS rn
           |  FROM e$s x CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
      sb.append(s"e$s AS (SELECT vec_id, fv[$lo:$hi] AS v FROM e),\n")
      sb.append(s"s${s}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v\n")
      sb.append(s"       FROM (SELECT vec_id, v FROM e$s ORDER BY vec_id LIMIT $k)),\n")
      for (i <- 0 until iters) {
        sb.append(s"s${s}a$i AS ${assignSql(s"s${s}c$i")},\n")
        sb.append(s"""s${s}u$i AS (SELECT cluster AS j, list(mm ORDER BY dd) AS v FROM (
                     |  SELECT a.cluster, g.generate_series AS dd, AVG(x.v[g.generate_series]) AS mm
                     |  FROM s${s}a$i a JOIN e$s x USING (vec_id), generate_series(1, $sub) g
                     |  GROUP BY 1, 2) GROUP BY 1),\n""".stripMargin)
        sb.append(s"s${s}c${i + 1} AS (SELECT p.j, COALESCE(u.v, p.v) AS v" +
          s" FROM s${s}c$i p LEFT JOIN s${s}u$i u USING (j)),\n")
      }
      sb.append(s"s${s}code AS ${assignSql(s"s${s}c$iters")},\n")
    }
    sb.append("codes AS (SELECT vec_id, " +
      (0 until m).map(s => s"s$s.cluster AS code$s").mkString(", ") + "\n  FROM " +
      (0 until m).map(s => s"s${s}code s$s").zipWithIndex
        .map { case (t, i) => if (i == 0) t else s"JOIN $t USING (vec_id)" }
        .mkString(" ") + ")\n")
    sb.toString
  }

  /** Coarse k-means over the FULL vectors, appended after [[pqCte]]
    * (reuses its `e(vec_id, fv)`): `gc*`/`ga*`/`gu*` CTEs ending in
    * `gassign` = corpus cluster per vector. Mirrors [[kmeansCte]]'s
    * unrolled Lloyd iterations, operating on `fv`. */
  private def coarseCte(k: Int = 8, iters: Int = 5, dim: Int = 64): String = {
    def assignSql(c: String): String =
      s"""(SELECT vec_id, j AS cluster FROM (
         |  SELECT x.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY x.vec_id
         |    ORDER BY list_distance(x.fv, c.v), c.j) AS rn
         |  FROM e x CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
    val sb = new StringBuilder
    sb.append(s", gc0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, fv AS v\n")
    sb.append(s"       FROM (SELECT vec_id, fv FROM e ORDER BY vec_id LIMIT $k)),\n")
    for (i <- 0 until iters) {
      sb.append(s"ga$i AS ${assignSql(s"gc$i")},\n")
      sb.append(s"""gu$i AS (SELECT cluster AS j, list(mm ORDER BY dd) AS v FROM (
                   |  SELECT a.cluster, g.generate_series AS dd, AVG(x.fv[g.generate_series]) AS mm
                   |  FROM ga$i a JOIN e x USING (vec_id), generate_series(1, $dim) g
                   |  GROUP BY 1, 2) GROUP BY 1),\n""".stripMargin)
      sb.append(s"gc${i + 1} AS (SELECT p.j, COALESCE(u.v, p.v) AS v" +
        s" FROM gc$i p LEFT JOIN gu$i u USING (j)),\n")
    }
    sb.append(s"gassign AS ${assignSql(s"gc$iters")}\n")
    sb.toString
  }
}
