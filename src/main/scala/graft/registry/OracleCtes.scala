package graft
package registry

import graft.demo.TraceGen

/** Oracle SQL fragments that several families build on: the trace CTEs,
  * the k-means and shingle/LSH chains, the Naive-Bayes chain and the
  * quality score. A fragment one family uses lives in that family's file. */
object OracleCtes {

  /** Shared Naive-Bayes oracle CTE chain (train on the %5≠0 split,
    * score the %5=0 holdout, argmax in `ag`; `tt` holds per-doc token
    * totals) — mirrors `TextOps.naiveBayesModel/Classify`'s sparse
    * integer-micro decomposition. Appended tails select from ag/tt. */
  private[registry] def nbCteSql: String =
    """WITH tr AS (SELECT lang AS cls,
      |              unnest(regexp_split_to_array(trim(text), ' +')) AS tok
      |            FROM documents WHERE doc_id % 5 <> 0),
      |tc AS (SELECT cls, tok, COUNT(*) AS c FROM tr GROUP BY 1, 2),
      |vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tc),
      |nd AS (SELECT lang AS cls, COUNT(*) AS ndc
      |       FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
      |nt AS (SELECT CAST(SUM(ndc) AS BIGINT) AS n FROM nd),
      |cs AS (SELECT nd.cls,
      |         CAST(ROUND(ln(CAST(ndc AS DOUBLE) / n) * 1e6) AS BIGINT)
      |           AS prior_m,
      |         CAST(ROUND(ln(1.0 / (tot + v)) * 1e6) AS BIGINT) AS lp0_m
      |       FROM nd
      |       JOIN (SELECT cls, CAST(SUM(c) AS BIGINT) AS tot
      |             FROM tc GROUP BY 1) t USING (cls)
      |       CROSS JOIN vv CROSS JOIN nt),
      |td AS (SELECT cls, tok,
      |         CAST(ROUND(ln(CAST(c + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS dm
      |       FROM tc),
      |dt AS (SELECT doc_id,
      |         unnest(regexp_split_to_array(trim(text), ' +')) AS tok
      |       FROM documents WHERE doc_id % 5 = 0),
      |dc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM dt GROUP BY 1, 2),
      |tt AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS t
      |       FROM dc GROUP BY 1),
      |ms AS (SELECT doc_id, cls, CAST(SUM(cnt * dm) AS BIGINT) AS msum
      |       FROM dc JOIN td USING (tok) GROUP BY 1, 2),
      |sc AS (SELECT tt.doc_id, cs.cls,
      |         prior_m + t * lp0_m + COALESCE(msum, 0) AS score_m
      |       FROM tt CROSS JOIN cs
      |       LEFT JOIN ms ON ms.doc_id = tt.doc_id AND ms.cls = cs.cls),
      |rk AS (SELECT doc_id, cls, score_m,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |           ORDER BY score_m DESC, cls) AS rn FROM sc),
      |ag AS (SELECT doc_id,
      |         MAX(CASE WHEN rn = 1 THEN cls END) AS pred,
      |         MAX(CASE WHEN rn = 1 THEN score_m END) AS score_m,
      |         COALESCE(MAX(CASE WHEN rn = 1 THEN score_m END) -
      |                  MAX(CASE WHEN rn = 2 THEN score_m END), 0) AS margin_m
      |       FROM rk WHERE rn <= 2 GROUP BY 1)
      |""".stripMargin

  /** [[kmeansCte]] with the cluster count and fit sample CHOSEN BY THE
    * DATA, mirroring `Similarity.autoClusters` + `kmeansFitSampled`:
    * `kk` computes k = max(2, ⌈n/target⌉) and the sample modulus
    * m = max(1, n ∕∕ (k·factor)); the Lloyd iterations run over the
    * md5-hash-sampled `es`, the final `assign` over the full corpus. */
  private[registry] def kmeansCteAuto(target: Int = 64, factor: Int = 20,
                            iters: Int = 5, dim: Int = 64): String = {
    def assignSql(c: String, src: String): String =
      s"""(SELECT vec_id, j AS cluster FROM (
         |  SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
         |  FROM $src e CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
    val kExpr = s"GREATEST(2, CAST(CEIL(COUNT(*) / $target.0) AS INT))"
    val sb = new StringBuilder
    sb.append("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n")
    sb.append(s"kk AS (SELECT $kExpr AS k,\n")
    sb.append(s"  GREATEST(1, COUNT(*) // ($kExpr * $factor)) AS smod FROM e),\n")
    sb.append("es AS (SELECT e.vec_id, e.v FROM e CROSS JOIN kk\n")
    sb.append("  WHERE CAST(concat('0x', substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % smod = 0),\n")
    sb.append("c0 AS (SELECT j, v FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v FROM es) CROSS JOIN kk WHERE j < k),\n")
    for (i <- 0 until iters) {
      sb.append(s"a$i AS ${assignSql(s"c$i", "es")},\n")
      sb.append(s"""u$i AS (SELECT cluster AS j, list(m ORDER BY d) AS v FROM (
                   |  SELECT a.cluster, g.generate_series AS d, AVG(e.v[g.generate_series]) AS m
                   |  FROM a$i a JOIN es e USING (vec_id), generate_series(1, $dim) g
                   |  GROUP BY 1, 2) GROUP BY 1),\n""".stripMargin)
      sb.append(s"c${i + 1} AS (SELECT p.j, COALESCE(u.v, p.v) AS v FROM c$i p LEFT JOIN u$i u USING (j)),\n")
    }
    sb.append(s"assign AS ${assignSql(s"c$iters", "e")}\n")
    sb.toString
  }

  /** Oracle CTE replicating [[graft.scale.Similarity.kmeansFit]]: the
    * deterministic Lloyd iterations unroll as CTE stages (assignment by
    * euclidean distance with ties to the lowest cluster, per-dimension
    * means, empty clusters keep their centroid); `assign` is the final
    * nearest-centroid assignment. */
  private[registry] def kmeansCte(k: Int = 8, iters: Int = 5, dim: Int = 64): String = {
    def assignSql(c: String): String =
      s"""(SELECT vec_id, j AS cluster FROM (
         |  SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
         |  FROM e CROSS JOIN $c c) WHERE rn = 1)""".stripMargin
    val sb = new StringBuilder
    sb.append("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n")
    sb.append(s"c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v\n")
    sb.append(s"       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k)),\n")
    for (i <- 0 until iters) {
      sb.append(s"a$i AS ${assignSql(s"c$i")},\n")
      sb.append(s"""u$i AS (SELECT cluster AS j, list(m ORDER BY d) AS v FROM (
                   |  SELECT a.cluster, g.generate_series AS d, AVG(e.v[g.generate_series]) AS m
                   |  FROM a$i a JOIN e USING (vec_id), generate_series(1, $dim) g
                   |  GROUP BY 1, 2) GROUP BY 1),\n""".stripMargin)
      sb.append(s"c${i + 1} AS (SELECT p.j, COALESCE(u.v, p.v) AS v FROM c$i p LEFT JOIN u$i u USING (j)),\n")
    }
    sb.append(s"assign AS ${assignSql(s"c$iters")}\n")
    sb.toString
  }

  /** Shared oracle expression: [[graft.scale.TextOps.qualityScore]] as a
    * single-line DuckDB expression over a `text` column (single line so it
    * embeds inside stripMargin templates). */
  private[registry] def qualitySql: String =
    "ROUND(LEAST(CAST(len(regexp_split_to_array(trim(text), ' +')) AS DOUBLE)" +
      " / 20, 1.0) * 0.4" +
      " + CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)" +
      " / GREATEST(length(text), 1) * 0.4" +
      " + CASE WHEN CAST(length(text) AS DOUBLE)" +
      " / GREATEST(len(regexp_split_to_array(trim(text), ' +')), 1)" +
      " BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 4)"

  /** Shared oracle CTE suffix (appended to [[shinglesCte]]): minhash
    * signatures → LSH bands → candidate pairs `prs`. Mirrors
    * [[graft.scale.Dedup.minhashLsh]]. */
  private[registry] def lshPairsCte: String =
    """, hashed AS (
      |  SELECT doc_id,
      |         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(concat('0x', substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id, seed, MIN(h1 + seed * h2) AS minhash
      |  FROM hashed, generate_series(0, 15) g(seed) GROUP BY 1, 2),
      |band AS (
      |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
      |         md5(string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed)) AS band_key
      |  FROM sig GROUP BY 1, 2),
      |prs AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM band x JOIN band y ON x.band = y.band AND x.band_key = y.band_key
      |  WHERE x.doc_id < y.doc_id)
      |""".stripMargin

  /** [[lshPairsCte]] + transitive closure + the leakage-safe split
    * assignment (split hash over the component representative — mirrors
    * [[graft.scale.Curation.leakageSafeSplit]], seed 11, 10 splits).
    * Requires the RECURSIVE WITH. */
  private[registry] def splitAssignCte: String =
    shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") + lshPairsCte +
      """, cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
        |reach(node, label) AS (
        |  SELECT x, x FROM cedges
        |  UNION
        |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y),
        |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
        |assign AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep,
        |         c.node IS NOT NULL AS in_cluster,
        |         CAST(CAST(concat('0x', substr(md5('11:' ||
        |             CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 10 AS INT) AS split
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |""".stripMargin

  /** [[lshPairsCte]] + transitive closure → `losers` = every doc that is
    * not its component's min-id representative (requires the WITH to be
    * RECURSIVE). Mirrors [[graft.scale.Dedup.connectedComponents]]. */
  private[registry] def lshLosersCte: String = lshPairsCte +
    """, cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
      |reach(node, label) AS (
      |  SELECT x, x FROM cedges
      |  UNION
      |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y),
      |losers AS (
      |  SELECT node FROM (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
      |  WHERE node != component)
      |""".stripMargin

  /** Shared oracle CTE: word 3-shingles of documents (mirrors
    * [[graft.scale.Shingles.wordShingles]]: windows clamped like
    * slice/concat_ws for short docs). */
  private[registry] def shinglesCte: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
      |        FROM t))
      |""".stripMargin

  private[registry] def callCte = TraceGen.callTraceSqlCte

  private[registry] def commCte = TraceGen.commTraceSqlCte
}
