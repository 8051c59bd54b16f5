package graft
package registry

import org.apache.spark.sql.functions._

import graft.demo.TraceGen
import graft.model.Schemas._
import graft.scale.{Bitext, Curation, Dedup, Multimodal, Similarity, TextOps}
import graft.SparkEntry.{T, audioDiffHashes, basketBi, basketPairSup,
  bitextIndexDf, bitextScored, embCentroids, minhashSigs, neardupHashes,
  storedAppendedIndex, storedIndex, videoTokenDocs}
import graft.registry.OracleCtes.{callCte, commCte, kmeansCte, lshPairsCte,
  nbCteSql, qualitySql, shinglesCte}

/** Data quality / profiling: profiling, data-quality checks, streaming
  * twins and the remaining pipeline operators. */
object DataQualityCases extends Family("Data quality / profiling") {

  /** The `*_incr` rows whose oracle a `*_day3` row reuses VERBATIM:
    * both probe the same batch against the same effective
    * history (day-1 ∪ day-2) — the sibling via a from-scratch index
    * build, the day-3 row via IndexStore.append — so an identical
    * hash-checked result is precisely the probe-after-append ==
    * probe-after-rebuild property. */
  // --- day-2 ingest for image near-dup: the %10==0 docs arrive as the
  // new batch and join the persisted Hamming band index of the rest —
  // a shared hash surfaces as the (index rep, new rep) distance-0
  // pair, i.e. "new image is a duplicate of history" ---
  val imageNeardupIncr: Case = Case("image_neardup_incr", (s, dir) => {
      val hashed = neardupHashes(s, dir)
      def uniq(side: org.apache.spark.sql.DataFrame) =
        side.groupBy("ahash_hi", "ahash_lo")
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      val hist = uniq(hashed.filter(col("doc_id") % 10 =!= 0))
      val fresh = uniq(hashed.filter(col("doc_id") % 10 === 0))
      val pairs = storedIndex(s, dir, "idx_image_hamming")(
          graft.scale.IndexStore.buildHamming(hist, radius = 6, bands = 8,
            idCol = "rep_id", hiCol = "ahash_hi", loCol = "ahash_lo"))
        .probe(fresh)
      val nodes = hist.unionByName(fresh)
      pairs
        .join(nodes.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(nodes.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      // day-2 twin: per-side distinct hashes (history %10!=0, new %10=0),
      // brute-force Hamming <= 6 over the combined node set restricted to
      // pairs touching a new node — what the engine's band-index join
      // provably reproduces (radius < bands)
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS seed, (doc_id // 50) % 2 AS variant,
        |         8 + (doc_id % 50) % 5 AS w, 6 + (doc_id % 50) % 4 AS h
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (y.i * 8 + x.i) AS j,
        |         CASE WHEN d.variant = 1
        |                   AND (y.i * d.h // 8) * d.w + (x.i * d.w // 8) = 0
        |              THEN (d.seed * 31 + 128) % 256
        |              ELSE (d.seed * 31 +
        |                    ((y.i * d.h // 8) * d.w + (x.i * d.w // 8)) * 7)
        |                   % 256 END AS v
        |  FROM dims d, generate_series(0, 7) x(i), generate_series(0, 7) y(i)),
        |m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM samp GROUP BY 1),
        |bits AS (
        |  SELECT s.doc_id, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (doc_id)),
        |hashes AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS ahash_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |nodes AS (
        |  SELECT ahash_hi, ahash_lo, MIN(doc_id) AS rep_id,
        |         COUNT(*) AS n_docs, 0 AS isnew
        |  FROM hashes WHERE doc_id % 10 != 0 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT ahash_hi, ahash_lo, MIN(doc_id) AS rep_id,
        |         COUNT(*) AS n_docs, 1 AS isnew
        |  FROM hashes WHERE doc_id % 10 = 0 GROUP BY 1, 2)
        |SELECT least(u1.rep_id, u2.rep_id) AS a,
        |       greatest(u1.rep_id, u2.rep_id) AS b,
        |       CAST(bit_count(xor(u1.ahash_hi, u2.ahash_hi)) +
        |            bit_count(xor(u1.ahash_lo, u2.ahash_lo)) AS INT) AS hamming,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u1.n_docs
        |            ELSE u2.n_docs END AS BIGINT) AS n_docs_a,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u2.n_docs
        |            ELSE u1.n_docs END AS BIGINT) AS n_docs_b
        |FROM nodes u1 JOIN nodes u2
        |  ON u1.rep_id < u2.rep_id AND (u1.isnew = 1 OR u2.isnew = 1)
        |WHERE bit_count(xor(u1.ahash_hi, u2.ahash_hi)) +
        |      bit_count(xor(u1.ahash_lo, u2.ahash_lo)) <= 6
        |ORDER BY a, b""".stripMargin)

  // --- day-2 member of the edit-distance family: a new batch (every
  // 10th part) joins the persisted tagged-gram prefix index of
  // history — equals the full self-join restricted to batch-touching
  // pairs (which is exactly what the oracle computes brute-force) ---
  val fuzzyExactIncr: Case = Case("fuzzy_exact_incr", (s, dir) => {
      val part = T(s, dir, "part")
      storedIndex(s, dir, "idx_editdist_hist")(
          graft.scale.IndexStore.buildEditDistance(
            part.filter(col("p_partkey") % 10 =!= 0), maxDist = 2,
            textCol = "p_name", idCol = "p_partkey"))
        .probe(part.filter(col("p_partkey") % 10 === 0))
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    },
      // the full brute-force self-join restricted to batch-touching pairs
      """SELECT a.p_partkey AS a, b.p_partkey AS b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |  AND (a.p_partkey % 10 = 0 OR b.p_partkey % 10 = 0)
        |ORDER BY 1, 2""".stripMargin)

  val cases: Seq[Case] = Seq(

    // --- per-source boilerplate tiles (the header/footer signal):
    // tiles in ≥ 8% of a source's docs are template, not content ---
    Case("boilerplate_tiles", (s, dir) =>
      Dedup.boilerplateTiles(T(s, dir, "documents"),
          minShareMicro = 80000L)
        .orderBy(col("source"), col("tile")),
      """WITH t AS (
        |  SELECT source, doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |tl AS (
        |  SELECT DISTINCT source, doc_id,
        |         array_to_string(toks[(i*5+1):(i*5+5)], ' ') AS tile
        |  FROM (SELECT source, doc_id, toks,
        |          unnest(generate_series(0,
        |            CAST((len(toks) + 4) // 5 AS INT) - 1)) AS i
        |        FROM t)),
        |sd AS (SELECT source, COUNT(DISTINCT doc_id) AS src_docs
        |       FROM t GROUP BY 1),
        |c AS (SELECT tl.source, tile, CAST(COUNT(*) AS BIGINT) AS n_docs
        |      FROM tl GROUP BY 1, 2)
        |SELECT c.source, c.tile, c.n_docs,
        |       CAST(c.n_docs * 1000000 // sd.src_docs AS BIGINT)
        |         AS share_micro
        |FROM c JOIN sd USING (source)
        |WHERE c.n_docs * 1000000 // sd.src_docs >= 80000
        |ORDER BY c.source, c.tile""".stripMargin),

    // --- frequent TRIPLES via Apriori level-wise pruning; the oracle
    // runs the unpruned brute-force 3-way self-join, so the green row
    // proves the pruning lossless ---
    Case("basket_itemsets", (s, dir) =>
      graft.analysis.Basket.frequentTriples(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L,
          biIn = Some(basketBi(s, dir)),
          pairSupIn = Some(basketPairSup(s, dir)))
        .orderBy(col("a"), col("b"), col("c")),
      // brute-force (unpruned) itemset counting — equality with the
      // engine's Apriori plan proves the level-wise pruning lossless
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |            FROM lineitem),
        |p AS (SELECT x.i AS a, y.i AS b2, CAST(COUNT(*) AS BIGINT) AS sup_ab
        |      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |t AS (SELECT x.i AS a, y.i AS b2, z.i AS c,
        |             CAST(COUNT(*) AS BIGINT) AS sup_abc
        |      FROM bi x
        |      JOIN bi y ON x.b = y.b AND x.i < y.i
        |      JOIN bi z ON z.b = x.b AND y.i < z.i
        |      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
        |SELECT t.a, t.b2 AS b, t.c, t.sup_abc, p.sup_ab,
        |       CAST(t.sup_abc * 1000000 // p.sup_ab AS BIGINT)
        |         AS conf_ab_c_micro
        |FROM t JOIN p ON p.a = t.a AND p.b2 = t.b2
        |ORDER BY 1, 2, 3""".stripMargin),

    // --- alignment stage after near-dup detection: per LSH candidate
    // pair, the longest contiguous token span both sides share (diagonal
    // runs of matched positional shingles) — the quote-vs-clone extent
    // a plagiarism/dedup policy thresholds on ---
    Case("pair_align_span", (s, dir) =>
      Dedup.pairMaxSharedSpan(
          Dedup.minhashLshPairs(minhashSigs(s, dir)).select("a", "b"),
          T(s, dir, "documents"))
        .orderBy(col("a"), col("b")),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |shp AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
        |        FROM t)),
        |sh AS (SELECT doc_id, shingle FROM shp)""".stripMargin
        + lshPairsCte +
      """, pm AS (
        |  SELECT p.a, p.b, sa.pos AS pa, sb.pos AS pb, sa.pos - sb.pos AS diag
        |  FROM prs p
        |  JOIN shp sa ON sa.doc_id = p.a
        |  JOIN shp sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle),
        |mrk AS (
        |  SELECT a, b, diag, pa,
        |         CASE WHEN lag(pa) OVER w IS NULL
        |                OR pa > lag(pa) OVER w + 1 THEN 1 ELSE 0 END AS ni
        |  FROM pm WINDOW w AS (PARTITION BY a, b, diag ORDER BY pa)),
        |isl AS (
        |  SELECT a, b, diag, pa,
        |         SUM(ni) OVER (PARTITION BY a, b, diag ORDER BY pa) AS island
        |  FROM mrk),
        |runs AS (
        |  SELECT a, b, diag, island, COUNT(*) AS run
        |  FROM isl GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT a, b, CAST(MAX(run) + 2 AS BIGINT) AS max_span
        |       FROM runs GROUP BY 1, 2),
        |st AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_matches
        |       FROM pm GROUP BY 1, 2)
        |SELECT s.a, s.b, m.max_span, s.n_matches
        |FROM st s JOIN mx m USING (a, b)
        |ORDER BY s.a, s.b""".stripMargin),

    // --- Gopher rule-based filter: per-doc boolean verdicts, every ratio
    // threshold via integer cross-multiplication (minWords dialed to the
    // synthetic corpus's short docs) ---
    Case("gopher_rules", (s, dir) =>
      TextOps.gopherRules(T(s, dir, "documents"), minWords = 5L)
        .orderBy(col("doc_id")),
      """WITH t AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n,
        |         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS chars,
        |         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hashes,
        |         CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS ell,
        |         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |         CAST(len(list_intersect(list_distinct(toks),
        |              ['the','and','of','to','in','is','that','for'])) AS BIGINT) AS stops
        |  FROM t)
        |SELECT doc_id, n AS n_words,
        |       n >= 5 AND n <= 100000 AS r_word_count,
        |       chars >= n * 3 AND chars <= n * 10 AS r_mean_word_len,
        |       hashes * 10 <= n AS r_hash_ratio,
        |       ell * 10 <= n * 3 AS r_ellipsis_ratio,
        |       alpha_words * 5 >= n * 4 AS r_alpha_words,
        |       stops >= 2 AS r_stopwords,
        |       (n >= 5 AND n <= 100000) AND (chars >= n * 3 AND chars <= n * 10)
        |         AND hashes * 10 <= n AND ell * 10 <= n * 3
        |         AND alpha_words * 5 >= n * 4 AND stops >= 2 AS pass
        |FROM m ORDER BY doc_id""".stripMargin),

    // --- Distinct-n diversity per source: templated/boilerplate sources
    // show low distinct-2/3 ratios ---
    Case("distinct_ngrams", (s, dir) =>
      TextOps.distinctNgrams(T(s, dir, "documents"))
        .orderBy(col("source"), col("n")),
      """WITH t AS (
        |  SELECT source, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |g1 AS (SELECT source, unnest(toks) AS gram FROM t),
        |g2 AS (SELECT source, array_to_string(toks[i:i+1], ' ') AS gram
        |       FROM (SELECT source, toks,
        |               unnest(generate_series(1, len(toks) - 1)) AS i
        |             FROM t WHERE len(toks) >= 2)),
        |g3 AS (SELECT source, array_to_string(toks[i:i+2], ' ') AS gram
        |       FROM (SELECT source, toks,
        |               unnest(generate_series(1, len(toks) - 2)) AS i
        |             FROM t WHERE len(toks) >= 3)),
        |u AS (SELECT source, 1 AS n, gram FROM g1
        |      UNION ALL SELECT source, 2, gram FROM g2
        |      UNION ALL SELECT source, 3, gram FROM g3)
        |SELECT source, CAST(n AS INT) AS n,
        |       CAST(COUNT(*) AS BIGINT) AS total,
        |       CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
        |       CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT)
        |         AS ratio_micro
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- training-mix allocation: targets vs availability per source,
    // epochs and deficits for a 100k-token budget at weights 4:2:1 ---
    Case("mix_plan", (s, dir) =>
      Curation.mixPlan(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2, "src2" -> 1, "src3" -> 1,
            "src4" -> 1),
          budgetTokens = 100000L)
        .orderBy(col("source")),
      """WITH a AS (
        |  SELECT source,
        |         CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT)
        |           AS avail_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, avail_tokens,
        |         CAST(CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
        |              ELSE 1 END AS BIGINT) AS weight
        |  FROM a)
        |SELECT source, avail_tokens, weight,
        |       CAST(weight * 100000 // 9 AS BIGINT) AS target_tokens,
        |       CAST(LEAST(avail_tokens, weight * 100000 // 9) AS BIGINT)
        |         AS alloc_tokens,
        |       CAST((weight * 100000 // 9) * 1000000 // avail_tokens AS BIGINT)
        |         AS epochs_micro,
        |       CAST(GREATEST(weight * 100000 // 9 - avail_tokens, 0) AS BIGINT)
        |         AS deficit
        |FROM w ORDER BY source""".stripMargin),

    // --- SoftDeDup: mean shingle document-frequency per doc and the
    // reciprocal sampling weight — dedup as downweighting, not deletion ---
    Case("soft_dedup", (s, dir) =>
      Dedup.softDedupWeights(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |df AS (SELECT shingle, COUNT(*) AS df FROM dsh GROUP BY 1)
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(f.df) AS BIGINT) AS sum_df,
        |       CAST(SUM(f.df) * 1000000 // COUNT(*) AS BIGINT) AS mean_df_micro,
        |       CAST(1000000000000 // (SUM(f.df) * 1000000 // COUNT(*)) AS BIGINT)
        |         AS weight_micro
        |FROM dsh d JOIN df f USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- CCNet head/middle/tail bucketing: per-language perplexity
    // terciles under the unigram LM (integer micro-unit NLL scores,
    // exact keyed-quantile boundaries — no per-language global sort);
    // "head" is the most-fluent third CCNet ships first ---
    Case("ccnet_buckets", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.ccnetBuckets(docs, docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("lang"), col("bucket"))
    },
      """WITH tr AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents WHERE doc_id % 5 = 0),
        |freq AS (SELECT tok, COUNT(*) AS c FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM freq),
        |dt AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CAST(ROUND(-ln(CAST(COALESCE(f.c, 0) + 1 AS DOUBLE)
        |             / CAST(t.n + t.v AS DOUBLE)) * 1000000) AS BIGINT))
        |           AS BIGINT) AS s
        |  FROM dt LEFT JOIN freq f USING (tok) CROSS JOIN tot t
        |  GROUP BY doc_id),
        |m AS (
        |  SELECT d.lang, sc.n_tokens, sc.s // sc.n_tokens AS mm
        |  FROM sc JOIN documents d USING (doc_id)),
        |cnt AS (SELECT lang, COUNT(*) AS nl FROM m GROUP BY 1),
        |rk AS (SELECT lang, mm,
        |              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY mm) AS rn
        |       FROM m),
        |bd AS (
        |  SELECT c.lang,
        |         MAX(CASE WHEN r.rn = (333 * c.nl + 999) // 1000
        |                  THEN r.mm END) AS b1,
        |         MAX(CASE WHEN r.rn = (667 * c.nl + 999) // 1000
        |                  THEN r.mm END) AS b2
        |  FROM cnt c JOIN rk r USING (lang) GROUP BY c.lang)
        |SELECT m.lang,
        |       CASE WHEN m.mm <= b.b1 THEN 'head'
        |            WHEN m.mm <= b.b2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(m.n_tokens) AS BIGINT) AS sum_tokens
        |FROM m JOIN bd b USING (lang)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- streaming NB classifier's plan run in batch mode (the
    // streaming-oracle-hook convention): frozen model as a wide
    // stream-static join table, ONE windowed agg + stateless argmax
    // projection; event time derived from doc_id so the oracle can
    // recompute the 10 s windows ---
    Case("stream_nb_endstate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (tokDelta, classStats) =
        TextOps.naiveBayesModel(docs.filter(col("doc_id") % 5 =!= 0))
      val cs = classStats.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      graft.streaming.StreamingOps.nbClassify(
          docs.filter(col("doc_id") % 5 === 0)
            .withColumn("event_time", timestamp_millis(col("doc_id") * 1000)),
          tokDelta, cs)
        .select(unix_timestamp(col("window").getField("start"))
            .as("window_start"),
          col("doc_id"), col("n_tokens"), col("pred"),
          col("score_m"), col("margin_m"))
        .orderBy(col("doc_id"))
    },
      // batch-materialized twin of the streaming NB classifier: same CTE
      // chain plus the 10 s event-time window derived from doc_id
      nbCteSql +
      """SELECT (a.doc_id // 10) * 10 AS window_start, a.doc_id,
        |       t.t AS n_tokens, a.pred,
        |       CAST(a.score_m AS BIGINT) AS score_m,
        |       CAST(a.margin_m AS BIGINT) AS margin_m
        |FROM ag a JOIN tt t USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    // --- cross-lingual margin mining: best de candidate per en doc by
    // the ratio-margin criterion, integer micro-units end to end; the
    // scored pair table is a shared memoized artifact (margin + mutual
    // are two windows over the SAME scoring run) ---
    Case("xlingual_margin", (s, dir) =>
      Bitext.marginFromScored(bitextScored(s, dir))
        .orderBy(col("src_id")),
      // engine-exact bitext scoring: per-component micro-quantization
      // (floor(x·10⁶) as BIGINT) makes dot/norms order-free integers; the
      // cosine is then ONE fixed IEEE expression (mul, sqrt, div, floor —
      // all correctly rounded) over identical integer inputs, so it is
      // bit-identical to Spark's VecDotMicro/VecNorm2Micro path. The
      // margin is the TRUE unshifted ratio with sign-explicit division
      // (|num| // |den| is trunc==floor; signs applied outside).
      xlingualScoredCte +
      """best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY margin_micro DESC, dst_id) AS rn FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rn = 1 AND margin_micro > 1050000
        |ORDER BY src_id""".stripMargin),

    // --- mutual best matches: b is a's argmax AND a is b's (the
    // deployed mining criterion; hubs keep at most one pair) ---
    Case("xlingual_mutual", (s, dir) =>
      Bitext.mutualFromScored(bitextScored(s, dir))
        .orderBy(col("src_id")),
      xlingualScoredCte +
      """best AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY src_id
        |          ORDER BY margin_micro DESC, dst_id) AS rf,
        |        ROW_NUMBER() OVER (PARTITION BY dst_id
        |          ORDER BY margin_micro DESC, src_id) AS rb FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rf = 1 AND rb = 1 AND margin_micro > 1000000
        |ORDER BY src_id""".stripMargin),

    // --- candidate-FED margin mining: the corpus-scale Bitext path —
    // candidates come from a keyed bucket join (here: equal embedding
    // label, the SQL-expressible stand-in for clusterCandidates'
    // kmeans-probe buckets), margins computed within the candidate set;
    // never the |src|×|dst| cross product ---
    Case("xlingual_margin_cand", (s, dir) => {
      val emb = T(s, dir, "embeddings"); val docs = T(s, dir, "documents")
      val lang = docs.select(col("doc_id").as("vec_id"), col("lang"))
      val tagged = emb.select("vec_id", "label").join(lang, "vec_id")
      val cand = tagged.filter(col("lang") === "en")
          .select(col("vec_id").as("src_id"), col("label"))
        .join(tagged.filter(col("lang") === "de")
          .select(col("vec_id").as("dst_id"), col("label")), "label")
        .select("src_id", "dst_id")
      Bitext.marginPairs(emb, docs, "en", "de", candidates = Some(cand))
        .orderBy(col("src_id"))
    },
      xlingualScoredCte("AND b.label = a.label") +
      """best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY margin_micro DESC, dst_id) AS rn FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rn = 1 AND margin_micro > 1050000
        |ORDER BY src_id""".stripMargin),

    // --- day-2 bitext: a NEW batch of src docs (doc_id % 10 == 0)
    // mined against the PERSISTED pivot index of the day-1 reference
    // run — frozen dst neighborhood stats, fresh src neighborhoods,
    // the streaming miner's semantics as a batch broadcast join (no
    // driver collect anywhere in the index build or the mining) ---
    Case("xlingual_day2", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val newSrc = emb.join(
        T(s, dir, "documents")
          .filter(col("lang") === "en" && col("doc_id") % 10 === 0)
          .select(col("doc_id").as("vec_id")), "vec_id")
      storedIndex(s, dir, "idx_bitext_pivot")(
          graft.scale.IndexStore.BitextIndex(bitextIndexDf(s, dir),
            k = 4, thresholdMicro = 1050000L, "vec_id", "embedding"))
        .probe(newSrc)
        .orderBy(col("src_id"))
    },
      // day-1 stats from the restricted reference run (en % 10 != 0 via
      // candRestrict), then the NEW batch scored against the frozen
      // per-dst stats with fresh src-side neighborhoods — the
      // mineAgainstIndex formula relationally
      xlingualScoredCte("AND a.vec_id % 10 != 0") +
      """dstat AS (SELECT DISTINCT dst_id, sum_dst, cnt_dst FROM sums),
        |a2 AS (SELECT d.doc_id AS vec_id FROM documents d
        |       WHERE d.lang = 'en' AND d.doc_id % 10 = 0),
        |dots2 AS (
        |  SELECT xa.vec_id AS src_id, xb.vec_id AS dst_id,
        |         CAST(SUM(xa.v * xb.v) AS BIGINT) AS dot
        |  FROM x xa JOIN a2 ON xa.vec_id = a2.vec_id
        |       JOIN x xb ON xb.i = xa.i
        |       JOIN b ON xb.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |p2 AS (
        |  SELECT d.src_id, d.dst_id,
        |         CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(FLOOR(CAST(d.dot AS DOUBLE) * 1000000 /
        |                   SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
        |                AS BIGINT) END AS s
        |  FROM dots2 d JOIN n na ON na.vec_id = d.src_id
        |       JOIN n nb ON nb.vec_id = d.dst_id),
        |r2 AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY s DESC, dst_id) AS rn_src FROM p2),
        |sums2 AS (SELECT *,
        |         SUM(CASE WHEN rn_src <= 4 THEN s END)
        |           OVER (PARTITION BY src_id) AS sum_src,
        |         SUM(CASE WHEN rn_src <= 4 THEN 1 END)
        |           OVER (PARTITION BY src_id) AS cnt_src FROM r2),
        |m2 AS (SELECT s2.src_id, s2.dst_id, s2.s,
        |         CAST(s2.s * (s2.cnt_src + ds.cnt_dst) * 1000000 AS BIGINT)
        |           AS num,
        |         CAST(s2.sum_src + ds.sum_dst AS BIGINT) AS den
        |       FROM sums2 s2 JOIN dstat ds ON ds.dst_id = s2.dst_id),
        |mm2 AS (SELECT src_id, dst_id, s,
        |          CASE WHEN den = 0 THEN
        |                 CASE WHEN num > 0 THEN CAST(9000000000000000 AS BIGINT)
        |                      WHEN num < 0 THEN CAST(-9000000000000000 AS BIGINT)
        |                      ELSE CAST(0 AS BIGINT) END
        |               WHEN (num >= 0) = (den > 0) THEN ABS(num) // ABS(den)
        |               ELSE -(ABS(num) // ABS(den)) END AS margin_micro
        |        FROM m2),
        |best2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |            ORDER BY margin_micro DESC, dst_id) AS rn FROM mm2)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best2 WHERE rn = 1 AND margin_micro > 1050000
        |ORDER BY src_id""".stripMargin),

    // --- candidate-generation RECALL audit: what fraction of the
    // brute-force mined pairs the cluster-probe candidates cover at
    // nprobe=2 under the session's shared quantizer — the eval that
    // picks nprobe before trusting the corpus-scale path (lsh_tuning's
    // bitext sibling) ---
    Case("xlingual_cand_recall", (s, dir) => {
      val cand = Bitext.clusterCandidates(
        T(s, dir, "embeddings"), T(s, dir, "documents"), "en", "de",
        nProbe = 2, centroids = Some(embCentroids(s, dir)))
      Bitext.marginFromScored(bitextScored(s, dir))
        .select(col("src_id"), col("dst_id"))
        .join(cand.withColumn("__hit", lit(1L)), Seq("src_id", "dst_id"),
          "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
        .select(col("n_true"), col("n_found"),
          when(col("n_true") > 0,
            expr("n_found * 1000000 div n_true")).otherwise(1000000L)
            .as("recall_micro"))
    },
      // kmeansCte supplies e/c5/assign (the session quantizer); the scored
      // CTE supplies mm (brute-force margins); probes at rn <= 2 mirror
      // kmeansProbe's (distance, j) order
      kmeansCte() + ", " +
      xlingualScoredCte.stripPrefix("WITH ") +
      """probes AS (
        |  SELECT vec_id, j AS cluster FROM (
        |    SELECT e.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(e.v, c.v), c.j) AS rn
        |    FROM e CROSS JOIN c5 c) WHERE rn <= 2),
        |cand AS (
        |  SELECT DISTINCT pr.vec_id AS src_id, s2.vec_id AS dst_id
        |  FROM probes pr JOIN a ON a.vec_id = pr.vec_id
        |       JOIN assign s2 ON s2.cluster = pr.cluster
        |       JOIN b ON b.vec_id = s2.vec_id),
        |best AS (SELECT src_id, dst_id FROM (
        |    SELECT src_id, dst_id, margin_micro,
        |           ROW_NUMBER() OVER (PARTITION BY src_id
        |             ORDER BY margin_micro DESC, dst_id) AS rn FROM mm)
        |  WHERE rn = 1 AND margin_micro > 1050000)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
        |       CAST(SUM(CASE WHEN c.src_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_found,
        |       CAST(CASE WHEN COUNT(*) > 0
        |            THEN SUM(CASE WHEN c.src_id IS NOT NULL THEN 1 ELSE 0 END)
        |                 * 1000000 // COUNT(*)
        |            ELSE 1000000 END AS BIGINT) AS recall_micro
        |FROM best LEFT JOIN cand c
        |  ON c.src_id = best.src_id AND c.dst_id = best.dst_id""".stripMargin),

    // --- greedy k-center diverse sampling per cluster (Gonzalez
    // farthest-point, exact micro-integer distances) — the coreset /
    // diverse-subset selection stage of a data-pruning pipeline ---
    Case("diverse_kcenter", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.kcenterSample(emb, embCentroids(s, dir))
        .orderBy(col("cluster"), col("pick"))
    },
      // greedy k-center per cluster, two selection rounds unrolled; all
      // distances are micro-integer-exact (floor(x·1e6) components, sums
      // ≤ ~2e13 — exact in doubles), so argmax + min-id tie-break is
      // bit-identical to the engine's struct-max
      kmeansCte() +
      """, em AS (
        |  SELECT e.vec_id, a.cluster,
        |         list_transform(e.v, x -> CAST(FLOOR(x * 1000000) AS DOUBLE)) AS mv
        |  FROM e JOIN assign a USING (vec_id)),
        |en AS (
        |  SELECT vec_id, cluster, mv,
        |         list_inner_product(mv, mv) AS n2 FROM em),
        |kp0 AS (SELECT cluster, MIN(vec_id) AS vec_id FROM en GROUP BY 1),
        |kc0 AS (SELECT en.* FROM en JOIN kp0 USING (cluster, vec_id)),
        |kd1 AS (
        |  SELECT n.cluster, n.vec_id,
        |         MIN(CAST(n.n2 + c.n2
        |                  - 2 * list_inner_product(n.mv, c.mv) AS BIGINT)) AS md
        |  FROM en n JOIN kc0 c ON n.cluster = c.cluster
        |  WHERE NOT EXISTS (SELECT 1 FROM kc0 x
        |                    WHERE x.cluster = n.cluster AND x.vec_id = n.vec_id)
        |  GROUP BY 1, 2),
        |kf1 AS (
        |  SELECT cluster, vec_id, md FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY md DESC, vec_id) AS rn FROM kd1) WHERE rn = 1),
        |kc1 AS (SELECT cluster, vec_id, mv, n2 FROM kc0
        |       UNION ALL
        |       SELECT en.cluster, en.vec_id, en.mv, en.n2
        |       FROM en JOIN kf1 USING (cluster, vec_id)),
        |kd2 AS (
        |  SELECT n.cluster, n.vec_id,
        |         MIN(CAST(n.n2 + c.n2
        |                  - 2 * list_inner_product(n.mv, c.mv) AS BIGINT)) AS md
        |  FROM en n JOIN kc1 c ON n.cluster = c.cluster
        |  WHERE NOT EXISTS (SELECT 1 FROM kc1 x
        |                    WHERE x.cluster = n.cluster AND x.vec_id = n.vec_id)
        |  GROUP BY 1, 2),
        |kf2 AS (
        |  SELECT cluster, vec_id, md FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY md DESC, vec_id) AS rn FROM kd2) WHERE rn = 1)
        |SELECT cluster, CAST(0 AS INT) AS pick, vec_id,
        |       CAST(NULL AS BIGINT) AS dist_micro2 FROM kc0
        |UNION ALL
        |SELECT cluster, CAST(1 AS INT) AS pick, vec_id, md FROM kf1
        |UNION ALL
        |SELECT cluster, CAST(2 AS INT) AS pick, vec_id, md FROM kf2
        |ORDER BY cluster, pick""".stripMargin),

    // --- perceptual image dedup: 64-bit average hash through the REAL
    // PGM decode (8x8 nearest-neighbor sample, floor-mean threshold);
    // payload content keyed on doc_id % 50 so ~10 docs share each
    // planted image and hash-groupBy finds the duplicate groups —
    // image dedup as the same shape as text dedup_exact ---
    Case("image_phash", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val seed = id % 50
          val w = (8 + seed % 5).toInt; val h = (6 + seed % 4).toInt
          (id, Multimodal.encodePgm(w, h,
            i => ((seed * 31 + i * 7) % 256).toInt))
        }.toDF("doc_id", "payload")
      val hashed = withPayload.as[(Long, Array[Byte])].map { case (id, p) =>
        val (hi, lo) = Multimodal.averageHashHalves(p)
        (id, hi, lo)
      }.toDF("doc_id", "ahash_hi", "ahash_lo")
      val groups = hashed.groupBy("ahash_hi", "ahash_lo")
        .agg(count(lit(1)).as("n_dups"))
      hashed.join(groups, Seq("ahash_hi", "ahash_lo"))
        .select(col("doc_id"), col("ahash_hi"), col("ahash_lo"),
          col("n_dups"))
        .orderBy(col("doc_id"))
    },
      // pixel(i) = (seed*31 + i*7) % 256 over an (8 + seed%5) x (6 + seed%4)
      // raster, seed = doc_id % 50; the oracle recomputes the 8x8 sample
      // grid, floor-mean threshold, and 32-bit half packing directly
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS seed,
        |         8 + (doc_id % 50) % 5 AS w, 6 + (doc_id % 50) % 4 AS h
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (y.i * 8 + x.i) AS j,
        |         (d.seed * 31 + ((y.i * d.h // 8) * d.w + (x.i * d.w // 8)) * 7)
        |           % 256 AS v
        |  FROM dims d, generate_series(0, 7) x(i), generate_series(0, 7) y(i)),
        |m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM samp GROUP BY 1),
        |bits AS (
        |  SELECT s.doc_id, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (doc_id)),
        |hashes AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS ahash_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |g AS (SELECT ahash_hi, ahash_lo, COUNT(*) AS n
        |      FROM hashes GROUP BY 1, 2)
        |SELECT h.doc_id, h.ahash_hi, h.ahash_lo, CAST(g.n AS BIGINT) AS n_dups
        |FROM hashes h JOIN g USING (ahash_hi, ahash_lo)
        |ORDER BY h.doc_id""".stripMargin),

    // --- NEAR-duplicate image dedup: Hamming-LSH over the 64-bit
    // perceptual hash. Plants a PERTURBED variant of each group's image
    // ((doc_id/50)%2 == 1 replaces raw pixel 0 — flips 0-6 hash bits),
    // collapses to distinct hashes first (the 100 TB shape: near-dup
    // cardinality is #unique images, not #docs), then 8-band Hamming-LSH
    // + codegen'd VecHamming verification at radius 6 — provably equal to
    // the oracle's brute-force Hamming join because radius < bands ---
    Case("image_neardup", (s, dir) => {
      val hashed = neardupHashes(s, dir)
      val uniq = hashed.groupBy("ahash_hi", "ahash_lo")
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      val pairs = Dedup.hammingBandPairs(uniq, radius = 6, bands = 8,
        idCol = "rep_id")
      pairs
        .join(uniq.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(uniq.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      // NEAR-dup twin of image_phash: variant = (doc_id // 50) % 2 replaces
      // raw pixel 0 with (seed*31 + 128) % 256 (a planted perturbation that
      // flips 0-6 hash bits, measured over all 50 groups); the oracle
      // recomputes the perturbed hashes, collapses to distinct, and does
      // the brute-force Hamming <= 6 join that the engine's 8-band
      // Hamming-LSH provably reproduces (radius 6 < 8 bands = lossless)
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS seed, (doc_id // 50) % 2 AS variant,
        |         8 + (doc_id % 50) % 5 AS w, 6 + (doc_id % 50) % 4 AS h
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (y.i * 8 + x.i) AS j,
        |         CASE WHEN d.variant = 1
        |                   AND (y.i * d.h // 8) * d.w + (x.i * d.w // 8) = 0
        |              THEN (d.seed * 31 + 128) % 256
        |              ELSE (d.seed * 31 +
        |                    ((y.i * d.h // 8) * d.w + (x.i * d.w // 8)) * 7)
        |                   % 256 END AS v
        |  FROM dims d, generate_series(0, 7) x(i), generate_series(0, 7) y(i)),
        |m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM samp GROUP BY 1),
        |bits AS (
        |  SELECT s.doc_id, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (doc_id)),
        |hashes AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS ahash_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |uniq AS (
        |  SELECT ahash_hi, ahash_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
        |  FROM hashes GROUP BY 1, 2)
        |SELECT u1.rep_id AS a, u2.rep_id AS b,
        |       CAST(bit_count(xor(u1.ahash_hi, u2.ahash_hi)) +
        |            bit_count(xor(u1.ahash_lo, u2.ahash_lo)) AS INT) AS hamming,
        |       CAST(u1.n_docs AS BIGINT) AS n_docs_a,
        |       CAST(u2.n_docs AS BIGINT) AS n_docs_b
        |FROM uniq u1 JOIN uniq u2 ON u1.rep_id < u2.rep_id
        |WHERE bit_count(xor(u1.ahash_hi, u2.ahash_hi)) +
        |      bit_count(xor(u1.ahash_lo, u2.ahash_lo)) <= 6
        |ORDER BY a, b""".stripMargin),

    imageNeardupIncr,

    // --- resize-then-featurize: nearest-neighbor normalization to a
    // fixed 4x3 ahead of feature extraction (the vision-pipeline
    // preprocessing shape), integer source grid so the oracle can
    // recompute the exact resized raster ---
    Case("image_resize", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
          (id, Multimodal.encodePgm(w, h, i => ((id * 31 + i * 7) % 256).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(
          Multimodal.transformPayload(withPayload, Multimodal.resizePgm(4, 3)),
          decoder = Multimodal.decodePgm)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          round(col("features.mean_luma"), 6).as("mean_luma"))
        .orderBy(col("doc_id"))
    },
      // resized pixel (x,y) samples source index sy*w + sx with the same
      // integral truncation the engine uses; value = (id*31 + idx*7) % 256
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         SUM((d.doc_id * 31
        |              + ((i.i // 4) * d.h // 3 * d.w + (i.i % 4) * d.w // 4) * 7)
        |             % 256) AS pxsum
        |  FROM dims d JOIN generate_series(0, 11) i(i) ON true
        |  GROUP BY 1)
        |SELECT doc_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
        |       ROUND(pxsum * 1.0 / 12 / 255, 6) AS mean_luma
        |FROM px ORDER BY doc_id""".stripMargin),

    // --- trim-robust VIDEO near-dup: every frame's luma plane hashed
    // through the real Y4M decode (8x8 mean-threshold aHash), then the
    // frame-hash SET feeds the exact-Jaccard join (shingleK=1) — a
    // head-trimmed copy ((doc_id/30)%2==1 drops frame 0) keeps
    // (n-1)/n >= 3/4 of its hashes and survives tau=2/3; different
    // videos stay below 1/3. Video dedup composed from the existing
    // text machinery, no new join code ---
    Case("video_neardup", (s, dir) =>
      Dedup.jaccardPrefixPairs(videoTokenDocs(s, dir), shingleK = 1,
          tauNum = 2, tauDen = 3)
        .orderBy(col("a"), col("b")),
      // |sample(i)| = (seed*37 + i*11) % 8192, +20000 in regions r where
      // (seed*7 + r*3 + seed*r) % 19 < 6 (r = i*8//n), over n = 50+seed%37
      // mono frames, seed = doc_id % 40; frame j = i*32 // n, bit j set
      // iff the frame's floor-mean |amplitude| beats the overall floor-mean
      // per-frame 8x8 aHash recomputed from the luma formula, frame set
      // per doc (variant=1 drops base frame 0), tokens hashed with the
      // engine's md5-60 family, brute-force set-Jaccard at tau=2/3
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 30 AS seed, (doc_id // 30) % 2 AS variant,
        |         4 + ((doc_id % 30) % 3) * 2 AS w,
        |         4 + ((doc_id % 30) % 2) * 2 AS h,
        |         4 + (doc_id % 30) % 3 AS n
        |  FROM documents),
        |fr AS (SELECT DISTINCT seed, w, h, n FROM dims),
        |samp AS (
        |  SELECT fr.seed, f.f, (y.i * 8 + x.i) AS j,
        |         (fr.seed * 13
        |          + (f.f * 7 + 1)
        |            * ((y.i * fr.h // 8) * fr.w + (x.i * fr.w // 8)) * 3
        |          + f.f * 5) % 256 AS v
        |  FROM fr, generate_series(0, 5) f(f),
        |       generate_series(0, 7) x(i), generate_series(0, 7) y(i)
        |  WHERE f.f < fr.n),
        |m AS (SELECT seed, f, SUM(v) // 64 AS mean FROM samp GROUP BY 1, 2),
        |bits AS (
        |  SELECT s.seed, s.f, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (seed, f)),
        |fh AS (
        |  SELECT seed, f,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |tok AS (
        |  SELECT DISTINCT d.doc_id,
        |         CAST(concat('0x',
        |           substr(md5('0:' || fh.hi || ':' || fh.lo), 1, 15))
        |           AS BIGINT) AS hsh
        |  FROM dims d JOIN fh ON fh.seed = d.seed
        |    AND fh.f >= d.variant AND fh.f < d.n),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM tok x JOIN tok y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(i AS BIGINT) AS inter,
        |       CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb
        |FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |           JOIN sizes sb ON inter.b = sb.doc_id
        |WHERE i * 3 >= (sa.sz + sb.sz - i) * 2
        |ORDER BY a, b""".stripMargin),

    // --- day-2 video near-dup: the %10==0 videos arrive as the new
    // batch (decoded + frame-hashed batch-side only) and join the
    // persisted exact-Jaccard prefix index of history — equals the full
    // rerun restricted to batch-touching pairs ---
    Case("video_neardup_incr", (s, dir) => {
      val docs = videoTokenDocs(s, dir)
      storedIndex(s, dir, "idx_video_jaccard")(
          graft.scale.IndexStore.buildJaccardPrefix(
            docs.filter(col("doc_id") % 10 =!= 0), shingleK = 1,
            tauNum = 2, tauDen = 3))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    },
      // identical to video_neardup restricted to pairs touching a new
      // (%10==0) video — what the engine's frozen-index day-2 join must
      // reproduce exactly
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 30 AS seed, (doc_id // 30) % 2 AS variant,
        |         4 + ((doc_id % 30) % 3) * 2 AS w,
        |         4 + ((doc_id % 30) % 2) * 2 AS h,
        |         4 + (doc_id % 30) % 3 AS n
        |  FROM documents),
        |fr AS (SELECT DISTINCT seed, w, h, n FROM dims),
        |samp AS (
        |  SELECT fr.seed, f.f, (y.i * 8 + x.i) AS j,
        |         (fr.seed * 13
        |          + (f.f * 7 + 1)
        |            * ((y.i * fr.h // 8) * fr.w + (x.i * fr.w // 8)) * 3
        |          + f.f * 5) % 256 AS v
        |  FROM fr, generate_series(0, 5) f(f),
        |       generate_series(0, 7) x(i), generate_series(0, 7) y(i)
        |  WHERE f.f < fr.n),
        |m AS (SELECT seed, f, SUM(v) // 64 AS mean FROM samp GROUP BY 1, 2),
        |bits AS (
        |  SELECT s.seed, s.f, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (seed, f)),
        |fh AS (
        |  SELECT seed, f,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |tok AS (
        |  SELECT DISTINCT d.doc_id,
        |         CAST(concat('0x',
        |           substr(md5('0:' || fh.hi || ':' || fh.lo), 1, 15))
        |           AS BIGINT) AS hsh
        |  FROM dims d JOIN fh ON fh.seed = d.seed
        |    AND fh.f >= d.variant AND fh.f < d.n),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM tok x JOIN tok y ON x.hsh = y.hsh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(i AS BIGINT) AS inter,
        |       CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb
        |FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |           JOIN sizes sb ON inter.b = sb.doc_id
        |WHERE i * 3 >= (sa.sz + sb.sz - i) * 2
        |  AND (a % 10 = 0 OR b % 10 = 0)
        |ORDER BY a, b""".stripMargin),

    // --- REAL audio decode: deterministic 16-bit PCM WAV payloads
    //     round-tripped through the RIFF parser; amplitude mean in
    //     integer micro-units (abs_sum exact, division integral) ---
    // --- audio dedup: 32-bit amplitude-envelope fingerprint through the
    // REAL WAV decode; payload content keyed on doc_id % 40 so planted
    // recordings share fingerprints and hash-groupBy finds the groups —
    // the audio leg of the text/image/audio dedup trio ---
    Case("audio_fingerprint", (s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          // seed-dependent ENVELOPE (regions boosted when (region+seed)%3
          // hits), so same-seed docs share the fingerprint and different
          // seeds mostly differ — flat noise would hash identically
          val seed = id % 40
          val n = (50 + seed % 37).toInt
          (id, Multimodal.encodeWav(1, 8000, n, { i =>
            val r = i * 8 / n
            // seed×region CROSS term: the gate pattern over the 8
            // regions is seed-specific (19 distinct envelopes across
            // the 40 seeds), not a 3-phase global
            val boost = if ((seed * 7 + r * 3 + seed * r) % 19 < 6) 20000 else 0
            val mag = ((seed * 37 + i * 11) % 8192 + boost).toInt
            if (i % 2 == 0) mag else -mag
          }))
        }.toDF("doc_id", "payload")
      val fp = withPayload.as[(Long, Array[Byte])].map { case (id, p) =>
        (id, Multimodal.audioFingerprint32(p))
      }.toDF("doc_id", "fp")
      val groups = fp.groupBy("fp").agg(count(lit(1)).as("n_dups"))
      fp.join(groups, Seq("fp"))
        .select(col("doc_id"), col("fp"), col("n_dups"))
        .orderBy(col("doc_id"))
    },
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 40 AS seed,
        |         50 + (doc_id % 40) % 37 AS n
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, i.i AS i, d.n,
        |         ((d.seed * 37 + i.i * 11) % 8192)
        |           + CASE WHEN (d.seed * 7 + (i.i * 8 // d.n) * 3
        |                        + d.seed * (i.i * 8 // d.n)) % 19 < 6
        |                  THEN 20000 ELSE 0 END AS a
        |  FROM dims d JOIN generate_series(0, 99) i(i) ON i.i < d.n),
        |fr AS (SELECT doc_id, (i * 32 // n) AS j, SUM(a) AS s, COUNT(*) AS c
        |       FROM samp GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(a) // MAX(n) AS overall
        |        FROM samp GROUP BY 1),
        |bits AS (
        |  SELECT f.doc_id, f.j,
        |         CASE WHEN f.s // f.c > t.overall THEN 1 ELSE 0 END AS b
        |  FROM fr f JOIN tot t USING (doc_id)),
        |fps AS (
        |  SELECT doc_id,
        |         CAST(SUM(b * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS fp
        |  FROM bits GROUP BY 1),
        |g AS (SELECT fp, COUNT(*) AS nn FROM fps GROUP BY 1)
        |SELECT f.doc_id, f.fp, CAST(g.nn AS BIGINT) AS n_dups
        |FROM fps f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin),

    // --- NEAR-duplicate audio dedup: 64-bit DIFFERENCE fingerprint
    // (Haitsma-Kalker adjacent-frame energy comparisons) through the
    // real WAV decode — uniform gain cancels out of every comparison
    // (the re-encode/normalize case collides EXACTLY) and a local edit
    // flips only the bits whose frames overlap it, so Hamming radius
    // search is meaningful, unlike the global-mean envelope fingerprint.
    // Plants a gain-doubled, locally-perturbed variant of each of 40
    // recordings (frames [seed, seed+2] boosted — flips <= 4 bits),
    // collapses to distinct fingerprints, then the SAME lossless 8-band
    // Hamming-LSH + VecHamming verification as image_neardup, provably
    // equal to the oracle's brute-force Hamming join (radius < bands) ---
    Case("audio_neardup", (s, dir) => {
      val uniq = audioDiffHashes(s, dir).groupBy("fp_hi", "fp_lo")
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      val pairs = Dedup.hammingBandPairs(uniq, radius = 6, bands = 8,
        idCol = "rep_id", hiCol = "fp_hi", loCol = "fp_lo")
      pairs
        .join(uniq.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(uniq.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      // brute-force Hamming <= 6 over the distinct 64-bit DIFFERENCE
      // fingerprints — what the engine's lossless banding (radius < bands)
      // provably reproduces; bit j compares frames j and j+1 by the exact
      // cross-multiplied rational s_j/c_j > s_{j+1}/c_{j+1}
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 2 AS variant,
        |         130 + (doc_id % 40) % 37 AS n
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (i.i * 65 // d.n) AS f,
        |         (CASE WHEN d.variant = 1 THEN 2 ELSE 1 END) *
        |         ((((d.seed * 1000003 + i.i) * 2654435761) // 65536) % 8192
        |          + CASE WHEN d.variant = 1
        |                      AND (i.i * 65 // d.n)
        |                          BETWEEN d.seed AND d.seed + 2
        |                 THEN 2500 ELSE 0 END) AS a
        |  FROM dims d JOIN generate_series(0, 166) i(i) ON i.i < d.n),
        |fr AS (SELECT doc_id, f, SUM(a) AS s, COUNT(*) AS c
        |       FROM samp GROUP BY 1, 2),
        |bits AS (
        |  SELECT x.doc_id, x.f AS j,
        |         CASE WHEN x.s * y.c > y.s * x.c THEN 1 ELSE 0 END AS b
        |  FROM fr x JOIN fr y ON x.doc_id = y.doc_id AND y.f = x.f + 1
        |  WHERE x.f < 64),
        |fps AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS fp_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS fp_lo
        |  FROM bits GROUP BY 1),
        |uniq AS (
        |  SELECT fp_hi, fp_lo, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
        |  FROM fps GROUP BY 1, 2)
        |SELECT u1.rep_id AS a, u2.rep_id AS b,
        |       CAST(bit_count(xor(u1.fp_hi, u2.fp_hi)) +
        |            bit_count(xor(u1.fp_lo, u2.fp_lo)) AS INT) AS hamming,
        |       CAST(u1.n_docs AS BIGINT) AS n_docs_a,
        |       CAST(u2.n_docs AS BIGINT) AS n_docs_b
        |FROM uniq u1 JOIN uniq u2 ON u1.rep_id < u2.rep_id
        |WHERE bit_count(xor(u1.fp_hi, u2.fp_hi)) +
        |      bit_count(xor(u1.fp_lo, u2.fp_lo)) <= 6
        |ORDER BY a, b""".stripMargin),

    // --- day-2 audio near-dup: the %7==0 recordings arrive as the new
    // batch (decoded + fingerprinted batch-side only) and join the
    // persisted Hamming band index of history — same lossless banding
    // (radius < bands), pairs touching a new node only ---
    Case("audio_neardup_incr", (s, dir) => {
      val hashed = audioDiffHashes(s, dir)
      def uniq(side: org.apache.spark.sql.DataFrame) =
        side.groupBy("fp_hi", "fp_lo")
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      // batch split on % 7 (coprime with the 40-seed fixture) so every
      // planted recording family straddles the history/batch boundary
      // and the index join surfaces cross-side distance-0 duplicates
      val hist = uniq(hashed.filter(col("doc_id") % 7 =!= 0))
      val fresh = uniq(hashed.filter(col("doc_id") % 7 === 0))
      val pairs = storedIndex(s, dir, "idx_audio_hamming")(
          graft.scale.IndexStore.buildHamming(hist, radius = 6, bands = 8,
            idCol = "rep_id", hiCol = "fp_hi", loCol = "fp_lo"))
        .probe(fresh)
      val nodes = hist.unionByName(fresh)
      pairs
        .join(nodes.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(nodes.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      // day-2 twin: per-side distinct fingerprints (history %10!=0, new
      // %10=0), brute-force Hamming <= 6 over the combined node set
      // restricted to pairs touching a new node — what the engine's
      // band-index join provably reproduces (radius < bands)
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 40 AS seed, (doc_id // 40) % 2 AS variant,
        |         130 + (doc_id % 40) % 37 AS n
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (i.i * 65 // d.n) AS f,
        |         (CASE WHEN d.variant = 1 THEN 2 ELSE 1 END) *
        |         ((((d.seed * 1000003 + i.i) * 2654435761) // 65536) % 8192
        |          + CASE WHEN d.variant = 1
        |                      AND (i.i * 65 // d.n)
        |                          BETWEEN d.seed AND d.seed + 2
        |                 THEN 2500 ELSE 0 END) AS a
        |  FROM dims d JOIN generate_series(0, 166) i(i) ON i.i < d.n),
        |fr AS (SELECT doc_id, f, SUM(a) AS s, COUNT(*) AS c
        |       FROM samp GROUP BY 1, 2),
        |bits AS (
        |  SELECT x.doc_id, x.f AS j,
        |         CASE WHEN x.s * y.c > y.s * x.c THEN 1 ELSE 0 END AS b
        |  FROM fr x JOIN fr y ON x.doc_id = y.doc_id AND y.f = x.f + 1
        |  WHERE x.f < 64),
        |fps AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS fp_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS fp_lo
        |  FROM bits GROUP BY 1),
        |nodes AS (
        |  SELECT fp_hi, fp_lo, MIN(doc_id) AS rep_id,
        |         COUNT(*) AS n_docs, 0 AS isnew
        |  FROM fps WHERE doc_id % 7 != 0 GROUP BY 1, 2
        |  UNION ALL
        |  SELECT fp_hi, fp_lo, MIN(doc_id) AS rep_id,
        |         COUNT(*) AS n_docs, 1 AS isnew
        |  FROM fps WHERE doc_id % 7 = 0 GROUP BY 1, 2)
        |SELECT least(u1.rep_id, u2.rep_id) AS a,
        |       greatest(u1.rep_id, u2.rep_id) AS b,
        |       CAST(bit_count(xor(u1.fp_hi, u2.fp_hi)) +
        |            bit_count(xor(u1.fp_lo, u2.fp_lo)) AS INT) AS hamming,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u1.n_docs
        |            ELSE u2.n_docs END AS BIGINT) AS n_docs_a,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u2.n_docs
        |            ELSE u1.n_docs END AS BIGINT) AS n_docs_b
        |FROM nodes u1 JOIN nodes u2
        |  ON u1.rep_id < u2.rep_id AND (u1.isnew = 1 OR u2.isnew = 1)
        |WHERE bit_count(xor(u1.fp_hi, u2.fp_hi)) +
        |      bit_count(xor(u1.fp_lo, u2.fp_lo)) <= 6
        |ORDER BY a, b""".stripMargin),

    // --- blocked fuzzy self-match of part names: same last token (the
    // noun), Levenshtein <= 2 — equi-join on the block, never all-pairs ---
    Case("fuzzy_names", (s, dir) =>
      graft.analysis.FuzzyJoin.selfPairs(T(s, dir, "part"), "p_name",
          n => element_at(split(n, " "), -1), maxDist = 2)
        .select(col("name_a"), col("name_b"),
          col("dist").cast("int").as("dist"))
        .orderBy(col("name_a"), col("name_b")),
      """WITH nm AS (SELECT DISTINCT p_name AS name,
        |                   string_split(p_name, ' ')[-1] AS block
        |            FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM nm a JOIN nm b ON a.block = b.block AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2""".stripMargin),

    // --- sorted-neighborhood linkage: the blocking-free complement of
    // fuzzy_names (one distributed sort, rank-offset equi-join) ---
    Case("fuzzy_sorted", (s, dir) =>
      graft.analysis.FuzzyJoin.sortedNeighborPairs(
          T(s, dir, "part"), "p_name", window = 4, maxDist = 6)
        .select(col("name_a"), col("name_b"),
          col("dist").cast("int").as("dist"))
        .orderBy(col("name_a"), col("name_b")),
      """WITH nm AS (SELECT DISTINCT p_name AS name FROM part),
        |r AS (SELECT name, ROW_NUMBER() OVER (ORDER BY name) - 1 AS rk
        |      FROM nm),
        |p AS (SELECT a.name AS name_a, b.name AS name_b
        |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT name_a, name_b,
        |       CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 6
        |ORDER BY 1, 2""".stripMargin),

    // --- LOSSLESS edit-distance self-join: q-gram count filter +
    // banded-DP verification — equals brute force (the oracle runs the
    // brute-force join), unlike fuzzy_names/fuzzy_sorted whose blocking
    // is a recall heuristic ---
    Case("fuzzy_exact", (s, dir) =>
      graft.scale.Dedup.editDistancePairs(T(s, dir, "part"), maxDist = 2,
          textCol = "p_name", idCol = "p_partkey")
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b")),
      """SELECT a.p_partkey AS a, b.p_partkey AS b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin),

    // --- cross-table record linkage: a deterministically-perturbed
    // noisy side (first char dropped) linked back against the canonical
    // part names through the same lossless q-gram count filter ---
    Case("fuzzy_link", (s, dir) => {
      val part = T(s, dir, "part")
      val noisy = part.select((col("p_partkey") + 1000000L).as("p_partkey"),
        expr("substr(p_name, 2)").as("p_name"))
      graft.scale.Dedup.editDistanceLink(noisy, part, maxDist = 2,
          textCol = "p_name", idCol = "p_partkey")
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    },
      """WITH n AS (SELECT p_partkey + 1000000 AS a,
        |                  substr(p_name, 2) AS sa FROM part)
        |SELECT n.a, p.p_partkey AS b,
        |       CAST(levenshtein(n.sa, p.p_name) AS INT) AS dist
        |FROM n JOIN part p
        |  ON abs(length(n.sa) - length(p.p_name)) <= 2
        |WHERE levenshtein(n.sa, p.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin),

    fuzzyExactIncr,

    // --- day-2 record linkage: a new noisy batch (every 7th part,
    // first char dropped, shifted ids) links against the FROZEN prefix
    // index of the canonical part table — the deploy shape where the
    // canonical side never re-grams ---
    Case("fuzzy_link_incr", (s, dir) => {
      val part = T(s, dir, "part")
      val idx = storedIndex(s, dir, "idx_editdist_full")(
          graft.scale.IndexStore.buildEditDistance(part, maxDist = 2,
            textCol = "p_name", idCol = "p_partkey"))
        .asInstanceOf[graft.scale.IndexStore.EditDistanceIndex]
      val noisy = part.filter(col("p_partkey") % 7 === 0)
        .select((col("p_partkey") + 1000000L).as("p_partkey"),
          expr("substr(p_name, 2)").as("p_name"))
      idx.probeLink(noisy)
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    },
      """WITH n AS (SELECT p_partkey + 1000000 AS a,
        |                  substr(p_name, 2) AS sa FROM part
        |           WHERE p_partkey % 7 = 0)
        |SELECT n.a, p.p_partkey AS b,
        |       CAST(levenshtein(n.sa, p.p_name) AS INT) AS dist
        |FROM n JOIN part p
        |  ON abs(length(n.sa) - length(p.p_name)) <= 2
        |WHERE levenshtein(n.sa, p.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin),

    // --- PSI drift (the model-monitoring standard, tail-weighted where
    // TV is linear): add-one-smoothed bins over the same halves ---
    Case("value_psi", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000000000") % 2).cast("int").as("side"))
      graft.analysis.Drift.psiDrift(ev, "event_type", "cents", "side")
        .orderBy(col("event_type"))
    },
      """WITH v AS (SELECT event_type AS k,
        |                  CAST(FLOOR(value * 100) AS BIGINT) AS x,
        |                  CAST((epoch_us(ts) // 1000000) % 2 AS INT) AS s
        |           FROM events),
        |b AS (SELECT k, MIN(x) AS lo, MAX(x) - MIN(x) + 1 AS w
        |      FROM v GROUP BY 1),
        |bn AS (SELECT v.k, ((x - lo) * 16) // w AS bin, s
        |       FROM v JOIN b ON v.k = b.k),
        |c AS (SELECT k, bin,
        |             CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM bn GROUP BY 1, 2),
        |t AS (SELECT k, CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY 1),
        |g AS (SELECT t.k, t.n1, t.n2, gs.generate_series AS bin
        |      FROM t, generate_series(0, 15) gs),
        |p AS (SELECT g.k, g.n1, g.n2,
        |             (COALESCE(c.c1, 0) + 1.0) / (g.n1 + 16) AS p,
        |             (COALESCE(c.c2, 0) + 1.0) / (g.n2 + 16) AS q
        |      FROM g LEFT JOIN c ON c.k = g.k AND c.bin = g.bin)
        |SELECT k AS event_type, n1, n2,
        |       ROUND(SUM((p - q) * ln(p / q)), 6) AS psi
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // --- distribution drift: total-variation distance between the
    // even- and odd-second halves of each event type's value stream,
    // integer numerator over pooled 16-bin edges ---
    Case("value_drift", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000000000") % 2).cast("int").as("side"))
      graft.analysis.Drift.tvDrift(ev, "event_type", "cents", "side")
        .orderBy(col("event_type"))
    },
      """WITH v AS (SELECT event_type AS k,
        |                  CAST(FLOOR(value * 100) AS BIGINT) AS x,
        |                  CAST((epoch_us(ts) // 1000000) % 2 AS INT) AS s
        |           FROM events),
        |b AS (SELECT k, MIN(x) AS lo, MAX(x) - MIN(x) + 1 AS w
        |      FROM v GROUP BY 1),
        |bn AS (SELECT v.k, ((x - lo) * 16) // w AS bin, s
        |       FROM v JOIN b ON v.k = b.k),
        |c AS (SELECT k, bin,
        |             CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM bn GROUP BY 1, 2),
        |t AS (SELECT k, CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY 1)
        |SELECT c.k AS event_type, t.n1 AS n1, t.n2 AS n2,
        |       CAST(SUM(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS tv_num
        |FROM c JOIN t ON c.k = t.k
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    // --- Deequ-style data-quality gate: exact violation counts for
    // null/range/uniqueness/referential checks, one scan or shuffle
    // each, unioned into the audit report ---
    // --- functional-dependency audit: one FD that must hold (unique
    // key determines anything) and one that genuinely fails ---
    Case("dq_fd", (s, dir) => {
      import graft.scale.DataQuality._
      report(Seq(
        functionalDependency(T(s, dir, "orders"), "o_orderkey", "o_custkey"),
        functionalDependency(T(s, dir, "lineitem"), "l_orderkey", "l_returnflag")
      )).orderBy(col("check"))
    },
      """WITH f1 AS (SELECT o_orderkey, COUNT(*) AS c,
        |                   COUNT(DISTINCT o_custkey) AS d
        |            FROM orders GROUP BY 1),
        |f2 AS (SELECT l_orderkey, COUNT(*) AS c,
        |              COUNT(DISTINCT l_returnflag) AS d
        |       FROM lineitem GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'fd(l_orderkey->l_returnflag)' AS "check",
        |         CAST(SUM(c) AS BIGINT) AS n_checked,
        |         CAST(SUM(CASE WHEN d > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_violations
        |  FROM f2
        |  UNION ALL
        |  SELECT 'fd(o_orderkey->o_custkey)',
        |         CAST(SUM(c) AS BIGINT),
        |         CAST(SUM(CASE WHEN d > 1 THEN c ELSE 0 END) AS BIGINT)
        |  FROM f1
        |) ORDER BY "check"""".stripMargin),

    Case("dq_report", (s, dir) => {
      val orders = T(s, dir, "orders")
      val li = T(s, dir, "lineitem")
      import graft.scale.DataQuality._
      report(Seq(
        notNull(orders, "o_custkey"),
        inRange(li, "l_quantity", lit(1), lit(50)),
        inRange(li, "l_discount", lit(0.0), lit(0.05)),
        unique(orders, Seq("o_orderkey")),
        unique(li, Seq("l_orderkey", "l_linenumber")),
        refIntegrity(li, "l_orderkey", orders, "o_orderkey"),
        satisfies(li, "charge_consistent",
          col("l_extendedprice") >= col("l_quantity"))
      )).orderBy(col("check"))
    },
      """SELECT * FROM (
        |  SELECT 'not_null(o_custkey)' AS "check",
        |         CAST(COUNT(*) AS BIGINT) AS n_checked,
        |         CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'in_range(l_quantity)', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |                        OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_discount)', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
        |                        OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)', CAST(SUM(c) AS BIGINT),
        |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)', CAST(SUM(c) AS BIGINT),
        |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'ref(l_orderkey->o_orderkey)',
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
        |         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'satisfies(charge_consistent)', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CASE WHEN l_extendedprice >= l_quantity
        |                       THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |) ORDER BY "check"""".stripMargin),

    // --- exact global p50/p90/p99 by histogram refinement: bin-count
    // sketch (mergeable, one scan) + re-extraction of the ONE bin each
    // rank lands in — never a global sort/window over the corpus ---
    Case("quantile_sketch", (s, dir) => {
      val cents = T(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.scale.Sketches.histQuantiles(cents, "cents")
        .orderBy(col("per_mille"))
    },
      """WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x
        |           FROM lineitem),
        |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(COUNT(*) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v),
        |bin AS (SELECT x, ((x - lo) * 1024) // w AS bn FROM v, b),
        |c AS (SELECT bn, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM bin GROUP BY 1),
        |cum AS (SELECT bn,
        |               CAST(SUM(cnt) OVER (ORDER BY bn) AS BIGINT) AS cm,
        |               CAST(SUM(cnt) OVER (ORDER BY bn) - cnt AS BIGINT) AS bef
        |        FROM c),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM q CROSS JOIN b),
        |sel AS (SELECT t.pm, t.r, t.n,
        |               t.lo + (cum.bn * t.w) // 1024 AS est
        |        FROM t JOIN cum ON cum.cm >= t.r AND cum.bef < t.r),
        |sorted AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v)
        |SELECT CAST(sel.pm AS INT) AS per_mille, sel.n AS n,
        |       CAST(sel.est AS BIGINT) AS est, s.x AS exact,
        |       ABS(s.x - sel.est) AS abs_err
        |FROM sel JOIN sorted s ON s.rn = sel.r
        |ORDER BY 1""".stripMargin),

    // --- leakage-safe train/val/test split: the split hash is taken on
    // the near-dup component representative, so clusters never straddle
    // the boundary ---
    // --- corpus snapshot diff: synthetic snapshot B (every 13th doc
    // removed, every 7th survivor edited, every 11th cloned as new)
    // diffed against A by content hash — the incremental-reprocessing
    // gate; unchanged rows suppressed ---
    Case("corpus_diff", (s, dir) => {
      val a = T(s, dir, "documents")
      val b = a.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      Curation.corpusDiff(a, b)
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"), col("status"))
    },
      """WITH a AS (SELECT doc_id, md5(text) AS ha FROM documents),
        |b0 AS (SELECT doc_id,
        |              CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                   ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 != 0),
        |b AS (SELECT doc_id, md5(text) AS hb FROM b0
        |      UNION ALL
        |      SELECT doc_id + 100000, md5(text) FROM documents
        |      WHERE doc_id % 11 = 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.ha IS NULL THEN 'added'
        |            WHEN b.hb IS NULL THEN 'removed'
        |            WHEN a.ha != b.hb THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE (CASE WHEN a.ha IS NULL THEN 'added'
        |            WHEN b.hb IS NULL THEN 'removed'
        |            WHEN a.ha != b.hb THEN 'changed'
        |            ELSE 'unchanged' END) != 'unchanged'
        |ORDER BY doc_id, status""".stripMargin),

    // --- incremental aggregate maintenance: snapshot B's per-source
    // (docs, tokens) aggregate computed as snapshot A's stored
    // aggregate + the corpusDiff delta — B itself is never
    // re-aggregated by the engine; the oracle aggregates B directly,
    // so the green row PROVES the maintained aggregate is exact ---
    Case("incr_agg", (s, dir) => {
      val a = T(s, dir, "documents")
      val b = a.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      val base = a.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"))
      // a source whose docs all vanish keeps an n_docs=0 row in the
      // maintained table; the direct-agg oracle has no such row — drop
      // them to compare under the oracle's "rows that exist in B" view
      Curation.maintainAgg(base, Curation.corpusDiff(a, b), a, b)
        .filter(col("n_docs") > 0)
        .orderBy(col("source"))
    },
      // the oracle aggregates snapshot B DIRECTLY; the engine maintains
      // A's aggregate incrementally through the diff — equality is the
      // proof the maintenance algebra is exact
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
        |           AS text
        |  FROM documents WHERE doc_id % 13 != 0
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents
        |  WHERE doc_id % 11 = 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(text), ' +')))
        |            AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- STREAMING ORACLE HOOKS: the streaming operators themselves run
    // in batch mode (Spark executes flatMapGroupsWithState / watermarked
    // window aggs over a batch Dataset as one closed micro-batch with
    // empty initial state), so the streaming SEMANTICS get a DuckDB
    // oracle row — not just batch-parity specs. cdc end-state: the
    // total order (seq, op, v) picks the same winner as the streaming
    // state machine; stale = rows that lost to an already-applied
    // change (duplicates of an applied tuple) ---
    // --- the streaming guarded matcher (flatMapGroupsWithState over
    // (trigger, blocker, target) event streams) in batch mode: one
    // matched verdict per target event; the oracle replays the state
    // machine as two strictly-past windows ---
    Case("stream_guarded_endstate", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.guardedMatch(ev, target = "purchase",
          trigger = "click", blocker = "error", windowUs = 3600000000L,
          tsCol = "t_us")
        .select(col("k").as("user_id"), col("t").as("t_us"), col("matched"))
        .orderBy(col("user_id"), col("t_us"))
    },
      // the streaming cdc state machine applies changes in (seq, op, v)
      // order, keeping strict ascents: end state = max tuple, stale =
      // duplicates of an applied tuple
      // the guard state machine replayed as two strictly-past windows:
      // lt/lb = latest trigger/blocker before the target in (t, id) order
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type, t,
        |         MAX(CASE WHEN event_type = 'click' THEN t END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS lt,
        |         MAX(CASE WHEN event_type = 'error' THEN t END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS lb
        |  FROM e)
        |SELECT user_id, t AS t_us,
        |       lt IS NOT NULL AND t - lt <= 3600000000
        |         AND (lb IS NULL OR lb <= lt) AS matched
        |FROM w WHERE event_type = 'purchase' ORDER BY 1, 2""".stripMargin),

    // --- the streaming rolling-contribution emitter in batch mode: per
    // user one 'dau' row per distinct active day plus one 'rolling' row
    // per day covered by any trailing-7-day window, each exactly once
    // (the O(1)-state high-water contract); the oracle is the distinct
    // union of the per-day ranges ---
    Case("stream_rolling_endstate", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("t_us"))
      graft.streaming.StreamingOps.rollingContributions(ev)
        .select(col("k").as("user_id"), col("day"), col("kind"),
          col("in_order"))
        .orderBy(col("user_id"), col("day"), col("kind"))
    },
      // the high-water emitter's output set: one dau row per distinct
      // active day, one rolling row per day covered by any trailing-7-day
      // range (distinct union of the per-day ranges); in-order batch
      // replay produces no late rows
      """WITH e AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |roll AS (
        |  SELECT DISTINCT user_id, d AS day
        |  FROM (SELECT user_id,
        |               UNNEST(generate_series(day, day + 6)) AS d
        |        FROM e))
        |SELECT user_id, day, 'dau' AS kind, TRUE AS in_order FROM e
        |UNION ALL
        |SELECT user_id, day, 'rolling' AS kind, TRUE AS in_order FROM roll
        |ORDER BY 1, 2, 3""".stripMargin),

    // --- the streaming subtree sampler in batch mode: same md5 tree-key
    // keep rule as the batch operator, so its oracle is
    // trace_sample_calls' SQL verbatim (registered as a twin) ---
    Case("stream_sample_endstate", (s, dir) =>
      graft.streaming.StreamingOps.sampledCalls(TraceGen.callTrace(s, dir),
          2, 5)
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process)),
      TraceCases.traceSampleCalls.oracle),

    Case("stream_cdc_endstate", (s, dir) => {
      val changes = T(s, dir, "events").select(
        col("user_id"),
        expr("event_id div 20").as("seq"),
        when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        floor(col("value") / 100).cast("long").as("val_c"))
      graft.streaming.StreamingOps.cdcApply(changes)
        .orderBy(col("k"))
    },
      """WITH ch AS (
        |  SELECT user_id AS k, event_id // 20 AS seq,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         CAST(floor(value / 100) AS BIGINT) AS v
        |  FROM events),
        |best AS (
        |  SELECT k, seq, op, v, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY seq DESC, op DESC, v DESC) AS rn
        |  FROM ch),
        |stale AS (
        |  SELECT k, CAST(COUNT(*) - COUNT(DISTINCT (seq, op, v)) AS BIGINT)
        |    AS n_stale
        |  FROM ch GROUP BY 1)
        |SELECT b.k, b.seq, b.op, b.v, b.op = 'D' AS deleted, s.n_stale
        |FROM best b JOIN stale s USING (k) WHERE rn = 1
        |ORDER BY b.k""".stripMargin),

    // --- the streaming sessionizer (session_window + watermark) run in
    // batch mode: per-user 30-min-gap sessions with event counts and
    // cent volume; the oracle replicates the PINNED merge rule (an
    // event at exactly prev+gap still merges — StreamSessionSpec) via
    // gaps-and-islands, session_end = last event + gap ---
    Case("stream_session_endstate", (s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id").cast("long").as("process"),
        // parquet µs timestamps read as NTZ; session tz is UTC, so the
        // cast to (ltz) timestamp is value-preserving
        col("ts").cast("timestamp").as("event_time"),
        round(col("value") * 100).cast("long").as("attr_msg_length"))
      graft.streaming.StreamingOps.sessions(ev, gap = "30 minutes")
        .select(col("process").as("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("volume"))
        .orderBy(col("user_id"), col("start_us"))
    },
      """WITH e AS (
        |  SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts, c,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ni
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, c,
        |         SUM(ni) OVER (PARTITION BY user_id ORDER BY ts) AS sess
        |  FROM m)
        |SELECT user_id, epoch_us(MIN(ts)) AS start_us,
        |       epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(c) AS BIGINT) AS volume
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, start_us""".stripMargin),

    // --- the streaming FIFO channel matcher (flatMapGroupsWithState
    // keyed by (src, dst); state = pending unmatched queue + next rank)
    // in batch mode: one closed micro-batch with empty initial state
    // pairs the k-th send with the k-th receive of each channel exactly
    // like the batch operator; the oracle replays the rank pairing as
    // two ROW_NUMBER windows ---
    Case("stream_match_endstate", (s, dir) =>
      graft.streaming.StreamingComm.matchMessages(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("k")),
      // the streaming FIFO channel matcher replayed as two ranked windows:
      // in one closed micro-batch each side orders by (ts, id) per channel
      // and pairs positionally — the k-th send with the k-th receive
      commCte +
      """, sends AS (
        |  SELECT CAST(process AS BIGINT) AS src,
        |         CAST(attr_receiver AS BIGINT) AS dst,
        |         timestamp_ns AS send_ts, event_id AS send_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT CAST(process AS BIGINT) AS dst,
        |         CAST(attr_receiver AS BIGINT) AS src,
        |         timestamp_ns AS recv_ts, event_id AS recv_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT s.src, s.dst, CAST(s.k AS BIGINT) AS k,
        |       s.send_event_id, r.recv_event_id, s.send_ts, r.recv_ts,
        |       CAST(r.recv_ts - s.send_ts AS BIGINT) AS latency_ns
        |FROM sends s
        |JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |ORDER BY s.src, s.dst, k""".stripMargin),

    // --- the stream-static MinHash-LSH candidate join (dedup-at-ingest
    // of new docs against the persisted batch band index — stateless,
    // no watermark) in batch mode: %10==0 docs are the stream, the rest
    // the index; one row per matching (band, band_key) ---
    Case("stream_lsh_endstate", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.streaming.StreamingLsh.candidatesAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0),
          Dedup.bandTable(
            Dedup.minhashSignatures(docs.filter(col("doc_id") % 10 =!= 0))))
        .orderBy(col("doc_id"), col("index_id"), col("band"))
    },
      // the stream-static LSH join: new-doc band keys against the batch
      // band index — one row per matching (band, band_key)
      shinglesCte + lshPairsCte +
      """SELECT x.doc_id AS doc_id, y.doc_id AS index_id,
        |       CAST(x.band AS INT) AS band
        |FROM band x JOIN band y
        |  ON x.band = y.band AND x.band_key = y.band_key
        |WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 != 0
        |ORDER BY doc_id, index_id, band""".stripMargin),

    // --- the stream-static Hamming candidate join (image dedup-at-ingest
    // against the persisted band table, VERIFIED in the same projection)
    // in batch mode: %10==0 image hashes stream against the index of the
    // rest; one verified row per shared band ---
    Case("stream_hamming_endstate", (s, dir) => {
      val hashed = neardupHashes(s, dir)
      graft.streaming.StreamingLsh.hammingAgainstIndex(
          hashed.filter(col("doc_id") % 10 === 0),
          Dedup.hammingBandTable(hashed.filter(col("doc_id") % 10 =!= 0),
            bands = 8),
          radius = 6, bands = 8)
        .orderBy(col("doc_id"), col("index_id"), col("band"))
    },
      // the stream-static Hamming join: new image hashes band-join the
      // batch band table and verify in the same projection (radius 6 of
      // 8 bands) — one verified row per shared band
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 50 AS seed, (doc_id // 50) % 2 AS variant,
        |         8 + (doc_id % 50) % 5 AS w, 6 + (doc_id % 50) % 4 AS h
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, (y.i * 8 + x.i) AS j,
        |         CASE WHEN d.variant = 1
        |                   AND (y.i * d.h // 8) * d.w + (x.i * d.w // 8) = 0
        |              THEN (d.seed * 31 + 128) % 256
        |              ELSE (d.seed * 31 +
        |                    ((y.i * d.h // 8) * d.w + (x.i * d.w // 8)) * 7)
        |                   % 256 END AS v
        |  FROM dims d, generate_series(0, 7) x(i), generate_series(0, 7) y(i)),
        |m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM samp GROUP BY 1),
        |bits AS (
        |  SELECT s.doc_id, s.j, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS b
        |  FROM samp s JOIN m USING (doc_id)),
        |hashes AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN j >= 32
        |              THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
        |           AS BIGINT) AS ahash_hi,
        |         CAST(SUM(CASE WHEN j < 32
        |              THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
        |           AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1),
        |bnd AS (
        |  SELECT doc_id, ahash_hi, ahash_lo, b.i AS band,
        |         CASE WHEN b.i < 4 THEN (ahash_lo >> (b.i * 8)) & 255
        |              ELSE (ahash_hi >> (b.i * 8 - 32)) & 255 END AS band_key
        |  FROM hashes, generate_series(0, 7) b(i))
        |SELECT n.doc_id AS doc_id, h.doc_id AS index_id,
        |       CAST(n.band AS INT) AS band,
        |       CAST(bit_count(xor(n.ahash_hi, h.ahash_hi)) +
        |            bit_count(xor(n.ahash_lo, h.ahash_lo)) AS INT) AS hamming
        |FROM bnd n JOIN bnd h ON n.band = h.band AND n.band_key = h.band_key
        |WHERE n.doc_id % 10 = 0 AND h.doc_id % 10 != 0
        |  AND bit_count(xor(n.ahash_hi, h.ahash_hi)) +
        |      bit_count(xor(n.ahash_lo, h.ahash_lo)) <= 6
        |ORDER BY doc_id, index_id, band""".stripMargin),

    // --- the streaming backward as-of join (flatMapGroupsWithState;
    // state = ONE right row per key) in batch mode: every purchase
    // enriched with the latest view at or before it; the oracle replays
    // the inclusive/tie rules (right before left at equal ts, right
    // ties resolve to the highest id) as a ROW_NUMBER window ---
    Case("stream_asof_endstate", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
        .withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      graft.streaming.StreamingOps.asOfLatest(purchases, views,
          keyCol = "user_id", tsCol = "t_us", idCol = "event_id",
          valCol = "value")
        .select(col("k").as("user_id"), col("id").as("event_id"),
          col("t").as("t_us"), col("r_id").as("view_event_id"),
          col("r_t").as("view_t_us"), round(col("r_v"), 4).as("view_value"))
        .orderBy(col("event_id"))
    },
      // the as-of state machine's batch replay: latest view at or before
      // each purchase (inclusive), right ties to the highest event id
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS t, value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.event_id AS pid, v.event_id AS vid, v.t AS vt,
        |             v.value AS vv,
        |             ROW_NUMBER() OVER (PARTITION BY p.event_id
        |               ORDER BY v.t DESC, v.event_id DESC) AS rn
        |      FROM p JOIN v ON p.user_id = v.user_id AND v.t <= p.t)
        |SELECT p.user_id, p.event_id, p.t AS t_us,
        |       CAST(j.vid AS BIGINT) AS view_event_id,
        |       CAST(j.vt AS BIGINT) AS view_t_us,
        |       ROUND(j.vv, 4) AS view_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        |  ON p.event_id = j.pid
        |ORDER BY p.event_id""".stripMargin),

    // --- the streaming funnel state machine (flatMapGroupsWithState;
    // state = times of the steps reached so far) in batch mode: per
    // user the first click, the first view STRICTLY after it, the
    // first purchase strictly after that — the oracle replays the
    // strict-progression rule as three nested min-aggregations ---
    Case("stream_funnel_endstate", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("t_us"),
          col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.funnel(ev,
          Seq("click", "view", "purchase"),
          keyCol = "user_id", tsCol = "t_us", idCol = "event_id")
        .select(col("k").as("user_id"), col("depth"), col("t").as("t_us"))
        .orderBy(col("user_id"), col("depth"))
    },
      // the funnel state machine's strict progression: first click, first
      // view strictly after it, first purchase strictly after that
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t FROM e
        |       WHERE event_type = 'click' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.t) AS t FROM e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t
        |       WHERE e.event_type = 'view' GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.t) AS t FROM e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT user_id, 1 AS depth, t AS t_us FROM s1
        |UNION ALL SELECT user_id, 2, t FROM s2
        |UNION ALL SELECT user_id, 3, t FROM s3
        |ORDER BY user_id, depth""".stripMargin),

    // --- the streaming concurrency segmenter (flatMapGroupsWithState;
    // state = (last tick, open-span level) per process) in batch mode
    // over the call trace's item+ship interval deltas: each tick closes
    // the previous constant-level segment; the oracle replays the sweep
    // as a net-per-tick running sum + LEAD window ---
    Case("stream_conc_endstate", (s, dir) => {
      val iv = TraceGen.callIntervals(s, dir)
      val deltas = iv.select(col("process"),
          explode(array(
            struct(col("start").as("t"), lit(1L).as("delta")),
            struct(col("end").as("t"), lit(-1L).as("delta")))).as("d"))
        .select(col("process"), col("d.t").as("t"), col("d.delta").as("delta"))
      graft.streaming.StreamingOps.concurrency(deltas, keyCol = "process",
          tsCol = "t", deltaCol = "delta")
        .select(col("k").as("process"), col("level"), col("t0"), col("t1"),
          col("in_order"))
        .orderBy(col("process"), col("t0"))
    },
      // the concurrency segmenter's sweep: net delta per (process, tick),
      // running-sum level, each tick closing the segment it opens at LEAD
      callCte +
      """, d AS (
        |  SELECT process, t0 AS t, 1 AS delta FROM item
        |  UNION ALL SELECT process, t1, -1 FROM item
        |  UNION ALL SELECT process, s0, 1 FROM item
        |  UNION ALL SELECT process, s1, -1 FROM item),
        |ticks AS (SELECT process, t, SUM(delta) AS net
        |          FROM d GROUP BY process, t),
        |lev AS (SELECT process, t,
        |          SUM(net) OVER (PARTITION BY process ORDER BY t) AS level,
        |          LEAD(t) OVER (PARTITION BY process ORDER BY t) AS t1
        |        FROM ticks)
        |SELECT CAST(process AS BIGINT) AS process,
        |       CAST(level AS BIGINT) AS level, t AS t0, t1,
        |       TRUE AS in_order
        |FROM lev WHERE t1 IS NOT NULL
        |ORDER BY process, t0""".stripMargin),

    // --- the streaming call matcher (flatMapGroupsWithState keyed by
    // process; state = the open-frame stack, O(depth)) in batch mode:
    // one closed micro-batch with empty initial state matches every
    // Enter/Leave of the balanced synthetic trace exactly like the batch
    // EventMatcher, including depth and inc/exc attribution; the oracle
    // is the trace's closed form (order spans 999000 ns, item spans
    // qty*1000-10, ship subs qty*500-100; exc = inc minus children) ---
    Case("stream_calls_endstate", (s, dir) =>
      graft.streaming.StreamingMatcher.completedCalls(
          TraceGen.callTrace(s, dir))
        .orderBy(col("process"), col("enter_id")),
      // the streaming call matcher's batch replay against the synthetic
      // trace's closed form: event ids double as timestamps (callCte),
      // item exc = inc - sub inc = qty*500 + 90, order exc = 999000 minus
      // the sum of its items' incs
      callCte +
      """, kids AS (
        |  SELECT ok, SUM(qty * 1000 - 10) AS inc_sum FROM item GROUP BY ok)
        |SELECT * FROM (
        |  SELECT o.process, o.name, o.t0 AS enter_id, o.t1 AS leave_id,
        |         o.t0 AS enter_ts, o.t1 AS leave_ts, CAST(0 AS INT) AS depth,
        |         CAST(999000 AS BIGINT) AS time_inc,
        |         CAST(999000 - COALESCE(k.inc_sum, 0) AS BIGINT) AS time_exc
        |  FROM ord o LEFT JOIN kids k ON o.ok = k.ok
        |  UNION ALL
        |  SELECT process, name, t0, t1, t0, t1, 1,
        |         qty * 1000 - 10, qty * 500 + 90 FROM item
        |  UNION ALL
        |  SELECT process, ship_name, s0, s1, s0, s1, 2,
        |         qty * 500 - 100, qty * 500 - 100 FROM item
        |) ORDER BY process, enter_id""".stripMargin),

    // --- the streaming Markov-transition state machine (one (t, id,
    // state) triple of state per key) in batch mode: per user, one
    // (from, to) step row per event after the first, all in order —
    // the oracle replays the rule as a LAG window in (t, id) order ---
    Case("stream_trans_endstate", (s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t_us"),
        col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.transitions(ev, tsCol = "t_us")
        .orderBy(col("k"), col("t"), col("from_state"), col("to_state"))
    },
      // the transition state machine's batch replay: LAG in (t, id) order
      // per key; in-order replay emits no disordered steps
      """WITH e AS (
        |  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS id,
        |         event_type AS s
        |  FROM events),
        |w AS (
        |  SELECT k, t, s,
        |         lag(s) OVER (PARTITION BY k ORDER BY t, id) AS prev
        |  FROM e)
        |SELECT k, prev AS from_state, s AS to_state, t, TRUE AS in_order
        |FROM w WHERE prev IS NOT NULL
        |ORDER BY k, t, from_state, to_state""".stripMargin),

    // --- the streaming interval-union state machine (one open island
    // per key) in batch mode: spans sorted per key, an island closes on
    // a strict gap; the final OPEN island per key never emits in batch
    // (in a stream it is unknowable until key timeout) — the oracle is
    // gaps-and-islands minus each key's last island ---
    Case("stream_interval_endstate", (s, dir) => {
      val t_us = unix_micros(col("ts").cast("timestamp"))
      val sp = T(s, dir, "events").select(
        col("user_id").as("key"),
        t_us.as("start"),
        (t_us + floor(col("value") * 1000).cast("long") + 1).as("end"))
      graft.streaming.StreamingOps.intervalUnion(sp)
        .orderBy(col("k"), col("start"))
    },
      // the interval-union state machine's batch replay: gaps-and-islands
      // (strict gap closes, running-max end) MINUS each key's final island
      // — in batch the open island never emits (no key timeout fires)
      """WITH sp AS (
        |  SELECT user_id AS k, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(floor(value * 1000) AS BIGINT) + 1 AS e
        |  FROM events),
        |m AS (
        |  SELECT k, s, e,
        |         CASE WHEN s > MAX(e) OVER (PARTITION BY k ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS ni
        |  FROM sp),
        |isl AS (
        |  SELECT k, s, e, SUM(ni) OVER (PARTITION BY k ORDER BY s, e
        |           ROWS UNBOUNDED PRECEDING) AS g
        |  FROM m),
        |agg AS (
        |  SELECT k, g, MIN(s) AS "start", MAX(e) AS "end",
        |         CAST(COUNT(*) AS BIGINT) AS n_spans
        |  FROM isl GROUP BY k, g)
        |SELECT k, "start", "end", n_spans, TRUE AS in_order
        |FROM (SELECT *, MAX(g) OVER (PARTITION BY k) AS mg FROM agg)
        |WHERE g < mg
        |ORDER BY k, "start"""".stripMargin),

    // --- the streaming windowed top-k (chained watermarked aggs + the
    // k-bounded native heap aggregate) in batch mode: the oracle
    // replays the heap's (weight DESC, key DESC) order as ROW_NUMBER ---
    Case("stream_topk_endstate", (s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"),
        col("ts").cast("timestamp").as("event_time"),
        floor(col("value")).cast("long").as("weight"))
      graft.streaming.StreamingSketches.windowTopK(ev, k = 5,
          window = "6 hours", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("rank"), col("key"), col("weight"))
        .orderBy(col("window_start"), col("rank"))
    },
      // the streaming windowed top-k heap's batch replay: weight rollup
      // per (6h window, key), rank by (weight DESC, key DESC) — the
      // native heap aggregate's deterministic tie order (q_topk_agg)
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 // 21600 * 21600 AS wb,
        |         user_id AS key, CAST(floor(value) AS BIGINT) AS w0
        |  FROM events),
        |g AS (SELECT wb, key, CAST(SUM(w0) AS BIGINT) AS w
        |      FROM e GROUP BY 1, 2),
        |r AS (SELECT wb, key, w,
        |        ROW_NUMBER() OVER (PARTITION BY wb
        |          ORDER BY w DESC, key DESC) AS rn
        |      FROM g)
        |SELECT wb AS window_start, CAST(rn AS INT) AS rank, key,
        |       w AS weight
        |FROM r WHERE rn <= 5
        |ORDER BY window_start, rank""".stripMargin),

    // --- the streaming DAU counter (dropDuplicatesWithinWatermark on
    // (user, window) chained into a windowed count — state one row per
    // ACTIVE pair, watermark-pruned) in batch mode: plain per-window
    // COUNT(DISTINCT) ---
    Case("stream_active_endstate", (s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"), col("ts").cast("timestamp").as("event_time"))
      graft.streaming.StreamingOps.windowedActive(ev, window = "1 day")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("active"))
        .orderBy(col("window_start"))
    },
      // the streaming DAU counter's batch replay
      """SELECT epoch_us(ts) // 1000000 // 86400 * 86400 AS window_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- the streaming per-window count-min cells (O(depth·width) state
    // per in-flight window, watermark-expired) in batch mode: doc feed
    // with event_time = to_timestamp(doc_id), 10-minute windows; the
    // oracle recomputes the identical md5 cells per window bucket ---
    Case("stream_cms_endstate", (s, dir) => {
      val docs = T(s, dir, "documents").select(
        to_timestamp(col("doc_id")).as("event_time"), col("text"))
      graft.streaming.StreamingSketches.cmsCells(docs,
          window = "10 minutes", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("seed").cast("long").as("seed"), col("bucket"), col("cell"))
        .orderBy(col("window_start"), col("seed"), col("bucket"))
    },
      // the streaming per-window CMS cells' batch replay: identical md5
      // cell arithmetic to cms_topk, bucketed into 10-minute windows of
      // the doc_id-derived event time
      """WITH d AS (
        |  SELECT doc_id // 600 * 600 AS wb,
        |         unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents),
        |seeded AS (
        |  SELECT wb, g.seed,
        |         CAST(concat('0x', substr(md5(g.seed || ':' || token), 1, 15)) AS BIGINT) % 1024 AS bucket
        |  FROM d, generate_series(0, 3) g(seed))
        |SELECT wb AS window_start, CAST(seed AS BIGINT) AS seed, bucket,
        |       CAST(COUNT(*) AS BIGINT) AS cell
        |FROM seeded GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // --- the streaming per-window distinct-count registers (64 registers
    // per (lang, window), merged by MAX — lossless) in batch mode: same
    // doc feed; the oracle recomputes register = max rho per bucket ---
    Case("stream_hll_endstate", (s, dir) => {
      val docs = T(s, dir, "documents").select(
        to_timestamp(col("doc_id")).as("event_time"),
        col("lang"), col("text"))
      graft.streaming.StreamingSketches.hllRegisters(docs,
          window = "10 minutes", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("lang"), col("bucket"),
          col("reg").cast("long").as("reg"))
        .orderBy(col("window_start"), col("lang"), col("bucket"))
    },
      // the streaming per-window distinct-count registers' batch replay:
      // identical md5 register arithmetic to hll_distinct, per window
      """WITH d AS (
        |  SELECT doc_id // 600 * 600 AS wb, lang,
        |         unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents),
        |hashed AS (
        |  SELECT wb, lang,
        |         CAST(concat('0x', substr(md5('h:' || token), 1, 15)) AS BIGINT) AS h
        |  FROM d)
        |SELECT wb AS window_start, lang, h % 64 AS bucket,
        |       CAST(MAX(CASE WHEN h // 64 = 0 THEN 55
        |                ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1 END)
        |            AS BIGINT) AS reg
        |FROM hashed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // --- the streaming PER-KEY windowed TV-drift monitor (one O(bins)
    // row of state per (key, window), watermark-expired) in batch mode:
    // per event_type vs the uniform reference, same integer TV numerator
    // as stream_drift_tv ---
    Case("stream_kdrift_endstate", (s, dir) => {
      val ev = T(s, dir, "events").select(col("ts"), col("event_type"),
        floor(col("value")).cast("long").as("v"))
      graft.streaming.StreamingOps.keyedWindowedDrift(ev, "event_type",
          Seq(1L, 1L, 1L, 1L), window = "6 hours", watermark = "0 seconds",
          lo = 0L, width = 200L, timeCol = "ts")
        .select(col("event_type"),
          unix_timestamp(col("window_start")).as("window_start"),
          col("n_obs"), col("tv_num"))
        .orderBy(col("event_type"), col("window_start"))
    },
      // the streaming per-key windowed TV drift's batch replay: per
      // event_type, same uniform-reference integer numerator as
      // stream_drift_tv
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(ts) // 1000000 // 21600 * 21600 AS wb,
        |         least(greatest(CAST(floor(value) AS BIGINT) * 4 // 200, 0), 3)
        |           AS bin
        |  FROM events),
        |g AS (SELECT event_type, wb,
        |        CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |        CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |        CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |      FROM e GROUP BY 1, 2)
        |SELECT event_type, wb AS window_start, c0 + c1 + c2 + c3 AS n_obs,
        |       abs(c0 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c1 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c2 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c3 * 4 - (c0 + c1 + c2 + c3)) AS tv_num
        |FROM g ORDER BY event_type, window_start""".stripMargin),

    // --- windowed TV drift vs a uniform reference histogram, through
    // the streaming operator's own binning/agg code path ---
    Case("stream_drift_tv", (s, dir) => {
      val ev = T(s, dir, "events").select(col("ts"),
        floor(col("value")).cast("long").as("v"))
      graft.streaming.StreamingOps.windowedDrift(ev, Seq(1L, 1L, 1L, 1L),
          window = "6 hours", watermark = "0 seconds", lo = 0L, width = 200L,
          timeCol = "ts")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("n_obs"), col("tv_num"))
        .orderBy(col("window_start"))
    },
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 // 21600 * 21600 AS wb,
        |         least(greatest(CAST(floor(value) AS BIGINT) * 4 // 200, 0), 3)
        |           AS bin
        |  FROM events),
        |g AS (SELECT wb,
        |        CAST(SUM(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |        CAST(SUM(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(SUM(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |        CAST(SUM(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |      FROM e GROUP BY 1)
        |SELECT wb AS window_start, c0 + c1 + c2 + c3 AS n_obs,
        |       abs(c0 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c1 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c2 * 4 - (c0 + c1 + c2 + c3)) +
        |       abs(c3 * 4 - (c0 + c1 + c2 + c3)) AS tv_num
        |FROM g ORDER BY window_start""".stripMargin),

    // --- ANALYZE-style per-column statistics (rows/nulls/exact NDV/
    // min/max), one scan + one keyed agg — the CBO-feed / data-contract
    // profile ---
    Case("column_profile", (s, dir) =>
      graft.scale.DataQuality.columnProfile(T(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column_name")),
      Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      .map(c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  ROUND(CAST(MIN($c) AS DOUBLE), 4) AS min_v,
           |  ROUND(CAST(MAX($c) AS DOUBLE), 4) AS max_v
           |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    // --- the Ed-Join twin of jaccard_prefix_day3: tagged-gram df
    // extension, same shared-total-order argument ---
    Case("fuzzy_exact_day3", (s, dir) => {
      val part = T(s, dir, "part")
      storedAppendedIndex(s, dir, "idx_editdist_day3")(
          graft.scale.IndexStore.buildEditDistance(
            part.filter(col("p_partkey") % 10 >= 2), maxDist = 2,
            textCol = "p_name", idCol = "p_partkey"))(
          part.filter(col("p_partkey") % 10 === 1))
        .probe(part.filter(col("p_partkey") % 10 === 0))
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    },
      fuzzyExactIncr.oracle),

    // --- Hamming day-3: history splits at doc_id 250 so every day-1 id
    // precedes every day-2 id, and only the batch's INDEX-NOVEL
    // fingerprints append (the dedup-ingest policy the store documents)
    // — together those make appended reps equal the full-history uniq's
    // (min over day-1 occurrences IS the global min when day-2 ids are
    // all larger), so the appended store is row-identical to the
    // sibling's full-history build ---
    Case("image_neardup_day3", (s, dir) => {
      val hashed = neardupHashes(s, dir)
      def uniq(side: org.apache.spark.sql.DataFrame) =
        side.groupBy("ahash_hi", "ahash_lo")
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
      val hist = hashed.filter(col("doc_id") % 10 =!= 0)
      val day1 = hist.filter(col("doc_id") < 250)
      val day2new = uniq(hist.filter(col("doc_id") >= 250))
        .join(day1.select(col("ahash_hi"), col("ahash_lo")).distinct(),
          Seq("ahash_hi", "ahash_lo"), "left_anti")
      val fresh = uniq(hashed.filter(col("doc_id") % 10 === 0))
      val pairs = storedAppendedIndex(s, dir, "idx_image_hamming_day3")(
          graft.scale.IndexStore.buildHamming(uniq(day1), radius = 6,
            bands = 8, idCol = "rep_id", hiCol = "ahash_hi",
            loCol = "ahash_lo"))(day2new)
        .probe(fresh)
      val nodes = uniq(hist).unionByName(fresh)
      pairs
        .join(nodes.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(nodes.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      imageNeardupIncr.oracle),

    // --- the full dataloader manifest: per-source token budgets pick the
    // pool (src0 squeezed to 300, everyone else 800), survivors pack into
    // 8-doc shards, the smooth weighted round-robin orders them ---
    Case("budgeted_shards", (s, dir) =>
      Curation.budgetedShards(T(s, dir, "documents"),
          Seq("src0" -> 300L), defaultBudget = 800L,
          weights = Seq("src0" -> 4, "src1" -> 2), docsPerShard = 8)
        .orderBy(col("pos")),
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
         |           AS n_tokens,
         |         $qualitySql AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM q),
         |kept AS (
         |  SELECT doc_id, source, n_tokens FROM c
         |  WHERE cum_before < (CASE source WHEN 'src0' THEN 300 ELSE 800 END)),
         |r AS (
         |  SELECT doc_id, source, n_tokens,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM kept),
         |sh AS (
         |  SELECT source, (rn - 1) // 8 AS shard_id,
         |         CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM r GROUP BY 1, 2),
         |k AS (
         |  SELECT source, shard_id, n_docs, n_tokens,
         |         (shard_id + 1) * (CASE source WHEN 'src0' THEN 1
         |              WHEN 'src1' THEN 2 ELSE 4 END) AS key
         |  FROM sh)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, source, shard_id) - 1
         |         AS BIGINT) AS pos,
         |       source, shard_id, n_docs, n_tokens
         |FROM k ORDER BY pos""".stripMargin)
  )

  /** Shared bitext scoring pipeline (see Bitext.scala header): quantize
    * components to integer micro-units, integer dot/norm², ONE IEEE
    * expression for the cosine, true ratio margin with sign-explicit
    * integer division. Ends at `mm(src_id, dst_id, s, margin_micro)`,
    * ready for a final best-row CTE. */
  private def xlingualScoredCte: String = xlingualScoredCte("")

  /** `candRestrict` is an extra predicate over the candidate sides `a`
    * and `b` (each carries the embedding `label`) — "" is the brute-force
    * cross product; "AND b.label = a.label" is the label-bucketed
    * candidate path (the SQL-expressible twin of candidate-fed mining:
    * margins are computed WITHIN the candidate set, matching
    * Bitext.scoredPairs with `candidates` supplied). */
  private def xlingualScoredCte(candRestrict: String): String =
    s"""WITH x AS (
      |  SELECT vec_id, CAST(i AS INT) AS i,
      |         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM (SELECT vec_id, embedding,
      |               UNNEST(generate_series(1, len(embedding))) AS i
      |        FROM embeddings)),
      |a AS (SELECT d.doc_id AS vec_id, e.label FROM documents d
      |      JOIN embeddings e ON e.vec_id = d.doc_id WHERE d.lang = 'en'),
      |b AS (SELECT d.doc_id AS vec_id, e.label FROM documents d
      |      JOIN embeddings e ON e.vec_id = d.doc_id WHERE d.lang = 'de'),
      |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM x GROUP BY 1),
      |dots AS (
      |  SELECT xa.vec_id AS src_id, xb.vec_id AS dst_id,
      |         CAST(SUM(xa.v * xb.v) AS BIGINT) AS dot
      |  FROM x xa JOIN a ON xa.vec_id = a.vec_id
      |       JOIN x xb ON xb.i = xa.i
      |       JOIN b ON xb.vec_id = b.vec_id $candRestrict
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT d.src_id, d.dst_id,
      |         CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN CAST(0 AS BIGINT)
      |              ELSE CAST(FLOOR(CAST(d.dot AS DOUBLE) * 1000000 /
      |                   SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
      |                AS BIGINT) END AS s
      |  FROM dots d JOIN n na ON na.vec_id = d.src_id
      |       JOIN n nb ON nb.vec_id = d.dst_id),
      |r AS (SELECT *,
      |        ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY s DESC, dst_id) AS rn_src,
      |        ROW_NUMBER() OVER (PARTITION BY dst_id ORDER BY s DESC, src_id) AS rn_dst
      |      FROM p),
      |sums AS (SELECT *,
      |        SUM(CASE WHEN rn_src <= 4 THEN s END) OVER (PARTITION BY src_id) AS sum_src,
      |        SUM(CASE WHEN rn_src <= 4 THEN 1 END) OVER (PARTITION BY src_id) AS cnt_src,
      |        SUM(CASE WHEN rn_dst <= 4 THEN s END) OVER (PARTITION BY dst_id) AS sum_dst,
      |        SUM(CASE WHEN rn_dst <= 4 THEN 1 END) OVER (PARTITION BY dst_id) AS cnt_dst
      |      FROM r),
      |m AS (SELECT src_id, dst_id, s,
      |             CAST(s * (cnt_src + cnt_dst) * 1000000 AS BIGINT) AS num,
      |             CAST(sum_src + sum_dst AS BIGINT) AS den
      |      FROM sums),
      |mm AS (SELECT src_id, dst_id, s,
      |         CASE WHEN den = 0 THEN
      |                CASE WHEN num > 0 THEN CAST(9000000000000000 AS BIGINT)
      |                     WHEN num < 0 THEN CAST(-9000000000000000 AS BIGINT)
      |                     ELSE CAST(0 AS BIGINT) END
      |              WHEN (num >= 0) = (den > 0) THEN ABS(num) // ABS(den)
      |              ELSE -(ABS(num) // ABS(den)) END AS margin_micro
      |       FROM m),
      |""".stripMargin
}
