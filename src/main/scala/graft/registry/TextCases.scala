package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.demo.TraceGen
import graft.scale.{Curation, Dedup, Similarity, TextOps}
import graft.SparkEntry.{T, bigramBi, bigramUni, bm25Scores5, bpeMerges,
  embCentroids, langidPred, lshComponents, minhashSigs}
import graft.registry.OracleCtes.{kmeansCte, lshLosersCte, nbCteSql,
  qualitySql, shinglesCte, splitAssignCte}

/** Text analysis / curation: tokenization, language id, quality filters,
  * sampling, mixing and packing of the documents corpus. */
object TextCases extends Family("Text analysis / curation") {

  val cases: Seq[Case] = Seq(

    // --- packing-efficiency audit: per shard, the token budget wasted
    // by the LAST (partial) batch — padding waste is training cost ---
    Case("pack_efficiency", (s, dir) => {
      val packed = Curation.packBatches(T(s, dir, "documents"))
      packed.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          (max(col("batch_id")) + 1).cast("long").as("n_batches"))
        .withColumn("budget", col("n_batches") * 4096L)
        // a straddling last doc can push tokens past the budget — clamp
        // so the integer division sign convention can't differ by engine
        .withColumn("waste_micro",
          expr("greatest(budget - n_tokens, 0L) * 1000000 div budget"))
        .orderBy(col("shard"))
    },
      """WITH w AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT shard, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |                               AND 1 PRECEDING), 0) AS before
        |  FROM w),
        |b AS (SELECT shard, n_tokens, before // 4096 AS batch_id FROM r),
        |agg AS (
        |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |         CAST(MAX(batch_id) + 1 AS BIGINT) AS n_batches
        |  FROM b GROUP BY shard)
        |SELECT shard, n_docs, n_tokens, n_batches,
        |       CAST(n_batches * 4096 AS BIGINT) AS budget,
        |       CAST(GREATEST(n_batches * 4096 - n_tokens, 0) * 1000000
        |            // (n_batches * 4096) AS BIGINT) AS waste_micro
        |FROM agg ORDER BY shard""".stripMargin),

    // --- deterministic per-key uniform sample: bottom-3 by md5 hash
    // via the SAME native bounded aggregate (ord = −hash) — k rows per
    // key cross the exchange, never a per-key sort of everything ---
    Case("sample_per_key", (s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_type"), col("event_id"),
        expr("cast(conv(substr(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      ev.groupBy(col("event_type"))
        .agg(graft.functions.TopKLongs.topK(3, -col("h"), col("event_id"))
          .as("picked"))
        .select(col("event_type"), posexplode(col("picked")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.payload").as("event_id"))
        .orderBy(col("event_type"), col("rank"))
    },
      """WITH h AS (
        |  SELECT event_type, event_id,
        |         CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT event_type, event_id,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |               ORDER BY hv, event_id DESC) AS INT) AS rank
        |      FROM h)
        |-- event_id DESC on hash ties mirrors the k-heap's (ord, payload)
        |-- descending tie order — divergence only matters on a 60-bit
        |-- md5 collision, but the oracle should define the same total order
        |SELECT event_type, rank, event_id FROM r
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),

    // --- text analysis ---
    Case("text_stats", (s, dir) => TextOps.textStats(T(s, dir, "documents"))
      .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  ROUND(CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), ' +')), 4) AS avg_token_len,
        |  ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / GREATEST(length(text), 1), 4) AS alpha_ratio,
        |  ROUND(CAST(len(regexp_split_to_array(trim(text), ' +')) - 1 AS DOUBLE)
        |        / GREATEST(length(text), 1), 4) AS space_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- char-distribution entropy (gibberish/blob detector), integer
    // micro-unit log sufficient statistics ---
    Case("text_entropy", (s, dir) => TextOps.charEntropy(T(s, dir, "documents"))
      .orderBy(col("doc_id")),
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |g AS (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM b),
        |cnt AS (SELECT doc_id, substr(text, i, 1) AS c, COUNT(*) AS cnt
        |        FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
        |       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
        |       CAST(SUM(cnt * CAST(ROUND(ln(cnt) * 1000000) AS BIGINT)) AS BIGINT)
        |         AS ent_ulog
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin),

    Case("token_count", (s, dir) => T(s, dir, "documents")
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("ws_tokens"),
        size(TextOps.bpeishTokens(col("text"))).as("bpeish_tokens"))
      .orderBy(col("doc_id")),
      // bpeish tokens = alnum runs + each non-space/non-alnum char as its own
      // token (RE2 has no lookarounds, so the oracle counts the two classes)
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |    + length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS INT)
        |    AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- token-balanced training shards: serpentine deal over the
    //     token-count-sorted corpus; the manifest shows the balance ---
    Case("shard_manifest", (s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"))
      graft.scale.Layout.balancedShards(docs, "toks", "doc_id", 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tok_sum"))
        .orderBy(col("shard"))
    },
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |           AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, toks,
        |         ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) - 1 AS r
        |  FROM w),
        |a AS (
        |  SELECT toks,
        |         CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - r % 8 END
        |           AS shard
        |  FROM r)
        |SELECT CAST(shard AS INT) AS shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(toks) AS BIGINT) AS tok_sum
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- fixed-length context packing (GPT-style concat-and-chunk):
    // the corpus token stream in doc_id order cut into 128-token
    // training examples — per example: docs spanned, first/last doc,
    // real-token fill vs tail padding; distributed prefix sum, never a
    // physical concatenation ---
    Case("pack_contexts", (s, dir) =>
      Curation.packContexts(T(s, dir, "documents"), 128)
        .orderBy(col("example_id")),
      // prefix-sum replicated as a window cumsum; each doc joins the
      // generate_series of the examples it overlaps, per-example overlap
      // lengths sum to the fill
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |           AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS st
        |  FROM t),
        |x AS (
        |  SELECT doc_id, n, st,
        |         UNNEST(generate_series(st // 128, (st + n - 1) // 128)) AS e
        |  FROM c WHERE n > 0)
        |SELECT e AS example_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(doc_id) AS first_doc,
        |       MAX(doc_id) AS last_doc,
        |       CAST(SUM(LEAST(st + n, (e + 1) * 128)
        |                - GREATEST(st, e * 128)) AS BIGINT) AS n_tokens,
        |       CAST(128 - SUM(LEAST(st + n, (e + 1) * 128)
        |                      - GREATEST(st, e * 128)) AS BIGINT) AS n_pad
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- the composed dataloader: pack the SAME 128-token contexts in
    // the mixture-weighted epoch order (src0 4x, src1 2x) instead of id
    // order — what batch N of training actually contains under the
    // sampling policy ---
    Case("pack_mixture", (s, dir) => {
      val docs = T(s, dir, "documents")
      val ordered = Curation.epochOrder(docs, Seq("src0" -> 4, "src1" -> 2))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      Curation.packContexts(ordered, 128, orderCol = "pos")
        .orderBy(col("example_id"))
    },
      // epoch_order's smooth weighted round-robin as the stream order,
      // then the same cumsum + generate_series pack; first/last doc are
      // arg-min/-max by stream position
      """WITH r AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, r,
        |         r * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |              ELSE 4 END) AS key
        |  FROM r),
        |o AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, source, r) - 1
        |           AS BIGINT) AS pos, doc_id
        |  FROM k),
        |t AS (
        |  SELECT o.pos, o.doc_id,
        |         CAST(len(regexp_split_to_array(trim(d.text), ' +')) AS BIGINT)
        |           AS n
        |  FROM o JOIN documents d USING (doc_id)),
        |c AS (
        |  SELECT pos, doc_id, n,
        |         CAST(COALESCE(SUM(n) OVER (ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS st
        |  FROM t),
        |x AS (
        |  SELECT doc_id, pos, n, st,
        |         UNNEST(generate_series(st // 128, (st + n - 1) // 128)) AS e
        |  FROM c WHERE n > 0)
        |SELECT e AS example_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ARG_MIN(doc_id, pos) AS first_doc,
        |       ARG_MAX(doc_id, pos) AS last_doc,
        |       CAST(SUM(LEAST(st + n, (e + 1) * 128)
        |                - GREATEST(st, e * 128)) AS BIGINT) AS n_tokens,
        |       CAST(128 - SUM(LEAST(st + n, (e + 1) * 128)
        |                      - GREATEST(st, e * 128)) AS BIGINT) AS n_pad
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- the attention/loss-mask sidecar of pack_contexts: for every
    // document that STARTS inside a 128-token example, the example and
    // in-example offset of its first token (+ whether it spills into the
    // next example) — what a document-masking dataloader turns into the
    // per-example block-diagonal attention mask ---
    Case("pack_boundaries", (s, dir) =>
      Curation.packBoundaries(T(s, dir, "documents"), 128)
        .orderBy(col("example_id"), col("start_offset")),
      // same prefix sum as pack_contexts; a boundary row per document
      // start, positioned inside its example
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |           AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS st
        |  FROM t)
        |SELECT st // 128 AS example_id,
        |       st % 128 AS start_offset,
        |       doc_id,
        |       st + n > (st // 128 + 1) * 128 AS spans_next
        |FROM c WHERE n > 0 ORDER BY 1, 2""".stripMargin),

    // --- best-fit-decreasing whole-item packing: documents chunked to
    // <=128 tokens, then BFD-packed per source (the bounded sequential
    // group) — items never split across examples, tail padding near
    // zero; the padding-averse twin of pack_contexts. chunk_key packs
    // (doc_id, chunk_id) into one BIGINT with a 2^20 chunk bound
    // (134M tokens/doc); a doc over the bound errors loudly in BOTH
    // engines instead of silently colliding keys and making the
    // (n DESC, chunk_key) tie-break nondeterministic ---
    Case("pack_bestfit", (s, dir) => {
      val docs = T(s, dir, "documents")
      val chunkCap = 1048576L // 2^20 chunks = 134M tokens at 128/chunk
      val chunks = Curation.chunkDocs(docs, 128, 128)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"),
          coalesce(
            when(col("chunk_id") < chunkCap,
              col("doc_id") * chunkCap + col("chunk_id")),
            raise_error(concat(lit("pack_bestfit: chunk_id >= 2^20 for doc_id="),
              col("doc_id"))).cast("long")).as("chunk_key"),
          (col("tok_end") - col("tok_start") + 1).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      Curation.packBestFit(chunks, 128, idCol = "chunk_key",
          groupCol = "source")
        .orderBy(col("source"), col("bin_id"), col("chunk_key"))
    },
      // best-fit-decreasing replayed as a recursive CTE: per source, items
      // in (n DESC, id) order; the state row carries the open-bin
      // remainder list — tightest fit = list_min of the fitting
      // remainders, lowest bin id on ties = first list position; a full
      // bin stays in the list (keeps creation-order ids) but a 0 remainder
      // can never fit an item again
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
        |           AS nt
        |  FROM documents),
        |ch0 AS (
        |  SELECT source, doc_id, nt,
        |         UNNEST(generate_series(0,
        |           (GREATEST(nt - 128, 0) + 127) // 128)) AS chunk_id
        |  FROM t WHERE nt > 0),
        |ch AS (
        |  SELECT source,
        |         CASE WHEN chunk_id < 1048576
        |              THEN doc_id * 1048576 + chunk_id
        |              ELSE CAST(error('pack_bestfit: chunk_id >= 2^20')
        |                        AS BIGINT) END AS chunk_key,
        |         LEAST((chunk_id + 1) * 128, nt) - chunk_id * 128 AS n
        |  FROM ch0),
        |r AS (
        |  SELECT source, chunk_key, n,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n DESC, chunk_key) AS rn
        |  FROM ch),
        |st AS (
        |  SELECT source, CAST(0 AS BIGINT) AS rn,
        |         CAST(NULL AS BIGINT) AS chunk_key,
        |         CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin_id,
        |         CAST([] AS BIGINT[]) AS rems
        |  FROM (SELECT DISTINCT source FROM ch)
        |  UNION ALL
        |  SELECT s.source, r.rn, r.chunk_key, r.n,
        |         CAST(CASE WHEN list_min(list_filter(s.rems, x -> x >= r.n))
        |                     IS NULL
        |              THEN len(s.rems)
        |              ELSE list_position(s.rems,
        |                     list_min(list_filter(s.rems, x -> x >= r.n))) - 1
        |              END AS BIGINT) AS bin_id,
        |         CASE WHEN list_min(list_filter(s.rems, x -> x >= r.n))
        |                IS NULL
        |              THEN list_append(s.rems, 128 - r.n)
        |              ELSE s.rems[1:list_position(s.rems,
        |                       list_min(list_filter(s.rems, x -> x >= r.n)))
        |                     - 1]
        |                   || [list_min(list_filter(s.rems, x -> x >= r.n))
        |                       - r.n]
        |                   || s.rems[list_position(s.rems,
        |                       list_min(list_filter(s.rems, x -> x >= r.n)))
        |                     + 1:]
        |              END AS rems
        |  FROM st s JOIN r ON r.source = s.source AND r.rn = s.rn + 1)
        |SELECT source, chunk_key, n AS n_tokens, bin_id
        |FROM st WHERE rn > 0 ORDER BY source, bin_id, chunk_key""".stripMargin),

    Case("text_quality", (s, dir) => TextOps.qualityScore(T(s, dir, "documents"))
      .orderBy(col("doc_id")),
      s"SELECT doc_id, $qualitySql AS quality FROM documents ORDER BY doc_id"),

    Case("text_langid", (s, dir) => langidPred(s, dir)
      .select(col("doc_id"), col("predicted_lang")).orderBy(col("doc_id")),
      """WITH grams AS (
        |  SELECT doc_id, substring(text, i, 3) AS gram
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, GREATEST(length(text) - 2, 1))) AS i
        |        FROM documents)),
        |train AS (
        |  SELECT d.lang, g.gram, COUNT(*) AS cnt
        |  FROM grams g JOIN documents d USING (doc_id)
        |  WHERE d.doc_id % 5 = 0 GROUP BY 1, 2),
        |prof AS (
        |  SELECT gram, lang, CAST(cnt AS DOUBLE) / 200 AS weight
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |                    ORDER BY cnt DESC, gram) AS rn FROM train)
        |  WHERE rn <= 200),
        |scored AS (
        |  SELECT g.doc_id, p.lang, SUM(p.weight) AS score
        |  FROM grams g JOIN prof p USING (gram) GROUP BY 1, 2)
        |SELECT doc_id, lang AS predicted_lang
        |FROM (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang) AS rn FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // --- langid EVALUATION: predicted-vs-labeled confusion matrix ---
    Case("langid_confusion", (s, dir) => langidPred(s, dir)
      .join(T(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("actual_lang")), Seq("doc_id"))
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual_lang"), col("predicted_lang")),
      """WITH grams AS (
        |  SELECT doc_id, substring(text, i, 3) AS gram
        |  FROM (SELECT doc_id, text,
        |               unnest(generate_series(1, GREATEST(length(text) - 2, 1))) AS i
        |        FROM documents)),
        |train AS (
        |  SELECT d.lang, g.gram, COUNT(*) AS cnt
        |  FROM grams g JOIN documents d USING (doc_id)
        |  WHERE d.doc_id % 5 = 0 GROUP BY 1, 2),
        |prof AS (
        |  SELECT gram, lang, CAST(cnt AS DOUBLE) / 200 AS weight
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |                    ORDER BY cnt DESC, gram) AS rn FROM train)
        |  WHERE rn <= 200),
        |scored AS (
        |  SELECT g.doc_id, p.lang, SUM(p.weight) AS score
        |  FROM grams g JOIN prof p USING (gram) GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, lang AS predicted_lang
        |  FROM (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, lang) AS rn FROM scored)
        |  WHERE rn = 1)
        |SELECT d.lang AS actual_lang, p.predicted_lang,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM pred p JOIN documents d USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- keyword extraction: per-doc top-3 TF-IDF terms, integer idf ---
    Case("tfidf_topterms", (s, dir) =>
      TextOps.tfidfTopTerms(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rn")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf,
        |             CAST(ROUND(ln(n.n / df.df) * 1000000, 0) AS BIGINT) AS idf_micro
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, rn, term, score FROM (
        |  SELECT doc_id, term, CAST(tf * idf_micro AS BIGINT) AS score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |           ORDER BY tf * idf_micro DESC, term) AS INT) AS rn
        |  FROM s)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),

    // --- Heaps'-law vocabulary growth over doc-id order ---
    Case("vocab_growth", (s, dir) =>
      TextOps.vocabGrowth(T(s, dir, "documents"))
        .orderBy(col("bucket")),
      shinglesCte +
      """, first AS (
        |  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |b AS (
        |  SELECT first_doc // 50 AS bucket, COUNT(*) AS new_terms
        |  FROM first GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(new_terms AS BIGINT) AS new_terms,
        |       CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_terms
        |FROM b ORDER BY bucket""".stripMargin),

    // --- per-source Zipf rank-frequency fit (integer milli-log sums) ---
    Case("zipf_fit", (s, dir) => TextOps.zipfFit(T(s, dir, "documents"))
      .orderBy(col("g")),
      """WITH t AS (SELECT source AS g,
        |                  regexp_split_to_array(trim(text), ' +') AS toks
        |           FROM documents),
        |tok AS (SELECT g, unnest(toks) AS tok FROM t),
        |cnt AS (SELECT g, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |rk AS (SELECT g, c, ROW_NUMBER() OVER (PARTITION BY g
        |         ORDER BY c DESC, tok) AS r FROM cnt),
        |xy AS (SELECT g, CAST(ROUND(ln(r) * 1000) AS BIGINT) AS x,
        |              CAST(ROUND(ln(c) * 1000) AS BIGINT) AS y FROM rk)
        |SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(x) AS BIGINT) AS sum_x,
        |       CAST(SUM(y) AS BIGINT) AS sum_y,
        |       CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |       CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |       CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |FROM xy GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- source-pair unigram cross-entropy (domain similarity matrix) ---
    Case("source_crossent", (s, dir) =>
      TextOps.sourceCrossEntropy(T(s, dir, "documents"))
        .orderBy(col("src_a"), col("src_b")),
      """WITH tk AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |cnt AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT tok) AS v FROM cnt),
        |xent AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         SUM(a.c * CAST(ROUND(ln(CAST(b.c + 1 AS DOUBLE)) * 1000000)
        |                        AS BIGINT)) AS xs
        |  FROM cnt a JOIN cnt b USING (tok) GROUP BY 1, 2)
        |SELECT ta.source AS src_a, tb.source AS src_b,
        |       ROUND(ln(CAST(tb.n + v.v AS DOUBLE))
        |             - CAST(COALESCE(x.xs, 0) AS DOUBLE) / 1000000 / ta.n, 4)
        |         AS cross_ent
        |FROM tot ta CROSS JOIN tot tb CROSS JOIN voc v
        |LEFT JOIN xent x ON x.src_a = ta.source AND x.src_b = tb.source
        |ORDER BY src_a, src_b""".stripMargin),

    // --- count-min sketch audit: exact top-20 vs CMS estimates ---
    Case("cms_topk", (s, dir) =>
      graft.scale.Sketches.cmsHeavyHitters(T(s, dir, "documents"))
        .orderBy(col("exact_count").desc, col("token")),
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents),
        |seeded AS (
        |  SELECT token, g.seed,
        |         CAST(concat('0x', substr(md5(g.seed || ':' || token), 1, 15)) AS BIGINT) % 1024 AS bucket
        |  FROM toks, generate_series(0, 3) g(seed)),
        |cells AS (
        |  SELECT seed, bucket, COUNT(*) AS cell FROM seeded GROUP BY 1, 2),
        |top AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
        |  FROM toks GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20),
        |probes AS (
        |  SELECT t.token, t.exact_count, g.seed,
        |         CAST(concat('0x', substr(md5(g.seed || ':' || t.token), 1, 15)) AS BIGINT) % 1024 AS bucket
        |  FROM top t, generate_series(0, 3) g(seed))
        |SELECT p.token, p.exact_count, CAST(MIN(c.cell) AS BIGINT) AS cms_count
        |FROM probes p JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
        |GROUP BY 1, 2 ORDER BY exact_count DESC, token""".stripMargin),

    // --- 64-register distinct-count sketch vs exact, per language ---
    Case("hll_distinct", (s, dir) =>
      graft.scale.Sketches.hllDistinct(T(s, dir, "documents"))
        .orderBy(col("lang")),
      """WITH toks AS (
        |  SELECT lang, unnest(regexp_split_to_array(trim(text), ' +')) AS token
        |  FROM documents),
        |hashed AS (
        |  SELECT lang,
        |         CAST(concat('0x', substr(md5('h:' || token), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |rhos AS (
        |  SELECT lang, h % 64 AS bucket, h // 64 AS rest,
        |         CASE WHEN h // 64 = 0 THEN 55
        |              ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1 END AS rho
        |  FROM hashed),
        |regs AS (
        |  SELECT lang, bucket, MAX(rho) AS reg FROM rhos GROUP BY 1, 2),
        |est AS (
        |  SELECT lang,
        |         ROUND((CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968) /
        |               CAST(SUM(1::BIGINT << (55 - reg)) +
        |                    (64 - COUNT(*)) * 36028797018963968::BIGINT AS DOUBLE), 4)
        |           AS hll_estimate
        |  FROM regs GROUP BY 1),
        |exact AS (
        |  SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
        |  FROM toks GROUP BY 1)
        |SELECT e.lang, e.exact_distinct, s.hll_estimate
        |FROM exact e JOIN est s ON e.lang = s.lang ORDER BY e.lang""".stripMargin),

    // --- per-source curation report: which sources are worth keeping ---
    Case("source_profile", (s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("source"), col("lang"),
          TextOps.quality(col("text")).as("q"),
          size(TextOps.tokens(col("text"))).as("toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          // per-doc quality is rounded to 4dp → ×10⁴ is integral; the
          // integer sum is order-free, so the mean is engine-exact
          round(sum(round(col("q") * 10000).cast("long")).cast("double") /
            10000.0 / count(lit(1)), 6).as("mean_quality"),
          round(sum(col("toks")).cast("double") / count(lit(1)), 4)
            .as("mean_tokens"))
        .orderBy(col("source"))
    },
      (s"""WITH q AS (SELECT source, lang, $qualitySql AS quality,
        |  len(regexp_split_to_array(trim(text), ' +')) AS toks FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       ROUND(CAST(SUM(CAST(ROUND(quality * 10000, 0) AS BIGINT)) AS DOUBLE)
        |             / 10000.0 / COUNT(*), 6) AS mean_quality,
        |       ROUND(CAST(SUM(toks) AS DOUBLE) / COUNT(*), 4) AS mean_tokens
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --- per-source token budget: best-first fill, boundary doc may
    // overflow (src0 squeezed to 300 tokens, everyone else 800) ---
    Case("sample_budget", (s, dir) =>
      Curation.budgetTruncate(T(s, dir, "documents"),
          Seq("src0" -> 300L), defaultBudget = 800L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality"), col("cum_before"))
        .orderBy(col("doc_id")),
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |         CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT)
         |           AS n_tokens,
         |         $qualitySql AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens, quality,
         |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM q)
         |SELECT doc_id, source, n_tokens, quality, cum_before FROM c
         |WHERE cum_before < (CASE source WHEN 'src0' THEN 300 ELSE 800 END)
         |ORDER BY doc_id""".stripMargin),

    // --- corpus curation: repetition, PII, sampling, quantiles ---
    Case("text_repetition", (s, dir) =>
      TextOps.repetitionStats(T(s, dir, "documents")).orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS arr FROM documents),
        |tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(arr) AS tok FROM toks) GROUP BY 1, 2),
        |ta AS (
        |  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_unique, MAX(c) AS top_c
        |  FROM tc GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS bg
        |  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 1)) AS i
        |        FROM toks)),
        |ba AS (
        |  SELECT doc_id, COUNT(*) AS n_bg, COUNT(DISTINCT bg) AS n_bg_unique
        |  FROM bg GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |  ROUND(CAST(t.n_unique AS DOUBLE) / t.n_tokens, 4) AS unique_token_ratio,
        |  ROUND(CAST(t.top_c AS DOUBLE) / t.n_tokens, 4) AS top_token_fraction,
        |  COALESCE(ROUND(1.0 - CAST(b.n_bg_unique AS DOUBLE) / b.n_bg, 4), 0.0)
        |    AS dup_bigram_fraction
        |FROM ta t LEFT JOIN ba b USING (doc_id) ORDER BY doc_id""".stripMargin),

    Case("text_logprob", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.unigramLogProb(docs, docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("doc_id"))
    },
      """WITH tr AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents WHERE doc_id % 5 = 0),
        |freq AS (SELECT tok, COUNT(*) AS c FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM freq),
        |dt AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(-ln(CAST(COALESCE(f.c, 0) + 1 AS DOUBLE)
        |                / CAST(t.n + t.v AS DOUBLE))), 4) AS mean_nll
        |FROM dt LEFT JOIN freq f USING (tok) CROSS JOIN tot t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- bigram-conditional LM score (the next CCNet rung above the
    // unigram proxy): catches locally-scrambled text unigrams miss;
    // the model's two count tables are memoized (train once, score
    // many — the LM twin of the k-means/PQ model caches) ---
    Case("text_logprob2", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.bigramLogProbFrom(docs,
          bigramUni(s, dir), bigramBi(s, dir))
        .orderBy(col("doc_id"))
    },
      // join keys are the engine's 60-bit integer hashes: h1 = md5-60 of
      // w1; bh = xor(h1, rot30(md5-60 of w2)) — one md5 per token, the
      // mix replicated exactly, so collisions are shared and the score is
      // bit-comparable while everything keys on BIGINTs
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |tr AS (SELECT toks FROM t WHERE doc_id % 5 = 0),
        |u AS (SELECT CAST(concat('0x', substr(md5('0:' || w1), 1, 15))
        |               AS BIGINT) AS h1, COUNT(*) AS c1
        |      FROM (SELECT unnest(toks) AS w1 FROM tr) GROUP BY 1),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM u),
        |hp AS (SELECT doc_id, i,
        |         CAST(concat('0x', substr(md5('0:' || toks[i]), 1, 15))
        |           AS BIGINT) AS ha,
        |         CAST(concat('0x', substr(md5('0:' || toks[i + 1]), 1, 15))
        |           AS BIGINT) AS hb
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) g(i)
        |       WHERE len(toks) >= 2),
        |hpk AS (SELECT doc_id, ha AS h1,
        |          xor(ha, hb // 1073741824 + (hb % 1073741824) * 1073741824)
        |            AS bh
        |        FROM hp),
        |bi AS (SELECT bh, COUNT(*) AS cb
        |       FROM hpk WHERE doc_id % 5 = 0 GROUP BY 1),
        |d AS (SELECT doc_id, bh, h1, COUNT(*) AS cnt
        |      FROM hpk GROUP BY 1, 2, 3)
        |SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
        |       ROUND(SUM(d.cnt * -ln((COALESCE(bi.cb, 0) + 1.0)
        |                     / (COALESCE(u.c1, 0) + v.v))) / SUM(d.cnt), 4)
        |         AS mean_nll
        |FROM d LEFT JOIN bi USING (bh)
        |       LEFT JOIN u USING (h1)
        |       CROSS JOIN v
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- Naive Bayes classifier filter (the model-based keep/drop gate
    // of CCNet/fineweb-edu-style pipelines): train multinomial NB on the
    // %5!=0 labeled split, classify the held-out %5==0 docs; scores are
    // term-level integer-micro logs so pred/margin are engine-exact ---
    Case("text_nb_classify", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.naiveBayes(docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred"), col("lang"),
          (col("pred") === col("lang")).cast("int").as("correct"),
          col("score_m"), col("margin_m"))
        .orderBy(col("doc_id"))
    },
      nbCteSql +
      """SELECT a.doc_id, a.pred, d.lang,
        |       CAST(CASE WHEN a.pred = d.lang THEN 1 ELSE 0 END AS INT)
        |         AS correct,
        |       CAST(a.score_m AS BIGINT) AS score_m,
        |       CAST(a.margin_m AS BIGINT) AS margin_m
        |FROM ag a JOIN documents d USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    Case("text_pii", (s, dir) => {
      // corpus text is digit-free word soup, so PII extraction would be
      // vacuous on it; plant deterministic doc_id-derived PII in BOTH
      // engines and verify counts + the md5 of the redacted text
      val planted = T(s, dir, "documents")
        .select(col("doc_id"), expr(piiPlantExpr).as("text"))
      TextOps.piiStats(planted)
        .join(planted.select(col("doc_id"),
          md5(TextOps.redactPii(col("text"))).as("redacted_md5")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },
      s"""WITH planted AS (
         |  SELECT doc_id, text
         |    || repeat(' user' || CAST(doc_id AS VARCHAR) || '@example.com',
         |              CAST(doc_id % 3 AS INT))
         |    || repeat(' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
         |              CAST(doc_id % 2 AS INT))
         |    || ' call 555-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0') AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g')) AS redacted_md5
         |FROM planted ORDER BY doc_id""".stripMargin),

    Case("sample_hash", (s, dir) =>
      Curation.hashSample(T(s, dir, "documents"), 0.2)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |           AS BIGINT) < ${Curation.rateThreshold(0.2)}
         |ORDER BY doc_id""".stripMargin),

    Case("sample_stratified", (s, dir) =>
      Curation.stratifiedSample(T(s, dir, "documents"), "lang", 10)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn")),
      """SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |             AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),

    Case("sample_mix", (s, dir) => {
      val rates = s.createDataFrame(mixRates).toDF("lang", "rate")
      Curation.mixSample(T(s, dir, "documents"), rates, "lang")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }, {
      val cases = mixRates
        .map { case (l, r) => s"WHEN '$l' THEN ${Curation.rateThreshold(r)}" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |           AS BIGINT) < CASE lang $cases END
         |ORDER BY doc_id""".stripMargin
    }),

    // --- temperature-flattened mixture (rates derived from counts) ---
    Case("sample_temperature", (s, dir) =>
      Curation.temperatureSample(T(s, dir, "documents"), "lang")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      """WITH cnt AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY 1),
        |nm AS (SELECT MIN(ns) AS nmin FROM cnt),
        |rt AS (
        |  SELECT lang,
        |         ROUND(POW(CAST(nmin AS DOUBLE) / ns, CAST(0.5 AS DOUBLE)), 4)
        |           AS rate
        |  FROM cnt CROSS JOIN nm)
        |SELECT d.doc_id, d.lang FROM documents d JOIN rt USING (lang)
        |WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |           AS BIGINT)
        |      < CAST(FLOOR(rate * 1152921504606846976) AS BIGINT)
        |ORDER BY doc_id""".stripMargin),

    Case("quality_quantiles", (s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.groupQuantiles(
        TextOps.qualityScore(docs)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "quality", "lang", Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy(col("lang"))
    },
      s"""WITH q AS (SELECT lang, $qualitySql AS quality FROM documents)
         |SELECT lang,
         |  ROUND(quantile_cont(quality, 0.25), 4) AS p25,
         |  ROUND(quantile_cont(quality, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(quality, 0.75), 4) AS p75,
         |  ROUND(quantile_cont(quality, 0.9), 4) AS p90
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin),

    Case("chunk_docs", (s, dir) =>
      Curation.chunkDocs(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id")),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS arr
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, arr, len(arr) AS n,
        |    unnest(generate_series(0, (GREATEST(len(arr) - 64, 0) + 47) // 48))
        |      AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 + 1 AS BIGINT) AS tok_start,
        |  CAST(LEAST(chunk_id * 48 + 64, n) AS BIGINT) AS tok_end,
        |  array_to_string(arr[(chunk_id * 48 + 1):LEAST(chunk_id * 48 + 64, n)], ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    Case("vocab_top", (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok"))
      toks.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("tok"), col("c"))
        .orderBy(col("lang"), col("rn"))
    },
      """SELECT lang, CAST(rn AS INT) AS rn, tok, c FROM (
        |  SELECT lang, tok, c, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY c DESC, tok) AS rn
        |  FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), ' +'))
        |                AS tok FROM documents)
        |        GROUP BY 1, 2))
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),

    Case("pack_batches", (s, dir) =>
      Curation.packBatches(T(s, dir, "documents"), 1024L)
        .orderBy(col("doc_id")),
      """SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard, n_tokens,
        |       tokens_before,
        |       CAST(tokens_before // 1024 AS BIGINT) AS batch_id FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
        |    CAST(COALESCE(SUM(len(regexp_split_to_array(trim(text), ' +'))) OVER (
        |      PARTITION BY doc_id % 8 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS tokens_before
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    Case("docs_curated", (s, dir) =>
      Curation.curate(T(s, dir, "documents"), 0.9283, 0.40,
          components = Some(lshComponents(s, dir)))
        .select(col("doc_id"), col("quality"), col("unique_token_ratio"),
          col("is_near_dup").cast("int").as("is_near_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("doc_id")),
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      lshLosersCte +
      s""", qual AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |rep AS (
         |  SELECT doc_id,
         |    ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS DOUBLE)
         |      / len(regexp_split_to_array(trim(text), ' +')), 4) AS unique_token_ratio
         |  FROM documents)
         |SELECT d.doc_id, q.quality, r.unique_token_ratio,
         |  CAST(CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_near_dup,
         |  CAST(CASE WHEN q.quality >= 0.9283 AND r.unique_token_ratio >= 0.4
         |            AND l.node IS NULL THEN 1 ELSE 0 END AS INT) AS retained
         |FROM documents d JOIN qual q USING (doc_id) JOIN rep r USING (doc_id)
         |LEFT JOIN losers l ON d.doc_id = l.node
         |ORDER BY d.doc_id""".stripMargin),

    // --- the curation pipeline as an auditable funnel: survivor
    // counts at each gate (quality → repetition → near-dup) ---
    Case("pipeline_funnel", (s, dir) =>
      Curation.curate(T(s, dir, "documents"), 0.9283, 0.40,
          components = Some(lshComponents(s, dir)))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("quality") >= 0.9283, 1L).otherwise(0L))
            .as("n_quality"),
          sum(when(col("quality") >= 0.9283 &&
              col("unique_token_ratio") >= 0.40, 1L).otherwise(0L))
            .as("n_quality_ratio"),
          sum(when(col("is_near_dup"), 1L).otherwise(0L)).as("n_near_dup"),
          sum(when(col("retained"), 1L).otherwise(0L)).as("n_retained")),
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      lshLosersCte +
      s""", qual AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |rep AS (
         |  SELECT doc_id,
         |    ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), ' +'))) AS DOUBLE)
         |      / len(regexp_split_to_array(trim(text), ' +')), 4) AS unique_token_ratio
         |  FROM documents),
         |verd AS (
         |  SELECT q.quality, r.unique_token_ratio,
         |         CASE WHEN l.node IS NOT NULL THEN 1 ELSE 0 END AS nd,
         |         CASE WHEN q.quality >= 0.9283 AND r.unique_token_ratio >= 0.4
         |              AND l.node IS NULL THEN 1 ELSE 0 END AS ret
         |  FROM documents d JOIN qual q USING (doc_id) JOIN rep r USING (doc_id)
         |  LEFT JOIN losers l ON d.doc_id = l.node)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN quality >= 0.9283 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality,
         |  CAST(SUM(CASE WHEN quality >= 0.9283 AND unique_token_ratio >= 0.4
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ratio,
         |  CAST(SUM(nd) AS BIGINT) AS n_near_dup,
         |  CAST(SUM(ret) AS BIGINT) AS n_retained
         |FROM verd""".stripMargin),

    // --- DSIR importance weights vs. the English sub-corpus ---
    Case("dsir_weights", (s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.importanceWeights(docs, docs.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    },
      dsirCte +
      """SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        |       ROUND(SUM(c * w), 4) AS log_ratio
        |FROM db JOIN bw USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- canonical normalization before dedup (md5-verified text) ---
    Case("text_normalize", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextOps.normalize(col("text"))).as("norm_md5"),
          length(TextOps.normalize(col("text"))).cast("long").as("norm_len"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |       md5(trim(regexp_replace(
        |         regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |         ' +', ' ', 'g'))) AS norm_md5,
        |       CAST(length(trim(regexp_replace(
        |         regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |         ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    // --- weighted sample w/o replacement (quality-weighted, ES keys) ---
    Case("sample_weighted", (s, dir) => {
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), TextOps.quality(col("text")).as("quality"))
      Curation.weightedSample(scored, 50, "quality")
        .select(col("doc_id"), col("quality"), col("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
    },
      s"""WITH q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
        |k AS (
        |  SELECT doc_id, quality,
        |         ROUND(-ln((CAST(concat('0x', substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                         AS BIGINT) + 1) / 1152921504606846976.0)
        |               / quality, 6) AS es_key
        |  FROM q WHERE quality > 0)
        |SELECT doc_id, quality, es_key FROM k
        |ORDER BY es_key, doc_id LIMIT 50""".stripMargin),

    // --- DSIR step 2: deterministic importance resampling ---
    Case("dsir_resample", (s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.importanceResample(
          Curation.importanceWeights(docs, docs.filter(col("lang") === "en")))
        .orderBy(col("doc_id"))
    },
      dsirCte +
      """, w2 AS (
        |  SELECT doc_id, ROUND(SUM(c * w), 4) AS log_ratio
        |  FROM db JOIN bw USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-log_ratio)), 4) AS p_accept
        |FROM w2
        |WHERE CAST(concat('0x', substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |           AS BIGINT)
        |      < CAST(FLOOR((1.0 / (1.0 + EXP(-log_ratio))) * 1152921504606846976)
        |             AS BIGINT)
        |ORDER BY doc_id""".stripMargin),

    // --- BM25 more-like-this retrieval (first 5 docs as queries) ---
    Case("bm25_topk", (s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.bm25TopK(docs, docs.filter(col("doc_id") < 5),
          scores = Some(bm25Scores5(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    },
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
        |  GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, score FROM (
        |  SELECT query_id, doc_id, score,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- contrastive triples: embedding-training data from the corpus ---
    Case("contrastive_pairs", (s, dir) =>
      Similarity.contrastiveTriples(T(s, dir, "embeddings"),
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("anchor")),
      kmeansCte() +
      """, sims AS (
        |  SELECT a.vec_id AS anchor, b.vec_id AS other,
        |         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                                      CAST(eb.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign a JOIN assign b
        |    ON a.cluster = b.cluster AND a.vec_id != b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
        |pos AS (
        |  SELECT anchor, other AS positive, sim AS pos_sim FROM (
        |    SELECT anchor, other, sim,
        |           ROW_NUMBER() OVER (PARTITION BY anchor
        |             ORDER BY sim DESC, other) AS r
        |    FROM sims WHERE sim >= 0.3) WHERE r = 1),
        |neg AS (
        |  SELECT anchor, other AS negative, sim AS neg_sim FROM (
        |    SELECT anchor, other, sim,
        |           ROW_NUMBER() OVER (PARTITION BY anchor
        |             ORDER BY sim DESC, other) AS r
        |    FROM sims WHERE sim < 0.1) WHERE r = 1)
        |SELECT p.anchor, p.positive, p.pos_sim, n.negative, n.neg_sim
        |FROM pos p JOIN neg n USING (anchor) ORDER BY anchor""".stripMargin),

    // --- hybrid retrieval: RRF fusion of BM25 and embedding cosine ---
    Case("hybrid_topk", (s, dir) => {
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val bm = TextOps.bm25TopK(docs, docs.filter(col("doc_id") < 5), 20,
          scores = Some(bm25Scores5(s, dir)))
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val cs = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      TextOps.rrfFuse(Seq(bm, cs), 5)
        .select(col("query_id"), col("rank"), col("id").as("doc_id"), col("rrf"))
        .orderBy(col("query_id"), col("rank"))
    },
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
        |  WHERE rank <= 20),
        |bfr AS (
        |  SELECT query_id, neighbor_id AS id, rank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                             CAST(c.embedding AS DOUBLE[])) DESC,
        |                      c.vec_id) AS INT) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        |    WHERE q.vec_id < 5)
        |  WHERE rank <= 20),
        |u AS (SELECT query_id, id, rank FROM bmr
        |      UNION ALL SELECT query_id, id, rank FROM bfr),
        |f AS (SELECT query_id, id, ROUND(SUM(1.0 / (60 + rank)), 6) AS rrf
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, rank, id AS doc_id, rrf FROM (
        |  SELECT query_id, id, rrf,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY rrf DESC, id) AS INT) AS rank
        |  FROM f)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // --- topic labels: top TF-IDF terms per k-means embedding cluster ---
    Case("cluster_terms", (s, dir) =>
      Curation.clusterTopTerms(T(s, dir, "documents"), T(s, dir, "embeddings"),
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("cluster"), col("rank")),
      kmeansCte() +
      """, dt AS (
        |  SELECT a.cluster,
        |         unnest(regexp_split_to_array(trim(d.text), ' +')) AS term
        |  FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
        |tc AS (SELECT cluster, term, COUNT(*) AS c FROM dt GROUP BY 1, 2),
        |tdf AS (SELECT term, COUNT(*) AS df FROM tc GROUP BY 1),
        |sc2 AS (SELECT cluster, term, ROUND(c * ln(8.0 / df), 4) AS tfidf
        |        FROM tc JOIN tdf USING (term))
        |SELECT cluster, rank, term, tfidf FROM (
        |  SELECT cluster, term, tfidf,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster
        |           ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM sc2)
        |WHERE rank <= 5 ORDER BY cluster, rank""".stripMargin),

    // --- linear quality classifier (fastText-shape deployment) ---
    Case("quality_logreg", (s, dir) =>
      Curation.logisticQuality(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      """WITH f AS (
        |  SELECT doc_id,
        |         len(regexp_split_to_array(trim(text), ' +')) AS toks,
        |         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |           / GREATEST(length(text), 1) AS alpha,
        |         CAST(length(text) AS DOUBLE)
        |           / GREATEST(len(regexp_split_to_array(trim(text), ' +')), 1) AS avgtok
        |  FROM documents),
        |z AS (SELECT doc_id,
        |             ROUND(-4.0 + 0.03 * LEAST(CAST(toks AS DOUBLE), 200.0)
        |                   + 5.0 * alpha - 0.4 * ABS(avgtok - 5.0), 4) AS logit
        |      FROM f)
        |SELECT doc_id, logit,
        |       ROUND(1.0 / (1.0 + EXP(-logit)), 4) AS p_keep,
        |       CAST(CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM z ORDER BY doc_id""".stripMargin),

    // --- distributed BPE merge training over the corpus (one corpus
    // scan, then per-iteration shuffles of the vocab table only); the
    // learned merge list is memoized per (session, sfDir) — train once,
    // encode many times, like the k-means/PQ model caches ---
    Case("bpe_merges", (s, dir) =>
      s.createDataFrame(bpeMerges(s, dir))
        .toDF("merge_rank", "left_sym", "right_sym", "weight")
        .orderBy(col("merge_rank")),
      bpeOracleSql(8)),

    // --- the encode side: apply the learned merges and report per-source
    // compression (merge chain over the DISTINCT word table only) ---
    Case("bpe_encode", (s, dir) =>
      graft.scale.Bpe.encodeStats(T(s, dir, "documents"),
          bpeMerges(s, dir).map(m => (m._2, m._3)))
        .select(col("source"), col("n_words"), col("n_bpe_tokens"),
          col("n_char_tokens"))
        .orderBy(col("source")),
      bpeOracleChain(8, withFinalVocab = true) +
      """,
        |ws AS (
        |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT source, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1, 2),
        |enc AS (
        |  SELECT word, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS toks
        |  FROM v9)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_words,
        |       CAST(SUM(n * toks) AS BIGINT) AS n_bpe_tokens,
        |       CAST(SUM(n * len(word)) AS BIGINT) AS n_char_tokens
        |FROM ws JOIN enc USING (word) GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- Flesch-style readability in pure integer micro-units: words /
    // sentences / vowel-group syllables, scan-speed curation signal ---
    Case("text_readability", (s, dir) =>
      TextOps.readability(T(s, dir, "documents")).orderBy(col("doc_id")),
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(GREATEST(len(regexp_split_to_array(trim(text), ' +')), 1)
        |           AS BIGINT) AS n_words,
        |         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |           AS BIGINT) AS n_sentences,
        |         CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
        |           AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       CAST(n_words * 1000000 // n_sentences AS BIGINT) AS wps_micro,
        |       CAST(n_syllables * 1000000 // n_words AS BIGINT) AS spw_micro,
        |       CAST(206835000
        |            - (1015 * (n_words * 1000000 // n_sentences)) // 1000
        |            - (84600 * (n_syllables * 1000000 // n_words)) // 1000
        |         AS BIGINT) AS flesch_micro
        |FROM m ORDER BY doc_id""".stripMargin),

    // --- cross-split n-gram contamination under the leakage-safe split:
    // pair-level leakage is 0 by construction, but common shingles still
    // cross the boundary — the memorization-eval denominator ---
    Case("split_ngram_overlap", (s, dir) =>
      Curation.splitNgramOverlap(T(s, dir, "documents"),
          Curation.leakageSafeSplit(T(s, dir, "documents"),
            lshComponents(s, dir)))
        .orderBy(col("split")),
      splitAssignCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |ss AS (SELECT DISTINCT a.split, d.shingle
        |       FROM dsh d JOIN assign a USING (doc_id)),
        |cnt AS (SELECT shingle, COUNT(*) AS ns FROM ss GROUP BY 1)
        |SELECT ss.split, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN c.ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shared,
        |       CAST(SUM(CASE WHEN c.ns >= 2 THEN 1 ELSE 0 END) * 1000000
        |            // COUNT(*) AS BIGINT) AS shared_micro
        |FROM ss JOIN cnt c USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Case("split_safe", (s, dir) =>
      Curation.leakageSafeSplit(T(s, dir, "documents"), lshComponents(s, dir))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
          sum(when(col("in_cluster"), 1L).otherwise(0L)).as("n_clustered"))
        .orderBy(col("split")),
      splitAssignCte +
      """SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(d.text), ' +'))) AS BIGINT)
        |         AS n_tokens,
        |       CAST(SUM(CASE WHEN a.in_cluster THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clustered
        |FROM assign a JOIN documents d USING (doc_id)
        |GROUP BY a.split ORDER BY a.split""".stripMargin),

    // --- the leakage audit: near-dup pairs straddling the split
    // boundary under a naive per-doc hash vs the component-keyed split
    // (the latter is 0 by construction — proved, not assumed) ---
    Case("split_leakage", (s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(minhashSigs(s, dir)).select("a", "b")
      val safe = Curation.leakageSafeSplit(docs, lshComponents(s, dir))
        .select(col("doc_id"), col("split"))
      val naive = docs.select(col("doc_id"),
        (TextOps.md5Hash60(col("doc_id").cast("string"), 11) % 10)
          .cast("int").as("split"))
      def audit(assign: DataFrame, method: String) =
        pairs
          .join(assign.select(col("doc_id").as("a"), col("split").as("sa")), "a")
          .join(assign.select(col("doc_id").as("b"), col("split").as("sb")), "b")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
              .as("cross_pairs"))
          .select(lit(method).as("method"), col("n_pairs"), col("cross_pairs"))
      audit(naive, "naive").unionByName(audit(safe, "component"))
        .orderBy(col("method"))
    },
      splitAssignCte +
      """, naive AS (
        |  SELECT doc_id,
        |         CAST(CAST(concat('0x',
        |             substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 10 AS INT) AS split
        |  FROM documents)
        |SELECT method, n_pairs, cross_pairs FROM (
        |  SELECT 'naive' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(SUM(CASE WHEN na.split != nb.split THEN 1 ELSE 0 END)
        |           AS BIGINT) AS cross_pairs
        |  FROM prs p JOIN naive na ON na.doc_id = p.a
        |              JOIN naive nb ON nb.doc_id = p.b
        |  UNION ALL
        |  SELECT 'component', CAST(COUNT(*) AS BIGINT),
        |         CAST(SUM(CASE WHEN sa.split != sb.split THEN 1 ELSE 0 END)
        |           AS BIGINT)
        |  FROM prs p JOIN assign sa ON sa.doc_id = p.a
        |              JOIN assign sb ON sb.doc_id = p.b)
        |ORDER BY method""".stripMargin),

    // --- deterministic mixture-weighted epoch schedule (smooth weighted
    // round-robin): src0 4×, src1 2×, everything else 1× — exact
    // integer fraction ordering, global position via the distributed
    // dense-id sort ---
    Case("epoch_order", (s, dir) =>
      Curation.epochOrder(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2))
        .orderBy(col("pos")),
      """WITH r AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, r,
        |         r * (CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2
        |              ELSE 4 END) AS key
        |  FROM r)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, source, r) - 1 AS BIGINT)
        |         AS pos,
        |       doc_id, source
        |FROM k ORDER BY pos""".stripMargin),

    // --- shard-level epoch schedule: the same smooth weighted
    // round-robin over PACKED SHARDS (what a dataloader actually opens) ---
    Case("epoch_shards", (s, dir) =>
      Curation.epochShards(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2), docsPerShard = 8)
        .orderBy(col("pos")),
      """WITH r AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |sh AS (
        |  SELECT source, (rn - 1) // 8 AS shard_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM r GROUP BY 1, 2),
        |k AS (
        |  SELECT source, shard_id, n_docs,
        |         (shard_id + 1) * (CASE source WHEN 'src0' THEN 1
        |              WHEN 'src1' THEN 2 ELSE 4 END) AS key
        |  FROM sh)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key, source, shard_id) - 1
        |         AS BIGINT) AS pos,
        |       source, shard_id, n_docs
        |FROM k ORDER BY pos""".stripMargin),

    // --- collocation mining: top bigrams by count with micro-unit PMI
    // (per-row ln on identical integer ratios — engine-exact); bigram
    // and unigram counts are two keyed aggs + one join, never all-pairs ---
    Case("colloc_pmi", (s, dir) => {
      val docs = T(s, dir, "documents")
      val toks = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val bigrams = graft.scale.Shingles.wordShingles(docs, 2)
        .groupBy(col("shingle")).agg(count(lit(1)).as("c_xy"))
      val n = toks.count()
      val w = bigrams
        .withColumn("x", split(col("shingle"), " ").getItem(0))
        .withColumn("y", split(col("shingle"), " ").getItem(1))
        .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
        .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
        .withColumn("pmi_micro",
          round(log(col("c_xy") * lit(n) /
            (col("c_x") * col("c_y")).cast("double")) * 1000000).cast("long"))
        .select(col("shingle").as("bigram"), col("c_xy"), col("c_x"),
          col("c_y"), col("pmi_micro"))
      w.orderBy(col("c_xy").desc, col("bigram")).limit(50)
    },
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |tok AS (SELECT unnest(toks) AS tok FROM t),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |bg AS (
        |  SELECT array_to_string(toks[i:i+1], ' ') AS bigram
        |  FROM (SELECT toks,
        |          unnest(generate_series(1, GREATEST(len(toks) - 1, 1))) AS i
        |        FROM t)),
        |bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
        |       FROM bg GROUP BY 1)
        |SELECT b.bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
        |       CAST(ROUND(ln(CAST(b.c_xy AS DOUBLE) * nn.n /
        |                     (ux.c * uy.c)) * 1000000) AS BIGINT) AS pmi_micro
        |FROM bc b CROSS JOIN nn
        |JOIN uni ux ON ux.tok = string_split(b.bigram, ' ')[1]
        |JOIN uni uy ON uy.tok = string_split(b.bigram, ' ')[2]
        |WHERE len(string_split(b.bigram, ' ')) = 2
        |ORDER BY b.c_xy DESC, b.bigram LIMIT 50""".stripMargin),

    // --- tokenizer fertility per language: subword-ish tokens per
    // whitespace word in micro-units — the mixture-planning metric ---
    Case("token_fertility", (s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("ws"),
          size(TextOps.bpeishTokens(col("text"))).cast("long").as("bp"))
        .groupBy(col("lang"))
        .agg(sum(col("ws")).cast("long").as("ws_tokens"),
          sum(col("bp")).cast("long").as("bpeish_tokens"))
        .withColumn("fertility_micro",
          expr("bpeish_tokens * 1000000 div ws_tokens"))
        .orderBy(col("lang")),
      """SELECT lang,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), ' +'))) AS BIGINT)
        |    AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |    + length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')))
        |    AS BIGINT) AS bpeish_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |    + length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')))
        |    * 1000000 //
        |    SUM(len(regexp_split_to_array(trim(text), ' +')))
        |    AS BIGINT) AS fertility_micro
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // --- is the quality score meaningful? decile-calibration report:
    // per quality decile (dense ranks, no global window) the doc count,
    // near-dup membership, and token mass — a good score should
    // concentrate duplication in the bottom deciles ---
    Case("quality_calibration", (s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = TextOps.qualityScore(docs)
        .join(docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("toks")),
          Seq("doc_id"))
        .join(lshComponents(s, dir)
          .select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .localCheckpoint()
      val n = scored.count()
      graft.ingest.Ingest.assignDenseIds(scored, "__rk",
          col("quality").desc, col("doc_id").asc)
        .groupBy(expr(s"(10 * __rk) div $n").cast("int").as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("component").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          sum(col("toks")).cast("long").as("n_tokens"))
        .orderBy(col("decile"))
    },
      splitAssignCte +
      s""", qd AS (SELECT doc_id, $qualitySql AS quality,
         |         len(regexp_split_to_array(trim(text), ' +')) AS toks
         |  FROM documents),
         |r AS (SELECT doc_id, quality, toks,
         |        ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) - 1 AS rk,
         |        COUNT(*) OVER () AS n
         |      FROM qd)
         |SELECT CAST((10 * rk) // n AS INT) AS decile,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_clustered,
         |       CAST(SUM(toks) AS BIGINT) AS n_tokens
         |FROM r LEFT JOIN comp c ON c.node = r.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Oracle for [[graft.scale.Bpe.learnMerges]]: the n merge iterations
    * unrolled as MATERIALIZED CTE stages (each vocab stage is referenced
    * by both the next pair count and the next replace — materialization
    * keeps the chain linear instead of exponential). Pair extraction
    * zips two parallel UNNESTs of explicit 1-based list slices; the
    * merge itself is the same literal-`replace` both engines implement
    * as a left-to-right non-overlapping scan. */
  private def bpeOracleSql(n: Int): String = {
    val union = (1 to n).map(i =>
      s"SELECT CAST($i AS INT) AS merge_rank, a AS left_sym, b AS right_sym, w AS weight FROM t$i")
      .mkString("\n", "\nUNION ALL\n", "")
    s"${bpeOracleChain(n)}\nSELECT * FROM ($union)\nORDER BY merge_rank"
  }

  /** The shared CTE chain of the BPE oracles (merges + encode): `word`
    * rides through every vocab stage so the encode tail can map words to
    * their final token counts; pair counting ignores it. With
    * `withFinalVocab`, also emits v{n+1} — the vocabulary AFTER the last
    * merge, i.e. what the encoder applies. */
  private def bpeOracleChain(n: Int, withFinalVocab: Boolean = false): String = {
    val head =
      """WITH w0 AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |v1 AS MATERIALIZED (
        |  SELECT word, freq, ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS seq
        |  FROM w0)""".stripMargin
    val stages = (1 to n).map { i =>
      val next = if (i < n || withFinalVocab)
        s""",
           |v${i + 1} AS MATERIALIZED (
           |  SELECT word, freq, replace(seq,
           |    (SELECT ' ' || a || ' ' || b || ' ' FROM t$i),
           |    (SELECT ' ' || a || b || ' ' FROM t$i)) AS seq
           |  FROM v$i)""".stripMargin
      else ""
      s""",
         |p$i AS (
         |  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS w FROM (
         |    SELECT freq, UNNEST(syms[1:array_length(syms) - 1]) AS a,
         |           UNNEST(syms[2:array_length(syms)]) AS b
         |    FROM (SELECT freq, string_split(trim(seq), ' ') AS syms FROM v$i))
         |  GROUP BY 1, 2),
         |t$i AS MATERIALIZED (
         |  SELECT a, b, w FROM p$i ORDER BY w DESC, a, b LIMIT 1)""".stripMargin + next
    }.mkString
    head + stages
  }

  /** Shared oracle CTE for the DSIR family: hashed-bigram buckets,
    * raw/target bucket counts, smoothed log-ratio bucket weights, and
    * the per-(doc, bucket) table `db`. */
  private def dsirCte: String =
    """WITH t AS (
      |  SELECT doc_id, lang, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |sh2 AS (
      |  SELECT doc_id, lang, array_to_string(toks[i:i+1], ' ') AS shingle
      |  FROM (SELECT doc_id, lang, toks,
      |          unnest(generate_series(1, GREATEST(len(toks) - 1, 1))) AS i
      |        FROM t)),
      |f AS (
      |  SELECT doc_id, lang,
      |         CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT)
      |           % 256 AS bucket
      |  FROM sh2),
      |rc AS (SELECT bucket, COUNT(*) AS rc FROM f GROUP BY 1),
      |tc AS (SELECT bucket, COUNT(*) AS tc FROM f WHERE lang = 'en' GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(SUM(rc) AS DOUBLE) FROM rc) AS rtot,
      |               (SELECT CAST(SUM(tc) AS DOUBLE) FROM tc) AS ttot),
      |bw AS (
      |  SELECT g.generate_series AS bucket,
      |         ln((COALESCE(tc.tc, 0) + 1.0) / (t.ttot + 256.0))
      |         - ln((COALESCE(rc.rc, 0) + 1.0) / (t.rtot + 256.0)) AS w
      |  FROM generate_series(0, 255) g
      |  LEFT JOIN rc ON rc.bucket = g.generate_series
      |  LEFT JOIN tc ON tc.bucket = g.generate_series CROSS JOIN tot t),
      |db AS (SELECT doc_id, bucket, COUNT(*) AS c FROM f GROUP BY 1, 2)
      |""".stripMargin

  /** PII planting for `text_pii`: deterministic doc_id-derived email / IP /
    * phone occurrences appended to the text, computed identically by Spark
    * and the DuckDB oracle (same SQL expression semantics), so extraction
    * and redaction are verified non-trivially. Counts vary per doc:
    * doc_id%3 emails, doc_id%2 IPs, exactly one phone. */
  private def piiPlantExpr =
    "concat(text, " +
      "repeat(concat(' user', cast(doc_id as string), '@example.com'), " +
      "       cast(doc_id % 3 as int)), " +
      "repeat(concat(' 10.0.', cast(doc_id % 256 as string), '.7'), " +
      "       cast(doc_id % 2 as int)), " +
      "' call 555-', lpad(cast(doc_id * 7 % 1000 as string), 3, '0'), " +
      "'-', lpad(cast(doc_id * 13 % 10000 as string), 4, '0'))"

  /** Target mixture for `sample_mix`: down-weight the over-represented
    * languages (en is ~44% of the corpus). */
  private def mixRates =
    Seq(("en", 0.25), ("de", 1.0), ("es", 0.6), ("fr", 0.6), ("zh", 0.8))
}
