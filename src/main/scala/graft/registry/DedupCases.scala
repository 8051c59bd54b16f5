package graft
package registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.scale.{Curation, Dedup, Similarity, TextOps}
import graft.SparkEntry.{T, cdcIndexHist, embAutoCentroids, embCentroids,
  jpIndexDf, jpIndexDocs, lshComponents, lshComponentsHist, minhashSigs,
  shingleIndexHist, shinglePairStats, simhashTab, storedAppendedIndex,
  storedIndex, winnowFp, winnowIndexHist}
import graft.registry.OracleCtes.{kmeansCte, kmeansCteAuto, lshLosersCte,
  lshPairsCte, shinglesCte, splitAssignCte}

/** Dedup / fingerprinting: exact, MinHash/LSH, SimHash, winnowing, CDC and
  * substring dedup, batch and day-2/day-3 incremental. */
object DedupCases extends Family("Dedup / fingerprinting") {

  /** The `*_incr` rows whose oracle a `*_day3` row reuses VERBATIM:
    * both probe the same batch against the same effective
    * history (day-1 ∪ day-2) — the sibling via a from-scratch index
    * build, the day-3 row via IndexStore.append — so an identical
    * hash-checked result is precisely the probe-after-append ==
    * probe-after-rebuild property. */
  // --- day-2 ingest for the exact-Jaccard family: docs with
  // doc_id % 10 == 0 arrive as the new batch and join the persisted
  // prefix index of the rest — emits exactly the full run's verified
  // pairs that touch >= 1 new doc, without re-shingling history ---
  val jaccardPrefixIncr: Case = Case("jaccard_prefix_incr", (s, dir) =>
      storedIndex(s, dir, "idx_jaccard_prefix")(
          graft.scale.IndexStore.JaccardPrefixIndex(
            jpIndexDf(s, dir), jpIndexDocs(s, dir), 3, 1, 5, "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b")),
      // the incremental path is EXACT (verification is order-independent),
      // so its oracle is the full brute-force threshold join restricted to
      // pairs touching a new-batch (doc_id % 10 = 0) document
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM dsh x JOIN dsh y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(i AS BIGINT) AS inter,
        |       CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb
        |FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |           JOIN sizes sb ON inter.b = sb.doc_id
        |WHERE i * 5 >= (sa.sz + sb.sz - i) * 1
        |  AND (a % 10 = 0 OR b % 10 = 0)
        |ORDER BY a, b""".stripMargin)

  // --- CDC chunks composed into the dedup signal they exist for:
  // per-doc count/chars of chunks whose hash appears in another doc.
  // All three shuffles are keyed (md5 agg, md5 join-back, doc agg) —
  // the shape that holds at 100 TB; no window over the full corpus ---
  // --- day-2 CDC dedup: the %10==0 batch chunked and probed against
  // the persisted chunk store of history; equals the full rerun
  // restricted to the batch (oracle = full SQL + that filter) ---
  val cdcDedupIncr: Case = Case("cdc_dedup_incr", (s, dir) =>
      storedIndex(s, dir, "idx_cdc")(
          graft.scale.IndexStore.CdcIndex(cdcIndexHist(s, dir), 8, 6,
            "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id")),
      // the day-2 incremental probe against the frozen history chunk
      // store equals the full rerun restricted to the batch (history
      // membership OR batch-internal distinct-doc count >= 2 covers every
      // way the corpus-wide count reaches 2)
      cdcDedupSql.replace(
      "FROM chunks c JOIN hd USING (chunk_md5)",
      "FROM chunks c JOIN hd USING (chunk_md5)\nWHERE c.doc_id % 10 = 0"))

  // --- day-2 exact-substring removal: the %10==0 batch cleaned
  // against the persisted shingle SET of history; for the new docs
  // this equals the full rerun restricted to the batch, so the
  // oracle IS the full-corpus SQL with that filter ---
  val dupSpansRemovedIncr: Case = Case("dup_spans_removed_incr", (s, dir) =>
      storedIndex(s, dir, "idx_shingle")(
          graft.scale.IndexStore.ShingleIndex(shingleIndexHist(s, dir), 3,
            "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id")),
      // the day-2 incremental clean of the %10==0 batch against the
      // frozen history shingle set EQUALS the full rerun restricted to
      // the batch (set membership + batch-internal df >= 2 covers every
      // way the corpus-wide distinct-doc count reaches 2), so the oracle
      // is the full-corpus pipeline filtered to the batch
      dupSpansRemovedSql(
      "WHERE t1.doc_id % 10 = 0 "))

  // --- day-2 MOSS matching: the %10==0 batch against the persisted
  // winnow index of history + within-batch pairs; df cap on COMBINED
  // counts, so the result equals the full rerun's new-touching pairs
  // (the oracle is the full SQL with that filter) ---
  val winnowPairsIncr: Case = Case("winnow_pairs_incr", (s, dir) =>
      storedIndex(s, dir, "idx_winnow")(
          graft.scale.IndexStore.WinnowIndex(winnowIndexHist(s, dir),
            minShared = 2, k = 3, w = 4, maxFpDf = 100, "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b")),
      // full winnow pipeline restricted to pairs TOUCHING the %10==0
      // batch — what the combined-count day-2 cap provably equals
      winnowCte +
      """, wfp AS (
        |  SELECT DISTINCT doc_id, CAST(k // 1048576 AS BIGINT) AS fingerprint
        |  FROM wmin WHERE pos <= GREATEST(nsh - 3, 1)),
        |wkept AS (
        |  SELECT doc_id, fingerprint FROM wfp
        |  WHERE fingerprint IN (
        |    SELECT fingerprint FROM wfp GROUP BY 1 HAVING COUNT(*) <= 100))
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM wkept x JOIN wkept y
        |  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
        |WHERE x.doc_id % 10 = 0 OR y.doc_id % 10 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b""".stripMargin)

  // --- day-2 incremental dedup: the new batch (doc_id ≥ 400) dedups
  // against the persisted band index of the historical corpus without
  // re-hashing it; result = the full run's pairs touching a new doc ---
  val minhashIncremental: Case = Case("minhash_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedIndex(s, dir, "idx_minhash_400")(
          graft.scale.IndexStore.buildMinhashLsh(docs.filter(col("doc_id") < 400)))
        .probe(docs.filter(col("doc_id") >= 400))
        .orderBy(col("a"), col("b"))
    },
      shinglesCte + lshPairsCte +
      """SELECT a, b FROM prs
        |WHERE a >= 400 OR b >= 400 ORDER BY a, b""".stripMargin)

  val cases: Seq[Case] = Seq(

    // --- where duplication lives inside documents: per position
    // tercile (start/middle/end of doc), the share of shingle instances
    // whose text is cross-doc duplicated — boilerplate concentrates at
    // the edges, plagiarized cores in the middle ---
    Case("dup_positions", (s, dir) => {
      val docs = T(s, dir, "documents")
      val sh = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          expr("greatest(size(toks) - 2, 1)").as("nsh"), col("toks"))
        .select(col("doc_id"), col("nsh"),
          posexplode(transform(sequence(lit(1), col("nsh")),
            i => concat_ws(" ", slice(col("toks"), i, lit(3))))))
        .select(col("doc_id"),
          least(expr("(pos * 3) div nsh"), lit(2)).cast("int").as("tercile"),
          col("col").as("shingle"))
      val df2 = sh.groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      sh.join(df2, Seq("shingle"))
        .groupBy(col("tercile"))
        .agg(count(lit(1)).as("n_instances"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_instances"))
        .withColumn("dup_share_micro",
          expr("n_dup_instances * 1000000 div n_instances"))
        .orderBy(col("tercile"))
    },
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, GREATEST(len(toks) - 2, 1) AS nsh, i - 1 AS pos,
        |         array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
        |        FROM t)),
        |p AS (SELECT doc_id,
        |             CAST(LEAST((pos * 3) // nsh, 2) AS INT) AS tercile,
        |             shingle
        |      FROM sh),
        |d AS (SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY 1)
        |SELECT tercile, CAST(COUNT(*) AS BIGINT) AS n_instances,
        |       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_instances,
        |       CAST(SUM(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) * 1000000
        |            // COUNT(*) AS BIGINT) AS dup_share_micro
        |FROM p JOIN d USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- SemDeDup threshold sweep: pair/doc counts at cosine 0.2/0.3/
    // 0.5 from ONE cluster-restricted pair pass — the data-driven
    // threshold report before committing to a semantic-dedup cut ---
    Case("semdedup_sweep", (s, dir) => {
      val pairs = Similarity.cosinePairs(
          Similarity.withCluster(T(s, dir, "embeddings"),
            embCentroids(s, dir)),
          threshold = 0.2, bucketCol = "cluster")
        .localCheckpoint()
      Seq(0.2, 0.3, 0.5).map { t =>
        pairs.filter(col("sim") >= t)
          .select(explode(array(col("a"), col("b"))).as("d"))
          .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
            countDistinct(col("d")).as("n_docs"))
          .select(lit(math.round(t * 1000000).toLong).as("threshold_micro"),
            col("n_pairs"), col("n_docs"))
      }.reduce(_ unionByName _).orderBy(col("threshold_micro"))
    },
      kmeansCte() +
      """, prs AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
        |                                      CAST(ey.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign x JOIN assign y
        |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id
        |  JOIN embeddings ey ON ey.vec_id = y.vec_id)""".stripMargin +
      Seq(0.2, 0.3, 0.5).map { t =>
        val tm = math.round(t * 1000000)
        s"""SELECT CAST($tm AS BIGINT) AS threshold_micro,
           |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |       CAST((SELECT COUNT(DISTINCT d) FROM (
           |              SELECT a AS d FROM prs WHERE sim >= $t
           |              UNION SELECT b FROM prs WHERE sim >= $t)) AS BIGINT)
           |         AS n_docs
           |FROM prs WHERE sim >= $t""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "\nORDER BY threshold_micro")),

    Case("doc_fingerprint", (s, dir) => TextOps.fingerprint(T(s, dir, "documents"))
      .orderBy(col("doc_id"), col("pos")),
      shinglesCte +
      """, hashed AS (
        |  SELECT DISTINCT doc_id,
        |         CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh)
        |SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS INT) AS pos,
        |       h AS fingerprint
        |FROM hashed QUALIFY pos <= 8 ORDER BY doc_id, pos""".stripMargin),

    // --- per-doc novelty: how many of a doc's shingles appear here
    // first (memorization/contamination direction signal) ---
    Case("doc_novelty", (s, dir) => {
      val sh = graft.scale.Shingles
        .wordShingles(T(s, dir, "documents")).distinct()
      val first = sh.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_new"))
        .orderBy(col("doc_id"))
    },
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM dsh GROUP BY 1)
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new
        |FROM dsh d JOIN first f USING (shingle)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    // --- dedup family ---
    Case("dedup_exact", (s, dir) => Dedup.exact(T(s, dir, "documents"))
      .orderBy(col("representative")),
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS representative,
        |       CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY representative""".stripMargin),

    Case("minhash_sig", (s, dir) => minhashSigs(s, dir)
      .orderBy(col("doc_id"), col("seed")),
      shinglesCte +
      """, hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(concat('0x', substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh)
        |SELECT doc_id, seed, MIN(h1 + seed * h2) AS minhash
        |FROM hashed, generate_series(0, 15) g(seed)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // --- LSH banding parameter sweep over one signature table ---
    Case("lsh_tuning", (s, dir) =>
      Dedup.lshTuning(minhashSigs(s, dir))
        .orderBy(col("bands")),
      shinglesCte +
      """, hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(concat('0x', substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, seed, MIN(h1 + seed * h2) AS minhash
        |  FROM hashed, generate_series(0, 15) g(seed) GROUP BY 1, 2)""".stripMargin +
        Seq((8, 2), (4, 4), (2, 8)).map { case (b, r) =>
          s""",
             |band_$b AS (
             |  SELECT doc_id, CAST(seed // $r AS INT) AS band,
             |         md5(string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY seed))
             |           AS band_key
             |  FROM sig GROUP BY 1, 2),
             |pairs_$b AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM band_$b x JOIN band_$b y
             |    ON x.band = y.band AND x.band_key = y.band_key
             |  WHERE x.doc_id < y.doc_id)""".stripMargin
        }.mkString +
        "\n" +
        Seq((8, 2), (4, 4), (2, 8)).map { case (b, r) =>
          s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
             |  (SELECT COUNT(*) FROM pairs_$b) AS n_pairs,
             |  (SELECT COUNT(DISTINCT d) FROM
             |    (SELECT a AS d FROM pairs_$b UNION SELECT b FROM pairs_$b))
             |    AS n_docs""".stripMargin
        }.mkString("\nUNION ALL\n") +
        "\nORDER BY bands"),

    Case("minhash_pairs", (s, dir) => Dedup.minhashLshPairs(minhashSigs(s, dir))
      .orderBy(col("a"), col("b")),
      shinglesCte +
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
        |  FROM sig GROUP BY 1, 2)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM band x JOIN band y ON x.band = y.band AND x.band_key = y.band_key
        |WHERE x.doc_id < y.doc_id ORDER BY 1, 2""".stripMargin),

    Case("simhash", (s, dir) => simhashTab(s, dir).orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |             CAST(concat('0x', substr(md5('0:' || tok), 1, 15)) AS BIGINT) AS h
        |      FROM tok),
        |bits AS (
        |  SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
        |  FROM h, generate_series(0, 59) g(bit) GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin),

    // --- simhash NEAR-dup pairs: the 60-bit signature split into 32-bit
    // halves and banded through the same lossless Hamming-LSH as
    // image_neardup, over distinct signatures. 4 bands of 16 bits (not
    // 8 of 8): radius 3 < 4 keeps the lossless bound, and the top band
    // of a 60-bit hash then still carries 12 meaningful bits — with
    // 8-bit slices it carried 4, whose 16-key space made every bucket
    // ~n/16 and the candidate join quadratic-ish (measured 3.3 s;
    // 16-bit slices collapse it) ---
    Case("simhash_neardup", (s, dir) => {
      val uniq = simhashTab(s, dir)
        .groupBy("simhash")
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
        .withColumn("hi", shiftright(col("simhash"), 32))
        .withColumn("lo", col("simhash").bitwiseAND(lit(0xFFFFFFFFL)))
      val pairs = Dedup.hammingBandPairs(uniq, radius = 3, bands = 4,
        idCol = "rep_id", hiCol = "hi", loCol = "lo")
      pairs
        .join(uniq.select(col("rep_id").as("a"), col("n_docs").as("n_docs_a")),
          Seq("a"))
        .join(uniq.select(col("rep_id").as("b"), col("n_docs").as("n_docs_b")),
          Seq("b"))
        .select(col("a"), col("b"), col("hamming"),
          col("n_docs_a"), col("n_docs_b"))
        .orderBy(col("a"), col("b"))
    },
      // brute-force Hamming <= 3 join over distinct signatures — provably
      // equal to the engine's 8-band Hamming-LSH (radius < bands)
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |             CAST(concat('0x', substr(md5('0:' || tok), 1, 15)) AS BIGINT) AS h
        |      FROM tok),
        |bits AS (
        |  SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
        |  FROM h, generate_series(0, 59) g(bit) GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
        |                  ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |uniq AS (
        |  SELECT simhash, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
        |  FROM sh GROUP BY 1)
        |SELECT u1.rep_id AS a, u2.rep_id AS b,
        |       CAST(bit_count(xor(u1.simhash, u2.simhash)) AS INT) AS hamming,
        |       CAST(u1.n_docs AS BIGINT) AS n_docs_a,
        |       CAST(u2.n_docs AS BIGINT) AS n_docs_b
        |FROM uniq u1 JOIN uniq u2 ON u1.rep_id < u2.rep_id
        |WHERE bit_count(xor(u1.simhash, u2.simhash)) <= 3
        |ORDER BY a, b""".stripMargin),

    // --- day-2 simhash near-dup: the %10==0 docs arrive as the new
    // batch and join the persisted 4x16-bit Hamming band index of
    // history's distinct signatures — completes the day-2 lattice for
    // the last fingerprint family (same lossless radius 3 < 4 bands) ---
    Case("simhash_neardup_incr", (s, dir) => {
      val tab = simhashTab(s, dir)
      def uniq(side: org.apache.spark.sql.DataFrame) =
        side.groupBy("simhash")
          .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
          .withColumn("hi", shiftright(col("simhash"), 32))
          .withColumn("lo", col("simhash").bitwiseAND(lit(0xFFFFFFFFL)))
      val hist = uniq(tab.filter(col("doc_id") % 10 =!= 0))
      val fresh = uniq(tab.filter(col("doc_id") % 10 === 0))
      val pairs = storedIndex(s, dir, "idx_simhash_hamming")(
          graft.scale.IndexStore.buildHamming(hist, radius = 3, bands = 4,
            idCol = "rep_id", hiCol = "hi", loCol = "lo"))
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
      // day-2 twin: per-side distinct signatures (history %10!=0, new
      // %10=0), brute-force Hamming <= 3 over the combined node set
      // restricted to pairs touching a new node
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |             CAST(concat('0x', substr(md5('0:' || tok), 1, 15)) AS BIGINT) AS h
        |      FROM tok),
        |bits AS (
        |  SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
        |  FROM h, generate_series(0, 59) g(bit) GROUP BY 1, 2),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
        |                  ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY 1),
        |nodes AS (
        |  SELECT simhash, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs,
        |         0 AS isnew
        |  FROM sh WHERE doc_id % 10 != 0 GROUP BY 1
        |  UNION ALL
        |  SELECT simhash, MIN(doc_id) AS rep_id, COUNT(*) AS n_docs,
        |         1 AS isnew
        |  FROM sh WHERE doc_id % 10 = 0 GROUP BY 1)
        |SELECT least(u1.rep_id, u2.rep_id) AS a,
        |       greatest(u1.rep_id, u2.rep_id) AS b,
        |       CAST(bit_count(xor(u1.simhash, u2.simhash)) AS INT) AS hamming,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u1.n_docs
        |            ELSE u2.n_docs END AS BIGINT) AS n_docs_a,
        |       CAST(CASE WHEN u1.rep_id < u2.rep_id THEN u2.n_docs
        |            ELSE u1.n_docs END AS BIGINT) AS n_docs_b
        |FROM nodes u1 JOIN nodes u2
        |  ON u1.rep_id < u2.rep_id AND (u1.isnew = 1 OR u2.isnew = 1)
        |WHERE bit_count(xor(u1.simhash, u2.simhash)) <= 3
        |ORDER BY a, b""".stripMargin),

    // --- syndication: near-dup pairs crossing source boundaries ---
    Case("dup_cross_source", (s, dir) =>
      Dedup.crossGroupPairs(T(s, dir, "documents"),
          pairs = Some(Dedup.minhashLshPairs(minhashSigs(s, dir))))
        .orderBy(col("a"), col("b")),
      shinglesCte +
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
        |p AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y ON x.band = y.band AND x.band_key = y.band_key
        |  WHERE x.doc_id < y.doc_id)
        |SELECT p.a, p.b, da.source AS source_a, db.source AS source_b
        |FROM p JOIN documents da ON da.doc_id = p.a
        |       JOIN documents db ON db.doc_id = p.b
        |WHERE da.source <> db.source ORDER BY 1, 2""".stripMargin),

    // --- the syndication MATRIX: cross-source near-dup pairs rolled up
    // to (source_lo, source_hi) counts — which domains republish which;
    // the per-pair table is dup_cross_source, this is the report a
    // crawl-dedup policy actually reads ---
    Case("dup_source_matrix", (s, dir) =>
      Dedup.crossGroupPairs(T(s, dir, "documents"),
          pairs = Some(Dedup.minhashLshPairs(minhashSigs(s, dir))))
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_lo"), col("src_hi")),
      shinglesCte + lshPairsCte +
      """SELECT LEAST(da.source, db.source) AS src_lo,
        |       GREATEST(da.source, db.source) AS src_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM prs p
        |JOIN documents da ON da.doc_id = p.a
        |JOIN documents db ON db.doc_id = p.b
        |WHERE da.source != db.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Case("ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), 3, 0.1, maxShingleDf = 1000,
          statsIn = Some(shinglePairStats(s, dir)))
        .orderBy(col("a"), col("b")),
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |kept AS (SELECT doc_id, shingle FROM dsh
        |         WHERE shingle IN (SELECT shingle FROM dsh
        |                           GROUP BY shingle HAVING COUNT(*) <= 1000)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM kept x JOIN kept y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, jaccard FROM (
        |  SELECT a, b, ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
        |  FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |             JOIN sizes sb ON inter.b = sb.doc_id)
        |WHERE jaccard >= 0.1 ORDER BY a, b""".stripMargin),

    // --- asymmetric containment: subset/quote near-dups Jaccard misses ---
    Case("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), 3, 0.5, maxShingleDf = 1000,
          statsIn = Some(shinglePairStats(s, dir)))
        .orderBy(col("a"), col("b")),
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |kept AS (SELECT doc_id, shingle FROM dsh
        |         WHERE shingle IN (SELECT shingle FROM dsh
        |                           GROUP BY shingle HAVING COUNT(*) <= 1000)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM kept x JOIN kept y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, cont_a, cont_b FROM (
        |  SELECT a, b, ROUND(CAST(i AS DOUBLE) / sa.sz, 4) AS cont_a,
        |         ROUND(CAST(i AS DOUBLE) / sb.sz, 4) AS cont_b
        |  FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |             JOIN sizes sb ON inter.b = sb.doc_id)
        |WHERE cont_a >= 0.5 OR cont_b >= 0.5 ORDER BY a, b""".stripMargin),

    // --- EXACT threshold-Jaccard join, lossless prefix filtering
    // (AllPairs/PPJoin): rare-token prefixes index, full sets verify ---
    Case("jaccard_prefix", (s, dir) =>
      Dedup.jaccardPrefixPairs(T(s, dir, "documents"), 3, 1, 5)
        .orderBy(col("a"), col("b")),
      // same 60-bit shingle hash as the engine (shared collisions keep the
      // compare bit-identical); prefix filtering is an engine-side pruning
      // only — the oracle verifies over ALL co-shingled pairs
      shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM dsh x JOIN dsh y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(i AS BIGINT) AS inter,
        |       CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb
        |FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |           JOIN sizes sb ON inter.b = sb.doc_id
        |WHERE i * 5 >= (sa.sz + sb.sz - i) * 1
        |ORDER BY a, b""".stripMargin),

    jaccardPrefixIncr,

    Case("minhash_estimate", (s, dir) => {
      val sigs = minhashSigs(s, dir)
      Dedup.minhashEstimate(Dedup.minhashLshPairs(sigs), sigs)
        .orderBy(col("a"), col("b"))
    },
      shinglesCte + lshPairsCte +
      """SELECT p.a, p.b,
        |  ROUND(AVG(CAST(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END
        |            AS DOUBLE)), 4) AS est_jaccard
        |FROM prs p
        |JOIN sig x ON x.doc_id = p.a
        |JOIN sig y ON y.doc_id = p.b AND y.seed = x.seed
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin),

    // --- LSH candidate precision vs EXACT Jaccard at tau = 1/2 ---
    Case("lsh_precision", (s, dir) =>
      Dedup.lshPrecision(T(s, dir, "documents"),
        Dedup.minhashLshPairs(minhashSigs(s, dir))),
      shinglesCte + lshPairsCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |sets AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |         FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT p.a, p.b, CAST(COUNT(*) AS BIGINT) AS i
        |  FROM prs p
        |  JOIN dsh sa ON sa.doc_id = p.a
        |  JOIN dsh sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT p.a, p.b, COALESCE(i.i, 0) AS i, za.sz AS sza, zb.sz AS szb
        |  FROM prs p
        |  LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
        |  JOIN sets za ON za.doc_id = p.a
        |  JOIN sets zb ON zb.doc_id = p.b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |       CAST(SUM(CASE WHEN i * 2 >= (sza + szb - i) * 1
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |       CAST(CASE WHEN COUNT(*) > 0
        |         THEN SUM(CASE WHEN i * 2 >= (sza + szb - i) * 1
        |                       THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
        |         ELSE 0 END AS BIGINT) AS precision_micro
        |FROM j""".stripMargin),

    Case("dedup_components", (s, dir) =>
      lshComponents(s, dir).orderBy(col("node")),
      // components via transitive closure: min reachable id per node
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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
        |  WHERE x.doc_id < y.doc_id),
        |cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
        |reach(node, label) AS (
        |  SELECT x, x FROM cedges
        |  UNION
        |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y)
        |SELECT node, MIN(label) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin),

    // --- day-2 COMPONENTS: yesterday's labels + the incremental pair
    // join's new edges, contracted to a new-batch-sized super-graph —
    // the oracle recomputes components from scratch over the full edge
    // set, so the green row proves the merge equals full recomputation ---
    Case("dedup_components_incr", (s, dir) => {
      val docs = T(s, dir, "documents")
      val newEdges = storedIndex(s, dir, "idx_minhash_hist")(
          graft.scale.IndexStore.buildMinhashLsh(
            docs.filter(col("doc_id") % 10 =!= 0)))
        .probe(docs.filter(col("doc_id") % 10 === 0))
      Dedup.componentsIncremental(lshComponentsHist(s, dir), newEdges)
        .orderBy(col("node"))
    },
      // identical to dedup_components: the oracle is the FULL
      // recomputation; the engine's day-2 merge must match it exactly
      shinglesCte
        .replaceFirst("WITH ", "WITH RECURSIVE ") + lshPairsCte +
      """, cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
        |reach(node, label) AS (
        |  SELECT x, x FROM cedges
        |  UNION
        |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y)
        |SELECT node, MIN(label) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin),

    // --- LSH candidate RECALL against the LOSSLESS exact-Jaccard join
    // (lsh_precision's missing half): what fraction of the true pairs
    // at tau = 1/5 and tau = 1/2 the banding surfaces — the eval that
    // says whether 16 sigs / 4 bands is enough before trusting the
    // candidate path at corpus scale ---
    Case("lsh_recall", (s, dir) => {
      val exact = Dedup.jaccardPrefixPairs(T(s, dir, "documents"), 3, 1, 5)
      val cand = Dedup.minhashLshPairs(minhashSigs(s, dir))
        .select(col("a"), col("b"), lit(1L).as("__hit"))
      val j = exact.join(cand, Seq("a", "b"), "left")
      def at(tau: String, cond: Column) = j.filter(cond)
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_covered"))
        .select(lit(tau).as("tau"), col("n_exact"), col("n_covered"))
      at("1/5", lit(true))
        .unionByName(at("1/2",
          col("inter") * 2 >= (col("sza") + col("szb") - col("inter"))))
        // zero-guard: a corpus with no exact pairs at a tau must yield
        // NULL on BOTH engines (DuckDB's integer // raises on /0)
        .withColumn("recall_micro", expr(
          "CASE WHEN n_exact = 0 THEN NULL " +
            "ELSE n_covered * 1000000 div n_exact END"))
        .orderBy(col("tau"))
    },
      shinglesCte + lshPairsCte +
      """, dsh AS (SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dsh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM dsh x JOIN dsh y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT inter.a, inter.b, i, sa.sz AS sza, sb.sz AS szb
        |  FROM inter JOIN sizes sa ON inter.a = sa.doc_id
        |             JOIN sizes sb ON inter.b = sb.doc_id
        |  WHERE i * 5 >= (sa.sz + sb.sz - i) * 1),
        |j AS (
        |  SELECT e.*, CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM ex e LEFT JOIN prs p ON p.a = e.a AND p.b = e.b)
        |SELECT tau, n_exact, n_covered,
        |       CAST(CASE WHEN n_exact = 0 THEN NULL
        |            ELSE n_covered * 1000000 // n_exact END AS BIGINT)
        |         AS recall_micro
        |FROM (
        |  SELECT '1/5' AS tau, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |         CAST(SUM(hit) AS BIGINT) AS n_covered
        |  FROM j
        |  UNION ALL
        |  SELECT '1/2', CAST(COUNT(*) AS BIGINT), CAST(SUM(hit) AS BIGINT)
        |  FROM j WHERE i * 2 >= (sza + szb - i))
        |ORDER BY tau""".stripMargin),

    Case("dedup_retained_best", (s, dir) =>
      Dedup.keepBestByComponents(T(s, dir, "documents"),
          lshComponents(s, dir), "n_chars")
        .select(col("doc_id")).orderBy(col("doc_id")),
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      lshLosersCte +
      """, comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS comp, d.n_chars
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |best AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
        |           ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM lab)
        |SELECT doc_id FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    Case("dedup_retained", (s, dir) =>
      Dedup.dropByComponents(T(s, dir, "documents"), lshComponents(s, dir))
        .select(col("doc_id")).orderBy(col("doc_id")),
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      lshLosersCte +
      """SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
        |ORDER BY doc_id""".stripMargin),

    // --- near-dup cluster size histogram (the dedup audit: how much of
    // the clustered mass sits in pairs vs boilerplate mega-clusters) ---
    Case("dedup_cluster_sizes", (s, dir) =>
      lshComponents(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size")),
      shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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
        |  WHERE x.doc_id < y.doc_id),
        |cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
        |reach(node, label) AS (
        |  SELECT x, x FROM cedges
        |  UNION
        |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y),
        |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
        |szs AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1)
        |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM szs GROUP BY 1 ORDER BY cluster_size""".stripMargin),

    // --- content-defined chunking: gear rolling hash with md5-derived
    // per-char weights; boundaries where the low 6 hash bits are zero.
    // A narrow codegen'd scan + posexplode — ZERO shuffle; chunk_md5 is
    // the insertion-stable delta-dedup key ---
    Case("cdc_chunks", (s, dir) =>
      TextOps.cdcChunks(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      // independent implementation: the engine rolls the gear hash in one
      // linear pass per row (custom expression); DuckDB rebuilds every
      // length-8 window by a positional self-join and aggregates
      // gv * 2^(offset). All terms are integers < 2^38 — engine-exact.
      """WITH lens AS (SELECT doc_id, text, length(text) AS n
        |              FROM documents WHERE length(text) > 0),
        |pos AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM lens),
        |ch AS (SELECT p.doc_id, p.i, substr(l.text, CAST(p.i AS INT), 1) AS c
        |       FROM pos p JOIN lens l USING (doc_id)),
        |g AS (SELECT c, CAST(concat('0x', substr(md5('g:' || c), 1, 15)) AS BIGINT)
        |               % 1073741824 AS gv
        |      FROM (SELECT DISTINCT c FROM ch)),
        |cg AS (SELECT ch.doc_id, ch.i, g.gv FROM ch JOIN g USING (c)),
        |h AS (SELECT a.doc_id, a.i,
        |             SUM(b.gv * CASE a.i - b.i WHEN 0 THEN 1 WHEN 1 THEN 2
        |                 WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16
        |                 WHEN 5 THEN 32 WHEN 6 THEN 64 WHEN 7 THEN 128 END) AS hv
        |      FROM cg a JOIN cg b
        |        ON a.doc_id = b.doc_id AND a.i - b.i BETWEEN 0 AND 7
        |      GROUP BY 1, 2 HAVING COUNT(*) = 8),
        |bnd AS (SELECT doc_id, i FROM h WHERE hv % 64 = 0
        |        UNION SELECT doc_id, n FROM lens),
        |ck AS (SELECT doc_id, i AS e,
        |              lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS pe
        |       FROM bnd)
        |SELECT ck.doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY ck.doc_id ORDER BY ck.e) AS INT)
        |    AS chunk_idx,
        |  CAST(ck.pe + 1 AS INT) AS start, CAST(ck.e - ck.pe AS INT) AS len,
        |  md5(substr(l.text, CAST(ck.pe + 1 AS INT), CAST(ck.e - ck.pe AS INT)))
        |    AS chunk_md5
        |FROM ck JOIN lens l USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    cdcDedupIncr,

    Case("cdc_dedup", (s, dir) => {
      val ch = TextOps.cdcChunks(T(s, dir, "documents"))
      val hashDocs = ch.groupBy(col("chunk_md5"))
        .agg(countDistinct(col("doc_id")).as("__graft_nd"))
      ch.join(hashDocs, Seq("chunk_md5"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__graft_nd") > 1, 1L).otherwise(0L)).as("n_shared"),
          sum(when(col("__graft_nd") > 1, col("len").cast("long"))
            .otherwise(0L)).as("shared_chars"))
        .orderBy(col("doc_id"))
    },
      cdcDedupSql),

    Case("decontaminate", (s, dir) => {
      val docs = T(s, dir, "documents")
      // stand-in eval suite: every 97th document
      Curation.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    },
      shinglesCte +
      """, bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |shared AS (SELECT doc_id, COUNT(*) AS c
        |           FROM dsh JOIN bsh USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(s.c, 0) AS BIGINT) AS n_shared_shingles,
        |       CAST(CASE WHEN COALESCE(s.c, 0) >= 2 THEN 1 ELSE 0 END AS INT)
        |         AS contaminated
        |FROM documents d LEFT JOIN shared s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // --- Bloom-filter decontamination: constant-memory benchmark set ---
    Case("decontaminate_bloom", (s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.bloomDecontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    },
      shinglesCte +
      """, bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        |bits AS (
        |  SELECT DISTINCT
        |    CAST(concat('0x', substr(md5(g.seed || ':' || shingle), 1, 15)) AS BIGINT) % 65536 AS p
        |  FROM bsh, generate_series(0, 2) g(seed)),
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |probe AS (
        |  SELECT doc_id, shingle,
        |    CAST(concat('0x', substr(md5(g.seed || ':' || shingle), 1, 15)) AS BIGINT) % 65536 AS p
        |  FROM dsh, generate_series(0, 2) g(seed)),
        |hitsh AS (
        |  SELECT doc_id, shingle FROM probe pr LEFT JOIN bits b ON pr.p = b.p
        |  GROUP BY 1, 2 HAVING COUNT(b.p) = 3),
        |hits AS (SELECT doc_id, COUNT(*) AS c FROM hitsh GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(h.c, 0) AS BIGINT) AS n_hits,
        |       CAST(CASE WHEN COALESCE(h.c, 0) >= 2 THEN 1 ELSE 0 END AS INT)
        |         AS flagged
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    Case("lsh_buckets", (s, dir) =>
      Similarity.lshBuckets(T(s, dir, "embeddings"), 8)
        .orderBy(col("vec_id")),
      """WITH planes AS (
        |  SELECT p.generate_series AS p, d.generate_series AS d,
        |         CAST(CAST('0x' || substring(md5(p.generate_series || ':' || d.generate_series), 1, 15) AS BIGINT)
        |              AS DOUBLE) / 576460752303423488 - 1.0 AS v
        |  FROM generate_series(0, 7) p, generate_series(0, 63) d),
        |dots AS (
        |  SELECT e.vec_id, pl.p, SUM(e.embedding[pl.d + 1] * pl.v) AS dotp
        |  FROM embeddings e, planes pl GROUP BY 1, 2)
        |SELECT vec_id,
        |       CAST(SUM(CASE WHEN dotp > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |FROM dots GROUP BY 1 ORDER BY vec_id""".stripMargin),

    // --- substring-level dedup audit (Lee et al. 2022, fixed-k spans) ---
    Case("dup_spans", (s, dir) =>
      Dedup.duplicatedSpans(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      shinglesCte +
      """, docfreq AS (
        |  SELECT shingle, COUNT(DISTINCT doc_id) AS ndocs FROM sh GROUP BY 1)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_spans,
        |       ROUND(CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 4) AS dup_ratio
        |FROM sh s JOIN docfreq d USING (shingle)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    // --- MAXIMAL duplicated regions (the Lee et al. removal unit):
    // overlapping duplicated 3-gram positions merged into maximal
    // token ranges via the per-doc gaps-and-islands scan — region
    // count, duplicated token mass, longest region per doc ---
    Case("dup_spans_maximal", (s, dir) =>
      Dedup.maximalDupSpans(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
        |        FROM t)),
        |dupsh AS (
        |  SELECT shingle FROM (
        |    SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
        |  WHERE nd >= 2),
        |d AS (SELECT s.doc_id, s.pos FROM sh s JOIN dupsh USING (shingle)),
        |m AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER w IS NULL
        |                OR pos > lag(pos) OVER w + 3 THEN 1 ELSE 0 END AS ni
        |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM m),
        |reg AS (
        |  SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + 2 AS en
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_regions,
        |       CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens,
        |       CAST(MAX(en - st + 1) AS BIGINT) AS max_region
        |FROM reg GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // --- exact-substring dedup REMOVAL: tokens covered by a maximal
    // duplicated region dropped, cleaned text rebuilt and md5-pinned ---
    Case("dup_spans_removed", (s, dir) =>
      Dedup.dupSpansRemoved(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      dupSpansRemovedSql("")),

    dupSpansRemovedIncr,

    // --- SemDeDup: k-means clusters -> within-cluster cosine components ---
    // --- SemDeDup, DEFAULT = the scale-safe AUTO policy: cluster count
    // grows with the corpus (k = ceil(n/64) — keeps the pair join's
    // sum-of-|c|^2 linear) and the quantizer fits on an md5-hash sample
    // (keeps Lloyd O(k^2*factor) instead of O(n*k)); one count job
    // decides both dials, and the oracle recomputes them from the data.
    // Measured at the 10x tiling: fixed k=8 was 15x sf0.1→sf1, auto-k
    // 3.2x — so k∝n is the default and fixed-k is the opt-in twin below ---
    Case("semdedup", (s, dir) => {
      val (k, cents) = embAutoCentroids(s, dir)
      Similarity.semDeDup(T(s, dir, "embeddings"), 0.3, k,
          centroids = Some(cents))
        .select(col("vec_id"), col("cluster"),
          col("is_dup").cast("int").as("is_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("vec_id"))
    },
      // default = auto-k (mirrors the Spark default); fixed-k is the twin
      kmeansCteAuto().replaceFirst("WITH ", "WITH RECURSIVE ") +
      semDedupTailSql),

    // --- the fixed-k opt-in twin (small corpora / pinned cluster
    // count); rides the shared session quantizer ---
    Case("semdedup_fixedk", (s, dir) =>
      Similarity.semDeDup(T(s, dir, "embeddings"), 0.3,
          centroids = Some(embCentroids(s, dir)))
        .select(col("vec_id"), col("cluster"),
          col("is_dup").cast("int").as("is_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("vec_id")),
      kmeansCte().replaceFirst("WITH ", "WITH RECURSIVE ") +
      semDedupTailSql),

    // --- day-2 SEMANTIC dedup: the %10==0 batch assigned under the
    // FROZEN session quantizer and cosine-verified against the
    // persisted assignment index of history (and itself) — every
    // near-dup pair touching a new vector, history x history never
    // re-scored; the embedding-cosine leg of the day-1/day-2 shape all
    // dedup families share ---
    Case("semdedup_incr", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      storedIndex(s, dir, "idx_semdedup_cluster")(
          graft.scale.IndexStore.buildClusterCosine(
            emb.filter(col("vec_id") % 10 =!= 0), embCentroids(s, dir),
            threshold = 0.3))
        .probe(emb.filter(col("vec_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    },
      // day-2 twin: cluster-restricted cosine pairs where at least one
      // side is in the new batch, under the same session quantizer
      kmeansCte() +
      """, prs AS (
        |  SELECT LEAST(x.vec_id, y.vec_id) AS a,
        |         GREATEST(x.vec_id, y.vec_id) AS b,
        |         ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
        |                                      CAST(ey.embedding AS DOUBLE[])), 4)
        |           AS sim
        |  FROM assign x JOIN assign y
        |    ON x.cluster = y.cluster AND x.vec_id != y.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id
        |  JOIN embeddings ey ON ey.vec_id = y.vec_id
        |  WHERE x.vec_id % 10 = 0)
        |SELECT DISTINCT a, b, sim FROM prs WHERE sim >= 0.3
        |ORDER BY a, b""".stripMargin),

    // --- true winnowing (MOSS) fingerprints: window minima ---
    Case("fingerprint_winnow", (s, dir) =>
      winnowFp(s, dir).orderBy(col("doc_id"), col("pos")),
      winnowCte +
      """SELECT DISTINCT doc_id, CAST(k % 1048576 AS BIGINT) AS pos,
        |       CAST(k // 1048576 AS BIGINT) AS fingerprint
        |FROM wmin WHERE pos <= GREATEST(nsh - 3, 1)
        |ORDER BY doc_id, pos""".stripMargin),

    // --- MOSS match stage: pairs sharing >= 2 winnow fingerprints ---
    Case("winnow_pairs", (s, dir) =>
      TextOps.winnowPairs(T(s, dir, "documents"), minShared = 2, maxFpDf = 100,
          fingerprints = Some(winnowFp(s, dir)))
        .orderBy(col("a"), col("b")),
      winnowCte +
      """, wfp AS (
        |  SELECT DISTINCT doc_id, CAST(k // 1048576 AS BIGINT) AS fingerprint
        |  FROM wmin WHERE pos <= GREATEST(nsh - 3, 1)),
        |wkept AS (
        |  SELECT doc_id, fingerprint FROM wfp
        |  WHERE fingerprint IN (
        |    SELECT fingerprint FROM wfp GROUP BY 1 HAVING COUNT(*) <= 100))
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM wkept x JOIN wkept y
        |  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b""".stripMargin),

    winnowPairsIncr,

    // --- C4-style duplicate-tile REMOVAL (keep one canonical copy of
    // every repeated 5-word tile; per-doc rewrite witness) ---
    Case("tile_dedup", (s, dir) =>
      Dedup.removeDuplicateTiles(T(s, dir, "documents"))
        .orderBy(col("doc_id")),
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |  FROM documents),
        |tl AS (
        |  SELECT doc_id, i AS idx,
        |         array_to_string(toks[(i*5+1):(i*5+5)], ' ') AS tile,
        |         LEAST(5, len(toks) - i*5) AS nw,
        |         doc_id * 1000000 + i AS okey
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(0,
        |            CAST((len(toks) + 4) // 5 AS INT) - 1)) AS i
        |        FROM t)),
        |st AS (
        |  SELECT md5(tile) AS tkey, COUNT(DISTINCT doc_id) AS nd,
        |         MIN(okey) AS canon
        |  FROM tl GROUP BY 1),
        |mk AS (
        |  SELECT tl.doc_id, tl.idx, tl.tile, tl.nw,
        |         (st.nd < 2 OR tl.okey = st.canon) AS keep
        |  FROM tl JOIN st ON md5(tl.tile) = st.tkey)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tiles,
        |       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_removed,
        |       CAST(SUM(CASE WHEN keep THEN nw ELSE 0 END) AS BIGINT)
        |         AS kept_words,
        |       md5(COALESCE(string_agg(tile, ' ' ORDER BY idx)
        |                      FILTER (WHERE keep), '')) AS kept_md5
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    minhashIncremental,

    // ================= day-3: INDEX MAINTENANCE =================
    // The `*_day3` rows close the loop the `*_incr` rows leave open:
    // day-1 state is built and saved, the day-2 batch is ABSORBED via
    // IndexStore.append (load v1 → append → save v2 → reload), and the
    // same batch the sibling row probes now probes the APPENDED store.
    // Each oracle is its sibling's SQL verbatim — the green row proves
    // probe-after-append == probe-after-full-rebuild of day-1 ∪ day-2.
    Case("minhash_day3", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_minhash_day3")(
          graft.scale.IndexStore.buildMinhashLsh(
            docs.filter(col("doc_id") < 350)))(
          docs.filter(col("doc_id") >= 350 && col("doc_id") < 400))
        .probe(docs.filter(col("doc_id") >= 400))
        .orderBy(col("a"), col("b"))
    },
      minhashIncremental.oracle),

    // --- frozen-order family: day-2 prefixes rank under the day-1 df
    // order (batch df extends it for unseen shingles) and the appended
    // dfTab carries exactly that extension, so day-3 shares a total
    // order with every indexed doc — the losslessness precondition ---
    Case("jaccard_prefix_day3", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_jp_day3")({
          val (dfT, dI) = Dedup.jaccardPrefixIndex(
            docs.filter(col("doc_id") % 10 >= 2), 3, 1, 5)
          graft.scale.IndexStore.JaccardPrefixIndex(dfT, dI, 3, 1, 5,
            "text", "doc_id")
        })(docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    },
      jaccardPrefixIncr.oracle),

    // --- per-doc fingerprints: append = union; the maxFpDf cap stays
    // probe-time over the GROWN combined counts ---
    Case("winnow_pairs_day3", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_winnow_day3")(
          graft.scale.IndexStore.WinnowIndex(
            winnowFp(s, dir).filter(col("doc_id") % 10 >= 2)
              .select(col("doc_id"), col("fingerprint")).distinct(),
            minShared = 2, k = 3, w = 4, maxFpDf = 100, "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    },
      winnowPairsIncr.oracle),

    // --- chunk-hash SET: append = union + distinct ---
    Case("cdc_dedup_day3", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_cdc_day3")(
          graft.scale.IndexStore.CdcIndex(
            TextOps.cdcIndex(docs.filter(col("doc_id") % 10 >= 2)), 8, 6,
            "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    },
      cdcDedupIncr.oracle),

    // --- shingle SET: append = union + distinct ---
    Case("dup_spans_removed_day3", (s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_shingle_day3")(
          graft.scale.IndexStore.ShingleIndex(
            Dedup.shingleIndex(docs.filter(col("doc_id") % 10 >= 2)), 3,
            "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    },
      dupSpansRemovedIncr.oracle),

    // --- which sources carry the duplication: per-source near-dup
    // cluster membership and loser share (micro-unit integer rate) ---
    Case("dedup_rate_by_source", (s, dir) =>
      T(s, dir, "documents")
        .join(lshComponents(s, dir)
          .select(col("node").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("component").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          sum(when(col("component").isNotNull &&
              col("component") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_losers"))
        .withColumn("dup_rate_micro", expr("n_losers * 1000000 div n_docs"))
        .orderBy(col("source")),
      splitAssignCte +
      """SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_clustered,
        |       CAST(SUM(CASE WHEN c.node IS NOT NULL AND
        |                          c.component != d.doc_id
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_losers,
        |       CAST(SUM(CASE WHEN c.node IS NOT NULL AND
        |                          c.component != d.doc_id
        |                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
        |         AS BIGINT) AS dup_rate_micro
        |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  /** Shared oracle tail: within-cluster cosine near-dup pairs →
    * recursive components → (vec_id, cluster, is_dup, retained);
    * appended after a kmeans CTE chain ending in `assign`. */
  private def semDedupTailSql: String =
    """, prs AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM assign x JOIN assign y
      |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      |  JOIN embeddings ex ON ex.vec_id = x.vec_id
      |  JOIN embeddings ey ON ey.vec_id = y.vec_id
      |  WHERE ROUND(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]),
      |                                     CAST(ey.embedding AS DOUBLE[])), 4)
      |        >= 0.3),
      |cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
      |reach(node, label) AS (
      |  SELECT x, x FROM cedges
      |  UNION
      |  SELECT ce.x, r.label FROM cedges ce JOIN reach r ON r.node = ce.y),
      |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY 1)
      |SELECT a.vec_id, a.cluster,
      |       CAST(CASE WHEN c.component IS NOT NULL AND c.component != a.vec_id
      |            THEN 1 ELSE 0 END AS INT) AS is_dup,
      |       CAST(CASE WHEN c.component IS NOT NULL AND c.component != a.vec_id
      |            THEN 0 ELSE 1 END AS INT) AS retained
      |FROM assign a LEFT JOIN comp c ON c.node = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** Full-corpus CDC dedup oracle (chunks, per-hash distinct-doc
    * counts, per-doc share stats) — shared by cdc_dedup and the
    * day-2 cdc_dedup_incr (full SQL + batch filter). */
  private def cdcDedupSql: String =
    """WITH lens AS (SELECT doc_id, text, length(text) AS n
        |              FROM documents WHERE length(text) > 0),
        |pos AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM lens),
        |ch AS (SELECT p.doc_id, p.i, substr(l.text, CAST(p.i AS INT), 1) AS c
        |       FROM pos p JOIN lens l USING (doc_id)),
        |g AS (SELECT c, CAST(concat('0x', substr(md5('g:' || c), 1, 15)) AS BIGINT)
        |               % 1073741824 AS gv
        |      FROM (SELECT DISTINCT c FROM ch)),
        |cg AS (SELECT ch.doc_id, ch.i, g.gv FROM ch JOIN g USING (c)),
        |h AS (SELECT a.doc_id, a.i,
        |             SUM(b.gv * CASE a.i - b.i WHEN 0 THEN 1 WHEN 1 THEN 2
        |                 WHEN 2 THEN 4 WHEN 3 THEN 8 WHEN 4 THEN 16
        |                 WHEN 5 THEN 32 WHEN 6 THEN 64 WHEN 7 THEN 128 END) AS hv
        |      FROM cg a JOIN cg b
        |        ON a.doc_id = b.doc_id AND a.i - b.i BETWEEN 0 AND 7
        |      GROUP BY 1, 2 HAVING COUNT(*) = 8),
        |bnd AS (SELECT doc_id, i FROM h WHERE hv % 64 = 0
        |        UNION SELECT doc_id, n FROM lens),
        |ck AS (SELECT doc_id, i AS e,
        |              lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS pe
        |       FROM bnd),
        |chunks AS (
        |  SELECT ck.doc_id, ck.e - ck.pe AS len,
        |         md5(substr(l.text, CAST(ck.pe + 1 AS INT),
        |                    CAST(ck.e - ck.pe AS INT))) AS chunk_md5
        |  FROM ck JOIN lens l USING (doc_id)),
        |hd AS (SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd
        |       FROM chunks GROUP BY 1)
        |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |       CAST(SUM(CASE WHEN hd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(SUM(CASE WHEN hd.nd > 1 THEN c.len ELSE 0 END) AS BIGINT)
        |         AS shared_chars
        |FROM chunks c JOIN hd USING (chunk_md5)
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle pipeline for exact-substring REMOVAL (mirrors
    * [[graft.scale.Dedup.dupSpansRemoved]]): duplicated 3-gram start
    * positions → maximal regions → covered tokens cut → cleaned text
    * md5. `finalFilter` restricts the OUTPUT rows (e.g. to the day-2
    * batch — the incremental clean equals the full rerun restricted to
    * the batch). */
  private def dupSpansRemovedSql(finalFilter: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+2], ' ') AS shingle
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
       |        FROM t)),
       |dupsh AS (
       |  SELECT shingle FROM (
       |    SELECT shingle, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY 1)
       |  WHERE nd >= 2),
       |d AS (SELECT s.doc_id, s.pos FROM sh s JOIN dupsh USING (shingle)),
       |m AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN lag(pos) OVER w IS NULL
       |                OR pos > lag(pos) OVER w + 3 THEN 1 ELSE 0 END AS ni
       |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (
       |  SELECT doc_id, pos,
       |         SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM m),
       |reg AS (
       |  SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + 2 AS en
       |  FROM isl GROUP BY 1, 2),
       |tok AS (
       |  SELECT doc_id, i AS pos, toks[i] AS tok
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       |        FROM t)),
       |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
       |        FROM tok GROUP BY 1),
       |kept AS (
       |  SELECT k.doc_id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM reg r
       |                    WHERE r.doc_id = k.doc_id
       |                      AND k.pos BETWEEN r.st AND r.en)),
       |reb AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |         md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_hash
       |  FROM kept GROUP BY 1)
       |SELECT t1.doc_id, t1.n_tokens,
       |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(t1.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       |       r.clean_hash
       |FROM tot t1 LEFT JOIN reb r USING (doc_id)
       |${finalFilter}ORDER BY doc_id""".stripMargin

  /** Oracle CTE replicating [[graft.scale.TextOps.winnowFingerprint]]:
    * positioned trigram shingles → packed (40-bit hash ≪ 20 | pos) keys →
    * per-doc windowed MIN (`wmin`, window starts filtered downstream). */
  private def winnowCte: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, i AS pos, GREATEST(len(toks) - 2, 1) AS nsh,
      |         array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
      |        FROM t)),
      |keyed AS (
      |  SELECT doc_id, pos, nsh,
      |         CAST(concat('0x', substr(md5('0:' || shingle), 1, 10)) AS BIGINT)
      |           * 1048576 + pos AS key
      |  FROM sh),
      |wmin AS (
      |  SELECT doc_id, pos, nsh,
      |         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
      |  FROM keyed)
      |""".stripMargin
}
