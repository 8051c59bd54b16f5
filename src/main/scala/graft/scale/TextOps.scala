package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification, and document
  * fingerprinting. All pure columnar expressions (whole-stage codegen) —
  * no UDFs — so they scan-and-fold at full Tungsten speed over 100 TB.
  */
object TextOps {

  /** Deterministic 60-bit hash from md5 — stable across engines (the same
    * value is computable in any SQL dialect as the first 15 hex digits of
    * md5). Used by all fingerprint/minhash ops so oracles can replicate. */
  def md5Hash60(c: Column, seed: Column): Column =
    conv(substring(md5(concat(seed, lit(":"), c)), 1, 15), 16, 10).cast("long")
  def md5Hash60(c: Column, seed: Int): Column = md5Hash60(c, lit(seed.toString))

  /** Whitespace tokens (single-space split for the canonical corpus;
    * `\s+` regex for general text). */
  def tokens(text: Column): Column = split(trim(text), " +")

  /** BPE-ish subword proxy: word pieces + punctuation as separate tokens. */
  def bpeishTokens(text: Column): Column =
    filter(split(text, """(?=[^\p{L}\p{N}])|(?<=[^\p{L}\p{N}])"""), t => trim(t) =!= "")

  /** Vocabulary growth curve (Heaps'-law view of the corpus): per bucket
    * of `bucketSize` documents (in doc-id order), how many NEW k-shingle
    * terms appear for the first time, and the cumulative vocabulary size.
    * The curve's flattening rate is the standard "is more data still
    * adding vocabulary?" signal when sizing a training corpus.
    *
    * Scale shape: first-occurrence is a map-side-combined MIN per term
    * (the only full-data shuffle); the running total then runs over the
    * already-aggregated bucket table — O(corpus / bucketSize) rows, so
    * the single-task window is a deliberate collapse of a tiny table,
    * not a scale hazard (1e9 docs / 1e4-doc buckets = 1e5 rows). */
  def vocabGrowth(docs: DataFrame, bucketSize: Long = 50, k: Int = 3)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = Shingles.wordShingles(docs, k).groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    val buckets = first
      .groupBy(expr(s"first_doc div $bucketSize").as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    buckets.withColumn("cum_terms",
      sum(col("new_terms")).over(Window.orderBy(col("bucket"))))
  }

  /** Pairwise source-to-source unigram cross-entropy — the domain
    * similarity matrix behind mixture design ("which sources are
    * near-duplicates of each other's distribution, which add novelty"):
    * H(A,B) = −(1/n_A) Σ_t c_A(t) · ln p_B(t), with add-1 smoothing
    * p_B(t) = (c_B(t)+1)/(n_B+V) over the union vocabulary V.
    *
    * Algebraic shape chosen for scale AND determinism:
    * H(A,B) = ln(n_B+V) − (1/n_A) Σ_{t∈A∩B} c_A(t)·ln(c_B(t)+1) —
    * the smoothing constant factors out, so only the A∩B token join is
    * computed (absent tokens contribute ln 1 = 0): one count table,
    * self-joined per token, aggregated per source pair. Token-level
    * fan-out is ≤ #sources per side — domains number in the hundreds,
    * not millions, so the join stays bounded at corpus scale. The inner
    * sum uses micro-unit INTEGER log weights (round(ln·10⁶)): integer
    * sums are order-free, so the result is bit-identical on any engine
    * instead of drifting with float summation order. */
  def sourceCrossEntropy(docs: DataFrame, groupCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    // materialized once: the vocab count, both xent join sides, and both
    // totals branches read this — without it the full-corpus tokenize +
    // count aggregation re-runs ~5× for one query
    val counts = graft.util.ScanParallelism.fanOut(docs.select(col(groupCol), col(textCol)))
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
    val vocab = counts.select(col("tok")).distinct().count()
    val xent = counts.select(col("g").as("src_a"), col("tok"), col("c").as("ca"))
      .join(counts.select(col("g").as("src_b"), col("tok"), col("c").as("cb")),
        Seq("tok"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("ca") *
        round(log(col("cb") + 1) * 1000000).cast("long")).as("xs"))
    totals.select(col("g").as("src_a"), col("n").as("na"))
      .crossJoin(totals.select(col("g").as("src_b"), col("n").as("nb")))
      .join(xent, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        round(log(col("nb") + lit(vocab.toDouble)) -
          coalesce(col("xs"), lit(0L)) / 1e6 / col("na"), 4).as("cross_ent"))
  }

  /** Per-source Zipf's-law fit — the vocabulary power-law audit (a source
    * whose rank-frequency slope deviates far from −1 is boilerplate,
    * templated spam, or machine noise rather than natural language).
    * Ranks each source's unigrams by frequency and emits the EXACT
    * integer sufficient statistics of the log-log regression: n and
    * Σx, Σy, Σxy, Σx², Σy² with x = round(ln(rank)·10³),
    * y = round(ln(count)·10³) in milli-log units — slope and R² are
    * presentation arithmetic; integer sums are order-free and therefore
    * bit-identical across engines (the [[sourceCrossEntropy]] idiom;
    * milli not micro so Σx·y stays well inside Long at 10⁷-term vocabularies).
    *
    * Scale shape: one tokenize scan collapsed by map-side partial
    * aggregation to (source, token, count); the rank is a window
    * partitioned BY SOURCE — right when each source's vocabulary fits a
    * partition (vocabularies grow sublinearly, Heaps' law); a corpus
    * whose single-source vocab outgrows that would swap the window for
    * [[graft.ingest.Ingest.assignDenseIds]] per source. */
  def zipfFit(docs: DataFrame, groupCol: String = "source",
              textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.util.ScanParallelism.fanOut(docs.select(col(groupCol), col(textCol)))
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    val xy = counts
      .withColumn("r", row_number().over(Window.partitionBy(col("g"))
        .orderBy(col("c").desc, col("tok"))))
      .select(col("g"),
        round(log(col("r")) * 1000).cast("long").as("x"),
        round(log(col("c")) * 1000).cast("long").as("y"))
    xy.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
      sum(col("x") * col("y")).as("sum_xy"),
      sum(col("x") * col("x")).as("sum_x2"),
      sum(col("y") * col("y")).as("sum_y2"))
  }

  /** Per-document character-distribution entropy — the classic gibberish
    * / mojibake / base64-blob detector (low entropy = repeated filler,
    * high entropy = random bytes; natural language sits in a narrow
    * band). Emits the EXACT integer sufficient statistics instead of the
    * float entropy: n_chars, distinct_chars, and
    * `ent_ulog = Σ_c cnt_c · round(ln(cnt_c)·10⁶)` over per-character
    * counts, from which H = ln(n) − ent_ulog/(n·10⁶) is presentation
    * arithmetic. Integer sums are order-free, so the result is
    * bit-identical across engines and partitionings ([[sourceCrossEntropy]]'s
    * micro-unit-log idiom).
    *
    * Scale shape: one scan exploding each document into characters,
    * collapsed immediately by map-side partial aggregation on
    * (doc, char) — the alphabet bounds the per-doc state — then one
    * per-doc rollup. No joins, no windows. */
  def charEntropy(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), "")).as("c"))
      .filter(length(col("c")) > 0)
      .groupBy(col(idCol), col("c")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_chars"),
        count(lit(1)).as("distinct_chars"),
        sum(col("cnt") * round(log(col("cnt")) * 1000000).cast("long"))
          .as("ent_ulog"))

  /** Per-document stats: token count, char count, average token length,
    * alpha ratio, space ratio. */
  def textStats(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      length(t).cast("long").as("n_chars"),
      round(length(t).cast("double") / size(toks), 4).as("avg_token_len"),
      round(length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") /
        greatest(length(t), lit(1)), 4).as("alpha_ratio"),
      round((size(toks) - 1).cast("double") / greatest(length(t), lit(1)), 4)
        .as("space_ratio"))
  }

  /** Heuristic quality score in [0,1] as a column expression: blend of
    * length sanity, alpha ratio and mean token length sanity — the
    * standard cheap pre-filter shape for corpus curation. Pure columnar,
    * so it drops into batch selects and streaming filters alike. */
  def quality(t: Column): Column = {
    val toks = size(tokens(t))
    val alphaRatio = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(t), lit(1))
    val lenScore = least(toks.cast("double") / 20.0, lit(1.0))
    val avgTok = length(t).cast("double") / greatest(toks, lit(1))
    val tokScore = when(avgTok.between(3.0, 12.0), 1.0).otherwise(0.5)
    round(lenScore * 0.4 + alphaRatio * 0.4 + tokScore * 0.2, 4)
  }

  def qualityScore(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), quality(col(textCol)).as("quality"))

  /** Content-defined chunks per document (see [[graft.functions.Cdc]]):
    * boundaries from a gear rolling hash, so chunk identity (chunk_md5)
    * survives insertions/deletions — the delta-dedup primitive. The
    * whole operator is a narrow, codegen'd projection + posexplode: NO
    * shuffle, parallelism = input splits, which is exactly the 100 TB
    * shape (chunk hashes then feed a hash-groupBy dedup like
    * [[graft.scale.Dedup.exact]]). */
  def cdcChunks(docs: DataFrame, w: Int = 8, maskBits: Int = 6,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), col(textCol),
        posexplode(graft.functions.Cdc.bounds(col(textCol), w, maskBits))
          .as(Seq("__graft_ci", "__graft_b")))
      .select(col(idCol), (col("__graft_ci") + 1).as("chunk_idx"),
        col("__graft_b.start").as("start"), col("__graft_b.len").as("len"),
        md5(col(textCol).substr(col("__graft_b.start"), col("__graft_b.len")))
          .as("chunk_md5"))

  /** Day-1 index for [[cdcDedupIncremental]]: the corpus's DISTINCT
    * chunk-hash set — the backup/storage-dedup "chunk store". The SET
    * suffices (no counts): a new-batch chunk is cross-doc shared in the
    * full-rerun sense iff its hash already exists in history (history
    * occurrence + the new doc ⇒ ≥ 2 distinct docs) or ≥ 2 distinct new
    * docs produce it. */
  def cdcIndex(docs: DataFrame, w: Int = 8, maskBits: Int = 6,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    cdcChunks(docs, w, maskBits, textCol, idCol)
      .select(col("chunk_md5")).distinct()

  /** Day-2 CDC dedup: the new batch's per-doc chunk-share stats against
    * a persisted [[cdcIndex]] — the incremental backup shape (only new
    * data is chunked; the chunk store answers "seen before?"). For the
    * new docs the result EQUALS the full rerun over history ∪ batch
    * restricted to the batch, which is what the driver oracle checks.
    * Scale shape: chunking stays a scan-local projection; the store
    * probe is one leftsemi join on the hash + one batch-local distinct
    * count; per-doc stats are one keyed aggregation. */
  def cdcDedupIncremental(newDocs: DataFrame, index: DataFrame,
                          w: Int = 8, maskBits: Int = 6,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val ch = cdcChunks(newDocs, w, maskBits, textCol, idCol)
      .localCheckpoint() // three consumers below
    val inHist = ch.select(col("chunk_md5")).distinct()
      .join(index, Seq("chunk_md5"), "leftsemi")
    val dupNew = ch.select(col(idCol), col("chunk_md5")).distinct()
      .groupBy(col("chunk_md5")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("chunk_md5"))
    val shared = inHist.unionByName(dupNew).distinct()
      .withColumn("__s", lit(1))
    ch.join(shared, Seq("chunk_md5"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("__s") === 1, col("len").cast("long")).otherwise(0L))
          .as("shared_chars"))
  }

  /** Per-document top-n TF-IDF terms — keyword extraction, the classic
    * relevance heuristic (Spärck Jones 1972). idf is carried as an
    * INTEGER micro-unit weight (round(ln(N/df)·10⁶)) so scores and the
    * per-doc ranking are engine-exact; rank ties break on the term.
    *
    * Scale shape: one scan → per-(doc, term) counts (map-side combine);
    * df rides a window over the term key (rows are unique per (doc,
    * term) there, so a plain COUNT is the containing-doc count — same
    * trick as [[graft.scale.Dedup.duplicatedSpans]]); one per-doc
    * ranking window. No join against a separate df table, no
    * driver-side vocabulary. */
  def tfidfTopTerms(docs: DataFrame, topN: Int = 3, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // N stays inside the lazy plan (broadcast one-row aggregate) — a
    // driver-side docs.count() here would be a second full corpus scan
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
    val tf = graft.util.ScanParallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(nDocs))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("idf_micro",
        round(log(col("__n_docs") / col("df")) * 1e6).cast("long"))
      .withColumn("score", col("tf") * col("idf_micro"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topN)
      .select(col(idCol), col("rn"), col("term"), col("score"))
  }

  /** Character-n-gram language ID: score each candidate language by overlap
    * between the document's character trigrams and a per-language profile
    * learned from a labeled sample (`profiles`: lang → top trigrams).
    * The profile table is tiny → broadcast join; scoring is one
    * explode + aggregation. */
  def languageId(docs: DataFrame, profiles: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = graft.util.ScanParallelism
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(charTrigrams(col(textCol))).as("gram"))
    val scored = grams.join(broadcast(profiles), Seq("gram"))
      .groupBy(col(idCol), col("lang")).agg(sum("weight").as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("lang"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("lang").as("predicted_lang"), col("score"))
  }

  /** Learn a trigram profile (top-n weighted trigrams per language) from a
    * labeled corpus — the training half of [[languageId]]. */
  def learnLanguageProfiles(labeled: DataFrame, topN: Int = 200,
                            textCol: String = "text",
                            langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.util.ScanParallelism
      .fanOut(labeled.select(col(langCol), col(textCol)))
      .select(col(langCol).as("lang"), explode(charTrigrams(col(textCol))).as("gram"))
      .groupBy("lang", "gram").count()
    val w = Window.partitionBy("lang").orderBy(col("count").desc, col("gram"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") <= topN)
      .select(col("gram"), col("lang"),
        (col("count").cast("double") / topN).as("weight"))
  }

  /** Multinomial Naive Bayes text classifier — the count-based member of
    * the model-based-filter family (CCNet / fineweb-edu style pipelines
    * gate documents with a cheap learned classifier; NB trains in two
    * scans with no gradient loop, exactly the Spark shape). Training
    * yields two vocabulary-sized tables; scoring is one keyed join plus
    * a per-document aggregation. Nothing is collected to the driver.
    *
    * ENGINE-EXACT argmax: with add-one smoothing,
    * log P(w|c) = ln((c_wc+1)/(tot_c+V)) = ln(1/(tot_c+V)) + ln(c_wc+1),
    * so the document score decomposes as
    *   score(d,c) = prior_c + T_d·lp0_c + Σ_{w∈d∩vocab_c} n_dw·Δ_wc
    * with Δ_wc = ln(c_wc+1) — the model table stays SPARSE (one row per
    * OBSERVED class-token pair, never the dense |V|×|C| grid), unseen
    * tokens cost nothing extra (they ride the T_d·lp0_c term), and every
    * log term is quantized to integer micro-units at the term level (the
    * repo's cross-engine convention), making the argmax an integer
    * compare with class-id tie-break — bit-identical in any engine that
    * replicates the decomposition (the oracle does). */
  def naiveBayesModel(labeled: DataFrame, labelCol: String = "lang",
                      textCol: String = "text"): (DataFrame, DataFrame) = {
    val tokCnt = graft.util.ScanParallelism.fanOut(labeled.select(col(labelCol), col(textCol)))
      .select(col(labelCol).as("cls"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("c"))
    val vocab = tokCnt.agg(count_distinct(col("tok")).as("v"))
    val nd = labeled.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("ndc"))
    val ntot = nd.agg(sum(col("ndc")).as("n"))
    val classStats = nd
      .join(tokCnt.groupBy("cls").agg(sum(col("c")).as("tot")), Seq("cls"))
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(ntot))
      .select(col("cls"),
        round(log(col("ndc").cast("double") / col("n")) * 1e6)
          .cast("long").as("prior_m"),
        round(log(lit(1.0) / (col("tot") + col("v"))) * 1e6)
          .cast("long").as("lp0_m"))
    val tokDelta = tokCnt.select(col("cls"), col("tok"),
      round(log((col("c") + 1).cast("double")) * 1e6).cast("long").as("dm"))
    (tokDelta, classStats)
  }

  /** Score + argmax against a prebuilt [[naiveBayesModel]] (train once,
    * score many — the memoized-model convention). Returns one row per
    * document: (id, pred, score_m, margin_m) where margin_m is the
    * integer-micro gap to the runner-up class (0 when |C| = 1) — the
    * standard confidence signal a keep/drop gate thresholds on. */
  def naiveBayesClassify(docs: DataFrame, tokDelta: DataFrame,
                         classStats: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val docToks = graft.util.ScanParallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
    val docTot = docToks.groupBy(col(idCol)).agg(sum(col("cnt")).as("t"))
    val matched = docToks.join(tokDelta, Seq("tok"))
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("cnt") * col("dm")).as("ms"))
    val scored = docTot.crossJoin(broadcast(classStats))
      .join(matched, Seq(idCol, "cls"), "left")
      .select(col(idCol), col("cls"),
        (col("prior_m") + col("t") * col("lp0_m") +
          coalesce(col("ms"), lit(0L))).as("score_m"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_m").desc, col("cls"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col(idCol))
      .agg(max(when(col("rn") === 1, col("cls"))).as("pred"),
        max(when(col("rn") === 1, col("score_m"))).as("score_m"),
        coalesce(max(when(col("rn") === 1, col("score_m"))) -
          max(when(col("rn") === 2, col("score_m"))), lit(0L)).as("margin_m"))
  }

  def naiveBayes(docs: DataFrame, labeled: DataFrame,
                 labelCol: String = "lang", textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val (tokDelta, classStats) = naiveBayesModel(labeled, labelCol, textCol)
    naiveBayesClassify(docs, tokDelta, classStats, textCol, idCol)
  }

  /** All character trigrams of a string (positions 1..len-2). */
  def charTrigrams(text: Column): Column =
    transform(sequence(lit(1), greatest(length(text) - 2, lit(1))),
      i => text.substr(i, lit(3)))

  /** Canonical text normalization for dedup robustness — lowercase,
    * strip non-alphanumerics to spaces, collapse whitespace runs — the
    * standard preprocessing before shingling/minhash so that case and
    * punctuation variants of the same content collide (Lee et al. 2022
    * normalize similarly before exact substring dedup). Pure columnar
    * expression (codegen'd, no shuffle); ASCII-level by design — full
    * Unicode NFC is locale/ICU-dependent and NOT engine-stable, so it
    * stays out of the oracle-checked path. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** Gopher-style repetition statistics per document: unique-token ratio,
    * most-frequent-token fraction, duplicate-bigram fraction. High
    * repetition is the classic boilerplate/spam signal in corpus curation
    * (Rae et al. 2021, "Scaling Language Models" §A1.1 repetition filters).
    *
    * Explode + two-level aggregation: the shuffle carries one row per
    * (doc, distinct token) after map-side partial aggregation — never the
    * raw token stream — so the pattern holds at corpus scale. */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val tokAgg = toks.select(col(idCol), explode(col("toks")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_unique"),
        max(col("c")).as("top_c"))
    val nBg = greatest(size(col("toks")) - 1, lit(0))
    val bgAgg = toks.select(col(idCol),
        explode(zip_with(
          slice(col("toks"), lit(1), nBg), slice(col("toks"), lit(2), nBg),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bg"), countDistinct(col("bg")).as("n_bg_unique"))
    tokAgg.join(bgAgg, Seq(idCol), "left")
      .select(col(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_unique").cast("double") / col("n_tokens"), 4)
          .as("unique_token_ratio"),
        round(col("top_c").cast("double") / col("n_tokens"), 4)
          .as("top_token_fraction"),
        coalesce(round(lit(1.0) -
          col("n_bg_unique").cast("double") / col("n_bg"), 4), lit(0.0))
          .as("dup_bigram_fraction"))
  }

  /** Unigram language-model score — the cheap proxy for the perplexity
    * filter in CCNet-style curation (Wenzek et al. 2019): mean negative
    * log-probability of the document's tokens under an add-one-smoothed
    * unigram model fit on `train`. Low mean-NLL ≈ in-distribution text.
    *
    * The model is one (token, count) table: vocabulary-sized, so the
    * score join is a standard shuffled equi-join on token (broadcast it
    * if the vocabulary fits); unseen tokens get the smoothing floor
    * 1/(N+V) via the left join's null. Two aggregations + one join —
    * nothing driver-side, scales with corpus size. */
  def unigramLogProb(docs: DataFrame, train: DataFrame,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val freq = graft.util.ScanParallelism.fanOut(train.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = freq.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val toks = graft.util.ScanParallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    toks.join(freq, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        (-log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n") + col("v")).cast("double"))).as("nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(col("nll")), 4).as("mean_nll"))
  }

  /** CCNet head/middle/tail bucketing (Wenzek et al. 2019): per
    * language, split the corpus into perplexity terciles under the
    * unigram LM — "head" is the most-fluent third, the slice CCNet
    * ships to pretraining first. Scores are integer micro-unit NLLs
    * (per-token round(−ln p · 10⁶), integer per-doc mean — order-free,
    * engine-exact); tercile BOUNDARIES come from the exact keyed
    * histogram-refinement quantiles ([[Sketches.histQuantilesByKey]]
    * at 333/667 per-mille, rank r = ⌈pm·n/1000⌉), so no per-language
    * global sort ever runs — the boundary table is |languages|-sized
    * and broadcast back for the bucket assignment.
    *
    * Returns (langCol, bucket, n_docs, sum_tokens). */
  def ccnetBuckets(docs: DataFrame, train: DataFrame,
                   langCol: String = "lang", textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val freq = graft.util.ScanParallelism.fanOut(train.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = freq.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val scored = graft.util.ScanParallelism.fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(freq, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(-log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n") + col("v")).cast("double")) * 1e6).cast("long").as("nm"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("nm")).as("sum_nll"))
      .withColumn("mean_nll_micro", expr("sum_nll div n_tokens"))
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      // materialized once: both the quantile-bounds branch and the final
      // bucket join read the scored table — without it the token join
      // pipeline runs twice (r11)
      .localCheckpoint(false)
    val bounds = Sketches
      .histQuantilesByKey(scored, langCol, "mean_nll_micro",
        bins = 64, perMille = Seq(333, 667))
      .groupBy(col(langCol))
      .agg(max(when(col("per_mille") === 333, col("exact"))).as("__b1"),
        max(when(col("per_mille") === 667, col("exact"))).as("__b2"))
    scored.join(broadcast(bounds), Seq(langCol))
      .withColumn("bucket",
        when(col("mean_nll_micro") <= col("__b1"), "head")
          .when(col("mean_nll_micro") <= col("__b2"), "middle")
          .otherwise("tail"))
      .groupBy(col(langCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Bigram language-model score — one order up from [[unigramLogProb]],
    * the closer proxy for CCNet's 5-gram KenLM perplexity filter: mean
    * negative log of the add-one-smoothed CONDITIONAL probability
    * P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) over the document's bigrams,
    * trained on `train`. Catches locally-scrambled text that unigram
    * frequencies score as fluent (the exact failure mode shuffled/
    * boilerplate-stitched documents exhibit). Documents with fewer than
    * two tokens have no bigrams and are absent.
    *
    * Model = one (w₁,w₂,count) table + one (w₁,count) table; scoring is
    * two keyed left joins + a per-doc aggregation — vocabulary-sized
    * state, nothing driver-side. */
  private[graft] def bigramRows(df: DataFrame, id: Option[String],
                         textCol: String): DataFrame = {
    // tokens materialized as their own projection BEFORE the bigram
    // lambda: higher-order functions evaluate interpreted, so an
    // unmaterialized split() re-tokenizes the document inside every
    // element_at — O(tokens²) per doc (the StreamingLsh.hashedShingles
    // lesson; this was half the bigram-LM query's cost)
    val withToks = graft.util.ScanParallelism
      .fanOut(df.select(id.map(col).toSeq :+ col(textCol): _*))
      .withColumn("_toks", tokens(col(textCol)))
      .filter(size(col("_toks")) >= 2)
    withToks.select(id.map(col).toSeq :+ explode(transform(
        sequence(lit(1), size(col("_toks")) - 1),
        i => struct(element_at(col("_toks"), i).as("w1"),
          element_at(col("_toks"), i + 1).as("w2")))).as("bg"): _*)
      .select(id.map(col).toSeq :+ col("bg.w1") :+ col("bg.w2"): _*)
  }

  /** Hashed bigram rows (id?, h1, bh): per-token 60-bit md5 hashes are
    * materialized ONCE as an array column, and the bigram join key is
    * the overflow-safe integer mix `bh = h1 XOR rot30(h2)` (rot30(x) =
    * x div 2³⁰ + (x mod 2³⁰)·2³⁰ — every term < 2⁶¹, safe in engines
    * whose BIGINT errors on overflow) — ONE md5 per token instead of a
    * fresh md5 over each concatenated bigram string, and the explode
    * emits pure integers. Replicable in any SQL dialect, so a collision
    * is shared and results stay bit-comparable. */
  private[graft] def hashedBigramRows(df: DataFrame, id: Option[String],
                                      textCol: String): DataFrame = {
    val withHt = graft.util.ScanParallelism
      .fanOut(df.select(id.map(col).toSeq :+ col(textCol): _*))
      .withColumn("_toks", tokens(col(textCol)))
      .filter(size(col("_toks")) >= 2)
      .withColumn("_ht", transform(col("_toks"), t => md5Hash60(t, 0)))
    withHt.select(id.map(col).toSeq :+ explode(transform(
        sequence(lit(1), size(col("_ht")) - 1),
        i => struct(element_at(col("_ht"), i).as("h1"),
          element_at(col("_ht"), i + 1).as("h2")))).as("bg"): _*)
      .select(id.map(col).toSeq :+ col("bg.h1").as("h1") :+
        col("bg.h1").bitwiseXOR(expr(
          "bg.h2 div 1073741824 + (bg.h2 % 1073741824) * 1073741824"))
          .as("bh"): _*)
  }

  /** The same bh mix over a word-keyed (w1, w2) pair — for hashing the
    * vocabulary-sized model tables to the [[hashedBigramRows]] key. */
  private[graft] def bigramHash(w1: Column, w2: Column): Column = {
    val h2 = md5Hash60(w2, 0)
    // shiftright/shiftleft == div/mod·2³⁰ for these non-negative 60-bit
    // values — identical to the oracle's // and % formulation
    md5Hash60(w1, 0).bitwiseXOR(
      shiftright(h2, 30) + shiftleft(h2.bitwiseAND(lit(1073741823L)), 30))
  }

  /** The bigram model's two count tables — (w₁, c1) unigram contexts and
    * (w₁, w₂, cb) bigrams. Train ONCE, score many (the
    * k-means/PQ-model-cache convention): both tables are
    * vocabulary-sized and persist well. */
  def bigramModel(train: DataFrame,
                  textCol: String = "text"): (DataFrame, DataFrame) = {
    val uni = graft.util.ScanParallelism.fanOut(train.select(col(textCol)))
      .select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bi = bigramRows(train, None, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    (uni, bi)
  }

  /** Score against a PREBUILT [[bigramModel]] — the memoized-model path.
    * The doc stream is pre-aggregated to per-(doc, bigram) COUNTS before
    * the model joins, so a bigram a document repeats crosses the join
    * once and the mean is the count-weighted mean — fewer join rows on
    * exactly the repetitive documents the score flags.
    *
    * Join keys are 60-bit integer hashes computed at the scan
    * (`hashedBigramRows`: one md5 per TOKEN, bigram key = the
    * overflow-safe xor/rotate mix of the two token hashes), so the
    * pre-aggregation and both model joins shuffle longs and the explode
    * emits pure integers — this query was the bench's slowest, and the
    * cost was the per-bigram string building + re-tokenizing lambda,
    * not the joins. The model tables stay word-keyed (interpretable,
    * reusable); their hash projection is vocabulary-sized. A collision
    * merges counts identically in any engine that replicates the mix
    * (the oracle does), so the score stays bit-comparable. */
  def bigramLogProbFrom(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val uh = uni.select(md5Hash60(col("w1"), 0).as("h1"), col("c1"))
      .groupBy(col("h1")).agg(sum(col("c1")).as("c1"))
    val bih = bi.select(bigramHash(col("w1"), col("w2")).as("bh"), col("cb"))
      .groupBy(col("bh")).agg(sum(col("cb")).as("cb"))
    val vocab = uh.agg(count(lit(1)).as("v"))
    hashedBigramRows(docs, Some(idCol), textCol)
      .groupBy(col(idCol), col("bh"), col("h1"))
      .agg(count(lit(1)).as("cnt"))
      .join(bih, Seq("bh"), "left")
      .join(uh, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("cnt"),
        (-log((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))).as("nll"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * col("nll")) / sum(col("cnt")), 4).as("mean_nll"))
  }

  def bigramLogProb(docs: DataFrame, train: DataFrame,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val (uni, bi) = bigramModel(train, textCol)
    bigramLogProbFrom(docs, uni, bi, textCol, idCol)
  }

  /** Flesch-style readability per document, in ENGINE-EXACT integer
    * micro-units: words (whitespace tokens), sentences (runs of .!? —
    * floored at 1), syllables (vowel groups, the standard cheap proxy),
    * then flesch_micro = 206.835 − 1.015·(w/s) − 84.6·(syl/w) carried
    * entirely in integral micro arithmetic (each product/division stays
    * an exact non-negative integer until the final subtraction), so the
    * score never touches a float. Reading-ease bands at face value:
    * 90+ very easy … <30 academic. Pure columnar — three regexp_count
    * projections, no shuffle; a scan-speed curation signal. */
  def readability(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      greatest(size(tokens(t)), lit(1)).cast("long").as("n_words"),
      greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast("long")
        .as("n_sentences"),
      regexp_count(t, lit("[aeiouAEIOU]+")).cast("long").as("n_syllables"))
      .withColumn("wps_micro", expr("n_words * 1000000 div n_sentences"))
      .withColumn("spw_micro", expr("n_syllables * 1000000 div n_words"))
      .withColumn("flesch_micro", expr(
        "206835000 - (1015 * wps_micro) div 1000 - (84600 * spw_micro) div 1000"))
  }

  /** PII patterns — deliberately RE2-compatible (no lookarounds, no
    * backrefs) so the DuckDB oracle runs the byte-identical regex. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Per-document PII hit counts (emails, IPv4 addresses, dashed phone
    * numbers). Pure regexp_count columns — codegen'd, scan-local, no
    * shuffle at all: the op is a map over the corpus. */
  def piiStats(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phones"))

  /** Redact PII in place: emails, then IPs, then phones (order matters —
    * the earlier replacements cannot create later patterns because the
    * placeholder tokens contain no digits or '@'). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Rolling-hash document fingerprinting (winnowing-style): hash every
    * k-token shingle, keep each document's minima per window position —
    * here simplified to the s smallest shingle hashes (bottom-s sketch),
    * which is the common large-scale variant and fully oracle-checkable. */
  def fingerprint(docs: DataFrame, k: Int = 3, s: Int = 8,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = Shingles.wordShingles(docs, k, textCol, idCol)
    val hashed = sh.select(col(idCol), md5Hash60(col("shingle"), 0).as("h"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("h"))
    hashed.distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= s)
      .select(col(idCol), col("rn").as("pos"), col("h").as("fingerprint"))
  }

  /** True winnowing fingerprints (Schleimer et al. 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): hash every k-token shingle by position, slide a window
    * of `w` consecutive hashes, and select each window's minimum
    * (ties → leftmost). Guarantees: every shared token run of length
    * ≥ w + k − 1 produces at least one shared fingerprint, and density
    * is ≈ 2/(w+1) — positional robustness the bottom-s sketch
    * ([[fingerprint]]) doesn't give.
    *
    * Engine-stable formulation: (hash, position) pairs are packed into
    * one orderable long (40-bit hash ≪ 20 | position), so the window
    * argmin is a plain `min` both here and in SQL. Pure per-document
    * computation: one explode + one window partitioned by document —
    * shuffle keyed by doc id, no corpus-wide stage at any scale. */
  def winnowFingerprint(docs: DataFrame, k: Int = 3, w: Int = 4,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    // materialize the token array BEFORE the transform lambda: higher-order
    // functions evaluate interpreted, so an unmaterialized split() inside
    // the lambda re-tokenizes the document once per element — O(tokens²)
    // per doc (measured 6× slower at sf0.1)
    val base = graft.util.ScanParallelism
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
    val nSh = greatest(size(col("_toks")) - (k - 1), lit(1))
    val sh = base.select(col(idCol), nSh.as("nsh"),
        posexplode(transform(sequence(lit(1), nSh),
          i => concat_ws(" ", slice(col("_toks"), i, lit(k))))))
      .select(col(idCol), col("nsh"), (col("pos") + 1).as("pos"),
        col("col").as("shingle"))
    val h40 = conv(substring(md5(concat(lit("0:"), col("shingle"))), 1, 10),
      16, 10).cast("long")
    // pos must fit the 20-bit field: a >2^20-shingle document would
    // carry into the hash bits and silently corrupt every comparison —
    // fail loudly instead (chunk such documents first, see
    // Curation.chunkDocs). assert_true is a per-row runtime guard.
    val keyed = sh.select(col(idCol), col("nsh"), col("pos"),
      when(assert_true(col("pos") < 1048576,
          lit("winnowFingerprint: document exceeds 2^20 shingles — chunk it first"))
        .isNull, shiftleft(h40, 20) + col("pos")).as("key"))
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    // decode with bit ops: `/` would go through double and lose low bits
    keyed.withColumn("k", min(col("key")).over(win))
      .filter(col("pos") <= greatest(col("nsh") - (w - 1), lit(1)))
      .select(col(idCol), (col("k") % 1048576L).as("pos"),
        shiftrightunsigned(col("k"), 20).as("fingerprint"))
      .distinct()
  }

  /** Winnowing candidate pairs — the MOSS match stage: documents sharing
    * at least `minShared` winnow fingerprints. Inverted-index self-join
    * on the fingerprint value (never all-pairs); fingerprints are already
    * ≈2/(w+1)-density samples, and `maxFpDf` drops fingerprints shared by
    * more than that many documents (stop-phrase protection, same recall
    * tradeoff as [[Dedup.ngramJaccardPairs]]'s shingle-df cap). */
  def winnowPairs(docs: DataFrame, minShared: Int = 2, k: Int = 3,
                  w: Int = 4, maxFpDf: Int = Int.MaxValue,
                  textCol: String = "text",
                  idCol: String = "doc_id",
                  fingerprints: Option[DataFrame] = None): DataFrame = {
    val fp = fingerprints
      .getOrElse(winnowFingerprint(docs, k, w, textCol, idCol))
      .select(col(idCol), col("fingerprint")).distinct()
    val kept =
      if (maxFpDf == Int.MaxValue) fp
      else fp.join(
        fp.groupBy(col("fingerprint")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxFpDf).select(col("fingerprint")),
        Seq("fingerprint"), "leftsemi")
    kept.as("x").join(kept.as("y"),
        col("x.fingerprint") === col("y.fingerprint") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Day-1 index for [[winnowPairsIncremental]]: the DISTINCT
    * (id, fingerprint) table of history — persist once, match every
    * future batch against it. Stored UN-capped: the `maxFpDf` cap is a
    * corpus-wide property, so the day-2 query applies it over the
    * COMBINED (history + batch) counts — exactly the full rerun's
    * cap. */
  def winnowIndex(docs: DataFrame, k: Int = 3, w: Int = 4,
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    winnowFingerprint(docs, k, w, textCol, idCol)
      .select(col(idCol), col("fingerprint")).distinct()

  /** Day-2 MOSS matching: every winnow pair TOUCHING a new doc
    * (new×history through the persisted [[winnowIndex]], plus
    * new×new within the batch), EQUAL to the full rerun restricted to
    * those pairs — the df cap is evaluated on combined history+batch
    * counts, so kept-fingerprint sets agree with the full run (the
    * oracle is the full-corpus SQL with a touching-pair filter).
    * History×history never re-matches. Same keyed inverted-index
    * shape as the batch stage. */
  def winnowPairsIncremental(newDocs: DataFrame, index: DataFrame,
                             minShared: Int = 2, k: Int = 3, w: Int = 4,
                             maxFpDf: Int = Int.MaxValue,
                             textCol: String = "text",
                             idCol: String = "doc_id",
                             fingerprints: Option[DataFrame] = None): DataFrame = {
    val newFp = fingerprints
      .getOrElse(winnowFingerprint(newDocs, k, w, textCol, idCol))
      .select(col(idCol), col("fingerprint")).distinct()
      .localCheckpoint()
    val histFp = index.select(col(idCol), col("fingerprint"))
    val (kn, kh) =
      if (maxFpDf == Int.MaxValue) (newFp, histFp)
      else {
        val ok = newFp.groupBy(col("fingerprint"))
          .agg(count(lit(1)).as("__dn"))
          .join(histFp.groupBy(col("fingerprint"))
            .agg(count(lit(1)).as("__dh")), Seq("fingerprint"), "full")
          .filter(coalesce(col("__dn"), lit(0L)) +
            coalesce(col("__dh"), lit(0L)) <= maxFpDf)
          .select(col("fingerprint"))
        (newFp.join(ok, Seq("fingerprint"), "leftsemi"),
          histFp.join(ok, Seq("fingerprint"), "leftsemi"))
      }
    val cross = kn.as("x").join(kh.as("y"),
        col("x.fingerprint") === col("y.fingerprint"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("a"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("b"))
    val within = kn.as("x").join(kn.as("y"),
        col("x.fingerprint") === col("y.fingerprint") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
    cross.unionByName(within)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones, the Okapi BM25 used by
    * Lucene/Elasticsearch — idf = ln(1 + (N−df+0.5)/(df+0.5)), tf
    * saturation k1, length normalization b): for each query document,
    * score every corpus document by the query's DISTINCT terms and keep
    * the `k` best. The "more-like-this" shape — queries are themselves
    * documents — which is how corpus-level retrieval dedup/search runs.
    *
    * Scale shape: term frequencies are one explode + groupBy(doc, term)
    * with map-side combine (the only corpus shuffle); document
    * frequencies reduce to one row per term. The query term list is
    * query-suite-sized → broadcast, so scoring is a broadcast-hash join
    * on term followed by a (query, doc) partial+final aggregation. Corpus
    * is never joined to itself. Ranking sorts on the ROUNDED score with
    * doc-id tie-break, so the order is stable across engines.
    *
    * The rank-free score table is exposed separately as [[bm25Scores]] so
    * several retrieval queries over the same (corpus, query suite) can
    * share one materialization — pass it back via `scores` ("score once,
    * rank many", the index-reuse shape of a deployed retrieval stack). */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text", idCol: String = "doc_id",
               scores: Option[DataFrame] = None): DataFrame = {
    val scored = scores.getOrElse(bm25Scores(docs, queries, k1, b, textCol, idCol))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** The (query_id, doc, score) BM25 table behind [[bm25TopK]], before
    * any top-k truncation. */
  def bm25Scores(docs: DataFrame, queries: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // dl rides along through the explode, so tf+dl come out of ONE
    // groupBy(doc, term) — no per-doc length join or window afterwards
    val toks = graft.util.ScanParallelism
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), size(tokens(col(textCol))).as("dl"),
        explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val stats = graft.util.ScanParallelism.fanOut(docs.select(col(textCol)))
      .agg(count(lit(1)).as("n"),
        avg(size(tokens(col(textCol)))).as("avgdl"))
    val qterms = queries
      .select(col(idCol).as("query_id"), explode(tokens(col(textCol))).as("term"))
      .distinct()
    // df only for query terms: the semi-join prunes the corpus term
    // stream BEFORE the df shuffle, and the result stays broadcast-sized
    // (≤ query vocabulary) no matter how big the corpus vocabulary is
    val df = tf.join(broadcast(qterms.select(col("term")).distinct()),
        Seq("term"), "leftsemi")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("s")), 4).as("score"))
    scored
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
    * combine lexical (BM25) and dense (embedding-cosine) retrieval into
    * one hybrid ranking: score(d) = Σ over input rankings of
    * 1/(kRrf + rank_r(d)), documents missing from a ranking contribute 0.
    *
    * Input rankings are (query_id, id, rank) DataFrames (candidate lists,
    * already top-N-truncated — rankings are per-query-sized, not
    * corpus-sized). The fusion itself is a union + one aggregation: no
    * join, no corpus scan, so the cost is bounded by Σ|candidate lists|
    * at any corpus scale. With ≤ 2 rankings the fused score is a sum of
    * at most two doubles — addition is commutative, so the value is
    * bit-identical regardless of aggregation order (engine-stable). */
  /** Per-depth agreement between two rankings (the counting core of
    * rank-biased overlap): for every query and depth d ≤ maxDepth, how
    * many ids appear in BOTH top-d lists. A document matched at ranks
    * (ra, rb) is in the top-d intersection for every d ≥ max(ra, rb) —
    * so one small join on (query, id) plus a per-pair explode over its
    * qualifying depths replaces d separate intersections. Inputs are
    * candidate lists (per-query-sized); cost is Σ|lists|·maxDepth,
    * corpus-independent. Zero-overlap depths are emitted explicitly
    * (grid left join), so downstream weighted sums see every (q, d). */
  def rankOverlap(a: DataFrame, b: DataFrame, maxDepth: Int = 5): DataFrame = {
    val pairs = a.filter(col("rank") <= maxDepth)
      .select(col("query_id"), col("id"), col("rank").as("ra"))
      .join(b.filter(col("rank") <= maxDepth)
        .select(col("query_id"), col("id"), col("rank").as("rb")),
        Seq("query_id", "id"))
    val grid = a.select(col("query_id")).distinct()
      .select(col("query_id"),
        explode(sequence(lit(1), lit(maxDepth))).as("d"))
    val ov = pairs.select(col("query_id"),
        explode(sequence(greatest(col("ra"), col("rb")), lit(maxDepth))).as("d"))
      .groupBy(col("query_id"), col("d")).agg(count(lit(1)).as("n_overlap"))
    grid.join(ov, Seq("query_id", "d"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
  }

  /** Gopher-style rule-based document filter (Rae et al. 2021 §A1.1, the
    * rule family RefinedWeb/Dolma/FineWeb reuse): per document, one
    * boolean per rule plus the all-rules verdict. Every ratio threshold
    * is evaluated by INTEGER cross-multiplication (e.g. "mean word length
    * in [3,10]" as `3·n ≤ chars ≤ 10·n`), so the verdict is engine-exact
    * — no float ratio ever materializes.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; '#' symbols ≤ 10% of words; "..." occurrences ≤ 30% of
    * words; ≥ 80% of words contain a letter; ≥ 2 distinct common English
    * stopwords (the Gopher "has real sentences" proxy).
    *
    * One pure-columnar projection — no explode, no shuffle; at 100 TB
    * this runs at scan speed and the verdict predicate pushes into
    * wherever the curation pipeline filters. */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
                  maxWords: Long = 100000L, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val n = size(toks).cast("long")
    // non-whitespace chars = what the words are made of (mean word
    // length numerator). Counted by stripping \s directly — the
    // length(t) − (n_words − 1) shortcut silently over-counts on
    // leading/trailing or repeated whitespace because tokens() trims
    // and collapses while length() is raw, and can flip r_mean_word_len
    val chars = length(regexp_replace(t, "\\s", "")).cast("long")
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val ell = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("long")
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = size(array_intersect(array_distinct(toks),
      array(Seq("the", "and", "of", "to", "in", "is", "that", "for")
        .map(lit): _*))).cast("long")
    docs.select(
      col(idCol), n.as("n_words"),
      (n >= minWords && n <= maxWords).as("r_word_count"),
      (chars >= n * 3L && chars <= n * 10L).as("r_mean_word_len"),
      (hashes * 10L <= n).as("r_hash_ratio"),
      (ell * 10L <= n * 3L).as("r_ellipsis_ratio"),
      (alphaWords * 5L >= n * 4L).as("r_alpha_words"),
      (stops >= 2L).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") && col("r_hash_ratio") &&
        col("r_ellipsis_ratio") && col("r_alpha_words") && col("r_stopwords"))
  }

  /** Distinct-n diversity per source (the Distinct-1/2/3 metric of Li et
    * al. 2016): total vs distinct n-gram counts and their micro-unit
    * ratio. Low distinct-n = templated/boilerplate-heavy source — the
    * first audit to run on synthetic or scraped data before it enters a
    * training mix. One explode per n, aggregations with map-side combine;
    * the (source, ngram) distinct is the only corpus-sized shuffle. */
  def distinctNgrams(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3),
                     srcCol: String = "source", textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be positive: $ns")
    // one shared fan-out below all three n branches: the tokenize +
    // gram explode is the whole cost and ran serially on the bench's
    // single-split corpus layout; the identical repartition subtree is
    // exchange-reused across branches
    val base = graft.util.ScanParallelism
      .fanOut(docs.select(col(srcCol), col(textCol)))
    val per = ns.map { n =>
      val toks = tokens(col(textCol))
      // docs shorter than n contribute NOTHING at that n — a floored
      // sequence would emit the whole short doc as a phantom "n-gram"
      // and inflate exactly the short-doc-heavy sources this diversity
      // audit exists to flag
      val grams =
        if (n == 1) base.select(col(srcCol), explode(toks).as("gram"))
        else base.filter(size(toks) >= n).select(col(srcCol),
          explode(transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n))))).as("gram"))
      grams.groupBy(col(srcCol))
        .agg(count(lit(1)).as("total"),
          count_distinct(col("gram")).as("n_distinct"))
        .select(col(srcCol), lit(n).as("n"), col("total"), col("n_distinct"),
          expr("n_distinct * 1000000 div total").as("ratio_micro"))
    }
    per.reduce(_ unionByName _)
  }

  def rrfFuse(rankings: Seq[DataFrame], k: Int = 5, kRrf: Int = 60): DataFrame = {
    val unioned = rankings
      .map(_.select(col("query_id"), col("id"), col("rank")))
      .reduce(_ unionAll _)
    val fused = unioned.groupBy(col("query_id"), col("id"))
      .agg(round(sum(lit(1.0) / (lit(kRrf) + col("rank"))), 6).as("rrf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("rrf"))
  }
}
