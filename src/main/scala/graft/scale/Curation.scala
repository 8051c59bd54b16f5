package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling and curation operators for training-data pipelines.
  *
  * All sampling is deterministic: membership is a pure function of
  * (seed, id) via the md5-derived 60-bit hash (`TextOps.md5Hash60`), so
  *  - results are reproducible run-to-run and engine-to-engine (the DuckDB
  *    oracle recomputes them exactly — no RNG state anywhere);
  *  - at 100 TB the sample decision is a scan-local filter (hash-compare
  *    per row, no shuffle), and stratified/mixed variants add at most one
  *    broadcast join or one per-stratum window.
  */
object Curation {

  /** 2^60 — the hash space of md5Hash60. */
  val HashSpace: Long = 1L << 60

  /** Keep-threshold for a sampling rate in [0,1]. */
  def rateThreshold(rate: Double): Long = (rate * HashSpace).toLong

  /** Deterministic Bernoulli(rate) sample: keep rows whose id-hash falls
    * below rate·2^60. Scan-local filter, no shuffle. */
  def hashSample(docs: DataFrame, rate: Double, seed: Int = 7,
                 idCol: String = "doc_id"): DataFrame =
    docs.filter(
      TextOps.md5Hash60(col(idCol).cast("string"), seed) < rateThreshold(rate))

  /** Exactly-n-per-stratum sample: rank rows within each stratum by
    * id-hash (deterministic shuffle order) and keep the first n. One
    * window over the stratum key — the only shuffle, partitioned by
    * stratum, so skew is bounded by the largest stratum. The output
    * keeps `rn` (the deterministic within-stratum rank, 1..n) as a
    * documented column — downstream consumers use it for stable
    * sub-sampling and ordering. */
  def stratifiedSample(docs: DataFrame, strataCol: String, n: Int,
                       seed: Int = 7, idCol: String = "doc_id"): DataFrame = {
    val h = TextOps.md5Hash60(col(idCol).cast("string"), seed)
    val w = Window.partitionBy(col(strataCol)).orderBy(h.asc, col(idCol).asc)
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Per-group quota — the domain/source cap every pretraining pipeline
    * applies (no single site/source may contribute more than n documents):
    * rank documents within each group by a quality/order column
    * (descending, id ascending as tie-break) and keep the top n. One
    * window over the group key — the only shuffle; skew is bounded by
    * the largest group, and the cap itself guarantees bounded output
    * per group. Rank on a ROUNDED or integer order column so the cut
    * line is engine-exact. Keeps `rn` (1..n) for downstream priority. */
  def capPerGroup(docs: DataFrame, groupCol: String, n: Int,
                  orderCol: Column, idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCol.desc, col(idCol).asc)
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Data mixing: per-stratum Bernoulli rates (e.g. down-weight an
    * over-represented language/source to hit a target corpus mixture).
    * `rates` is a tiny (stratum, rate) table → broadcast join; the keep
    * decision stays scan-local. Strata absent from `rates` are dropped
    * (rate 0), the conservative default for an explicit mixture spec. */
  def mixSample(docs: DataFrame, rates: DataFrame, strataCol: String,
                seed: Int = 7, idCol: String = "doc_id"): DataFrame =
    docs.join(broadcast(rates), Seq(strataCol))
      .filter(TextOps.md5Hash60(col(idCol).cast("string"), seed) <
        (col("rate") * HashSpace).cast("long"))
      .drop("rate")

  /** Temperature-scaled mixture sampling (the multilingual-rebalancing
    * recipe: target share ∝ n_s^α, α < 1 flattens the distribution):
    * acceptance rate_s = (n_min/n_s)^(1−α), so the smallest stratum is
    * kept whole and over-represented strata are down-sampled toward the
    * temperature-flattened mixture — no rate table to hand-maintain,
    * the rates derive from the observed counts. One count aggregation
    * (stratum cardinality — broadcast-size), then the same
    * deterministic hash-accept as [[mixSample]]; rates round to 4dp so
    * the decision threshold is engine-exact. */
  def temperatureSample(docs: DataFrame, strataCol: String,
                        alpha: Double = 0.5, seed: Int = 7,
                        idCol: String = "doc_id"): DataFrame = {
    // fully lazy (no driver action): n_min rides in as a one-row cross
    // join, so construction costs nothing and an empty corpus flows
    // through as an empty rates table instead of a special case
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("ns"))
    val rates = counts
      .crossJoin(counts.agg(min(col("ns")).cast("double").as("nmin")))
      .select(col(strataCol),
        round(pow(col("nmin") / col("ns"), 1.0 - alpha), 4).as("rate"))
    mixSample(docs, rates, strataCol, seed, idCol)
  }

  /** Exact per-group quantiles of a numeric column (linear interpolation,
    * the quantile_cont definition). Spark's `percentile` aggregate is
    * exact-with-interpolation and runs as a single partial+final
    * aggregation; for 100 TB threshold-picking where exactness is not
    * required, swap in `percentile_approx` — same call shape. */
  def groupQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                     probs: Seq[Double]): DataFrame = {
    val arr = array(probs.map(lit): _*)
    val named = probs.zipWithIndex.map { case (p, i) =>
      round(element_at(col("qs"), i + 1), 4)
        .as("p" + math.round(p * 100).toString)
    }
    df.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), arr).as("qs"))
      .select(col(groupCol) +: named: _*)
  }

  /** Benchmark decontamination: flag corpus documents whose word-shingle
    * overlap with ANY benchmark/eval document reaches `minShared` — the
    * standard check that eval-set text has not leaked into the training
    * corpus (e.g. GPT-3 §2.2-style n-gram decontamination). Returns one
    * audit row per corpus document.
    *
    * Scale shape: the benchmark side is an eval suite — tiny relative to
    * the corpus — so its distinct shingle set broadcasts and the check is
    * a map-side semi-join + per-doc count; the 100 TB corpus is scanned
    * once and never shuffled on text. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, shingleK: Int = 3,
                    minShared: Int = 2, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val d = Shingles.wordShingles(docs, shingleK, textCol, idCol).distinct()
    val b = Shingles.wordShingles(benchmark, shingleK, textCol, idCol)
      .select(col("shingle")).distinct()
    val shared = d.join(broadcast(b), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("c"))
    docs.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("c"), lit(0L)).as("n_shared_shingles"),
        (coalesce(col("c"), lit(0L)) >= minShared).cast("int").as("contaminated"))
  }

  /** Bloom-filter decontamination — the constant-memory twin of
    * [[decontaminate]]: the benchmark's shingles are folded into an
    * `mBits` bitset (k md5-derived positions each) that is embedded as
    * a literal word array, so the executor-side footprint is mBits/8
    * bytes REGARDLESS of benchmark size — the shape that survives a
    * benchmark suite too large to broadcast as strings. A document
    * shingle "hits" when all k of its bits are set; false positives at
    * the classic (1−e^(−kn/m))^k rate make the flag conservative
    * (never misses real contamination). All hashing is md5-derived, so
    * the exact hit set — false positives included — is replicable in
    * SQL; the oracle checks it bit-for-bit. */
  def bloomDecontaminate(docs: DataFrame, benchmark: DataFrame,
                         shingleK: Int = 3, minShared: Int = 2,
                         mBits: Int = 65536, kHashes: Int = 3,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    def pos(seed: Int, sh: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(s"$seed"), lit(":"), sh)), 1, 15), 16, 10)
        .cast("long") % mBits
    // the filter is built with one distinct pass over the benchmark and
    // collected as bit POSITIONS (≤ k·|shingles|, bounded by mBits
    // distinct values) — the words array is mBits/64 longs on the driver
    val positions = Shingles.wordShingles(benchmark, shingleK, textCol, idCol)
      .select(col("shingle")).distinct()
      .select(explode(array((0 until kHashes).map(s => pos(s, col("shingle"))): _*))
        .as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](mBits / 64)
    positions.foreach(p => words((p >> 6).toInt) |= 1L << (p & 63))
    val bitsLit = array(words.map(lit(_)): _*)
    var d = Shingles.wordShingles(docs, shingleK, textCol, idCol).distinct()
    for (s <- 0 until kHashes) d = d.withColumn(s"__p$s", pos(s, col("shingle")))
    val hit = (0 until kHashes)
      .map(s => s"((shiftright(element_at(__bloom, cast(__p$s div 64 as int) + 1), " +
        s"cast(__p$s % 64 as int))) & 1) = 1")
      .mkString(" AND ")
    val hits = d.withColumn("__bloom", bitsLit).filter(expr(hit))
      .groupBy(col(idCol)).agg(count(lit(1)).as("c"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("c"), lit(0L)).as("n_hits"),
        (coalesce(col("c"), lit(0L)) >= minShared).cast("int").as("flagged"))
  }

  /** Deterministic sequence packing: assign every document a training
    * batch under a fixed token budget — the standard pretraining step
    * that concatenates documents and chunks the stream every
    * `budgetTokens` tokens. A document's batch is
    * floor(tokens-before-it-in-its-shard / budget), i.e. the chunk its
    * first token lands in (documents may straddle a boundary, exactly
    * like real packed pretraining batches).
    *
    * Sharding (id mod `shards`) bounds the sequential dependency: the
    * cumulative sum is a window per shard, so parallelism = shards and
    * no global ordering is ever materialized — at 100 TB pick shards ≈
    * cluster parallelism. Deterministic: (id → shard, id order within
    * shard), no RNG. */
  def packBatches(docs: DataFrame, budgetTokens: Long = 4096L,
                  shards: Int = 8, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), pmod(col(idCol), lit(shards.toLong)).as("shard"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("batch_id",
        (col("tokens_before") / budgetTokens).cast("long"))
  }

  /** Tokenize-and-chunk: split each document's token stream into
    * fixed-size windows advancing by `stride` tokens (overlapping when
    * stride < chunkTokens) — the document→training-sample
    * transformation. The final chunk is clipped to the document end;
    * every token appears in at least one chunk. Pure per-row explode
    * (array ops, no shuffle); row amplification ≈ n_tokens/stride. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // stride > chunkTokens would leave token gaps (and can emit an empty
    // trailing chunk with tok_start > tok_end), breaking the documented
    // every-token-covered contract
    require(stride > 0 && chunkTokens > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val lastChunk =
      s"(greatest(n_tokens - $chunkTokens, 0) + ${stride - 1}) div $stride"
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .select(col(idCol), col("toks"), col("n_tokens"),
        explode(expr(s"sequence(0, $lastChunk)")).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("tok_start"),
        least(col("chunk_id") * stride + chunkTokens, col("n_tokens"))
          .as("tok_end"),
        concat_ws(" ", slice(col("toks"), col("chunk_id") * stride + 1,
          least(col("chunk_id") * stride + chunkTokens, col("n_tokens")) -
            col("chunk_id") * stride)).as("chunk_text"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw-corpus
    * document by how much more likely its hashed n-gram features are
    * under a TARGET distribution (e.g. a high-quality or in-domain
    * subset) than under the raw corpus itself —
    * `w(doc) = Σ_feat [ log p̂_target(bucket) − log p̂_raw(bucket) ]`
    * with add-`alpha` smoothed bucket probabilities over `buckets` hashed
    * word-bigram buckets. Positive weight ⇒ the document looks more like
    * the target than like the background; resampling keeps the top mass.
    *
    * Scale shape: the two bucket-count tables are `buckets` rows — pure
    * map-side-combined aggregates that broadcast back — so the 100 TB
    * corpus is scanned twice (once to count, once to score) and the
    * scoring join is broadcast-hash on a few-KB table; no shuffle of the
    * corpus ever happens. Features hash with the engine-replicable
    * `TextOps.md5Hash60`, so the whole weighting is deterministic and
    * oracle-checkable. */
  def importanceWeights(docs: DataFrame, target: DataFrame,
                        buckets: Int = 256, shingleK: Int = 2,
                        alpha: Double = 1.0, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    def feats(d: DataFrame) = Shingles.wordShingles(d, shingleK, textCol, idCol)
      .select(col(idCol),
        pmod(TextOps.md5Hash60(col("shingle"), 0), lit(buckets.toLong)).as("bucket"))
    val raw = feats(docs)
    // per-(doc, bucket) counts are BOTH the scoring table and the source
    // of the raw bucket totals: the two aggregations share one identical
    // scan+explode+hash subtree, so exchange reuse computes it once
    val db = raw.groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("c"))
    val rawCnt = db.groupBy(col("bucket")).agg(sum(col("c")).as("rc"))
    val tgtCnt = feats(target).groupBy(col("bucket")).agg(count(lit(1)).as("tc"))
    // every bucket id, so buckets unseen in either corpus still smooth
    val ids = docs.sparkSession.range(buckets).select(col("id").as("bucket"))
    val totals = rawCnt.agg(sum(col("rc")).as("rtot"))
      .crossJoin(broadcast(tgtCnt.agg(sum(col("tc")).as("ttot"))))
    val bw = ids.join(rawCnt, Seq("bucket"), "left")
      .join(tgtCnt, Seq("bucket"), "left").crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + alpha) /
             (col("ttot") + alpha * buckets)) -
         log((coalesce(col("rc"), lit(0L)) + alpha) /
             (col("rtot") + alpha * buckets))).as("w"))
    // per-doc sums over per-bucket counts have ≤ `buckets` float terms
    // (not one per token), keeping engine-to-engine FP noise far below
    // the 4dp rounding
    db.join(broadcast(bw), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"),
        round(sum(col("c") * col("w")), 4).as("log_ratio"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    * every row gets the key u^(1/w) — here in the equivalent
    * -ln(u)/w form, ranked ascending — where u is the deterministic
    * hash-uniform in (0,1] and w the row's weight; the n smallest keys
    * are an exact weighted sample without replacement. The standard way
    * to draw a quality-weighted training subset in one pass: key
    * computation is scan-local, selection is one top-n.
    *
    * Engine-stable: the key is ROUNDED (6dp) before ranking with an id
    * tie-break, so ln's last-ulp differences can't flip the order. The
    * global top-n runs as TakeOrderedAndProject (per-partition heaps +
    * driver merge of n rows) — never a single-partition sort. */
  def weightedSample(df: DataFrame, n: Int, weightCol: String,
                     seed: Int = 13, idCol: String = "doc_id"): DataFrame = {
    val u = (TextOps.md5Hash60(col(idCol).cast("string"), seed) + 1).cast("double") /
      HashSpace.toDouble
    val key = round(-log(u) / col(weightCol), 6)
    df.filter(col(weightCol) > 0)
      .withColumn("es_key", key)
      .orderBy(col("es_key").asc, col(idCol).asc)
      .limit(n)
  }

  /** DSIR step 2 — importance RESAMPLING (the selection step of Xie et
    * al. 2023, following [[importanceWeights]]): accept each document
    * with probability sigmoid(log_ratio) via the deterministic hash
    * test keep ⟺ hash_u(id) < p·2^60. No RNG: reproducible
    * run-to-run and engine-to-engine, and the accept decision is a
    * scan-local filter over the weight table — DSIR end-to-end without
    * ever shuffling the corpus on text. The sigmoid is computed from
    * the ROUNDED log_ratio (4dp), so both engines feed exp the same
    * double. */
  def importanceResample(weights: DataFrame, seed: Int = 11,
                         idCol: String = "doc_id"): DataFrame = {
    val p = lit(1.0) / (lit(1.0) + exp(-col("log_ratio")))
    weights
      .filter(TextOps.md5Hash60(col(idCol).cast("string"), seed) <
        floor(p * HashSpace).cast("long"))
      .select(col(idCol), round(p, 4).as("p_accept"))
  }

  /** Topic labels for embedding clusters: the `topN` highest-TF-IDF terms
    * per k-means cluster — the standard way to make unsupervised corpus
    * clusters human-auditable ("what IS cluster 3?") when triaging a
    * training mix. IDF is over clusters (ln(k/df)): a term in every
    * cluster scores 0, a cluster-exclusive term scores tf·ln k.
    *
    * Scale shape: cluster assignment is a projection on the embeddings
    * scan ([[Similarity.withCluster]]); docs↔assignment is one equi-join
    * on the id (1:1, co-partitionable); the term table aggregates to
    * (clusters × vocabulary) with map-side combine before the per-term df
    * join. Nothing is driver-side except the k×dim centroids. */
  def clusterTopTerms(docs: DataFrame, embeddings: DataFrame,
                      nClusters: Int = 8, iterations: Int = 5, topN: Int = 5,
                      textCol: String = "text", idCol: String = "doc_id",
                      vecIdCol: String = "vec_id",
                      vecCol: String = "embedding",
                      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(Similarity.kmeansFit(embeddings,
      nClusters, iterations, vecIdCol, vecCol))
    val assigned = Similarity.withCluster(embeddings, cents, vecCol)
      .select(col(vecIdCol).as(idCol), col("cluster"))
    val terms = docs.join(assigned, Seq(idCol))
      .select(col("cluster"), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("cluster"), col("term")).agg(count(lit(1)).as("c"))
    val termDf = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = terms.join(termDf, Seq("term"))
      .select(col("cluster"), col("term"),
        round(col("c") * log(lit(nClusters.toDouble) / col("df")), 4).as("tfidf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topN)
      .select(col("cluster"), col("rank"), col("term"), col("tfidf"))
  }

  /** Linear (logistic-regression) quality classifier over cheap text
    * features — the deployment shape of a trained fastText/logreg corpus
    * filter: feature extraction is pure columnar expressions, the scorer
    * is a dot product with fixed weights, the verdict is a threshold.
    * The weights here are fixed interpretable stand-ins (favor longer,
    * alphabetic, normal-word-length text); a trained model drops in as
    * data without changing the plan — still one scan, no shuffle.
    *
    * The logit is rounded to 4dp BEFORE the sigmoid so both the verdict
    * (logit ≥ 0 ⟺ p ≥ 0.5, no FP-boundary compare) and the probability
    * are engine-stable. */
  def logisticQuality(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val toks = size(TextOps.tokens(t)).cast("double")
    val alpha = length(regexp_replace(t, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(t), lit(1))
    val avgTok = length(t).cast("double") / greatest(size(TextOps.tokens(t)), lit(1))
    val z = round(lit(-4.0) + lit(0.03) * least(toks, lit(200.0)) +
      lit(5.0) * alpha - lit(0.4) * abs(avgTok - lit(5.0)), 4)
    docs.select(col(idCol), z.as("logit"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("p_keep"),
      (z >= 0.0).cast("int").as("keep"))
  }

  /** End-to-end curation verdict for every document: quality score,
    * repetition ratio, near-duplicate status, and the retention decision
    * — the standard quality→repetition→dedup corpus filter chain, one
    * row per input document so downstream consumers can audit WHY a
    * document was dropped (retained = passes all three).
    *
    * Near-dup losers come from minhash-LSH candidate pairs clustered by
    * [[Dedup.connectedComponents]]; a document survives dedup iff it is
    * its component's representative (minimum id) or paired with nobody. */
  def curate(docs: DataFrame, minQuality: Double, minUniqueRatio: Double,
             textCol: String = "text", idCol: String = "doc_id",
             components: Option[DataFrame] = None): DataFrame = {
    val quality = TextOps.qualityScore(docs, textCol, idCol)
    val rep = TextOps.repetitionStats(docs, textCol, idCol)
      .select(col(idCol), col("unique_token_ratio"))
    val losers = components
      .getOrElse(Dedup.connectedComponents(
        Dedup.minhashLsh(docs, textCol = textCol, idCol = idCol)))
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol), lit(true).as("is_near_dup"))
    // quality is a projection of docs and carries every doc_id — it IS
    // the base table; joining docs.select(id) against it would re-shuffle
    // the corpus for nothing
    quality
      .join(rep, Seq(idCol))
      .join(losers, Seq(idCol), "left")
      .select(col(idCol), col("quality"), col("unique_token_ratio"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"),
        (col("quality") >= minQuality &&
          col("unique_token_ratio") >= minUniqueRatio &&
          !coalesce(col("is_near_dup"), lit(false))).as("retained"))
  }

  /** Train/val/test assignment that cannot leak near-duplicates across
    * the split boundary: the hash that decides a document's split is
    * taken over its near-dup COMPONENT representative, not the document
    * id, so every member of a dedup cluster lands in the same split by
    * construction. A naive per-doc hash split puts ~(1 − 1/nSplits) of
    * every surviving near-dup pair across the train/eval boundary — the
    * classic train-on-the-test-set failure that no amount of downstream
    * eval hygiene can undo.
    *
    * `components` is [[Dedup.connectedComponents]] output (share the one
    * memoized run); docs in no pair are their own singleton component.
    * Split id = md5-hash(rep) mod `nSplits` — deterministic, engine-
    * replicable, and scan-local after ONE broadcast-sized join with the
    * component table (components only carry clustered docs, a small
    * fraction of the corpus). Returns docs + (rep, in_cluster, split). */
  /** Deterministic training-epoch ORDER from integer mixture weights —
    * smooth weighted round-robin at corpus scale: a source with weight w
    * appears w× as often as a weight-1 source at every prefix of the
    * schedule, not just in expectation (the "don't front-load one
    * source" property an RNG shuffle only gives asymptotically).
    *
    * Key: the r-th document of source s sorts at r/w_s; comparing
    * fractions is done EXACTLY by scaling to r·(L/w_s) with
    * L = lcm(weights) — all integer, engine-replicable. Ties (equal
    * fractions across sources) break by (source, r). Plan: one keyed
    * window for the per-source rank, then ONE distributed range sort for
    * the global position via [[graft.ingest.Ingest.assignDenseIds]] —
    * never a single-partition window.
    *
    * @param weights (source → positive integer weight); absent sources
    *                weigh 1 */
  def epochOrder(docs: DataFrame, weights: Seq[(String, Int)],
                 srcCol: String = "source",
                 idCol: String = "doc_id"): DataFrame = {
    require(weights.forall(_._2 > 0), "weights must be positive")
    def lcm(a: Long, b: Long): Long = a / BigInt(a).gcd(BigInt(b)).toLong * b
    val l = weights.map(_._2.toLong).foldLeft(1L)(lcm)
    val wmap = weights.toMap
    val scale = typedLit(wmap.map { case (s, w) => s -> l / w })
    val r = row_number().over(
      Window.partitionBy(col(srcCol)).orderBy(col(idCol))).cast("long")
    val keyed = docs.select(col(idCol), col(srcCol))
      .withColumn("__r", r)
      .withColumn("__key",
        col("__r") * coalesce(element_at(scale, col(srcCol)), lit(l)))
    graft.ingest.Ingest.assignDenseIds(keyed, "pos",
        col("__key").asc, col(srcCol).asc, col("__r").asc)
      .select(col("pos"), col(idCol), col(srcCol))
  }

  /** Shard-level epoch schedule — [[epochOrder]] lifted from documents to
    * SHARDS, the granularity a training dataloader actually consumes: a
    * reader opens whole shard files, so a doc-level interleave that
    * alternates sources every few documents forces either tiny files or
    * random I/O inside big ones. Here each source's documents pack into
    * fixed-size shards in id order ((rank−1) div docsPerShard), and the
    * smooth weighted round-robin runs over the shard sequence: the r-th
    * shard of source s sorts at the exact integer fraction key
    * r·(lcm(w)/w_s), global position by the distributed dense-id sort.
    * Output is the shard MANIFEST (pos, source, shard_id, n_docs) — the
    * order training reads shards; within a shard, docs keep id order.
    * One keyed window over the corpus, then shard-count-sized work. */
  def epochShards(docs: DataFrame, weights: Seq[(String, Int)],
                  docsPerShard: Int, srcCol: String = "source",
                  idCol: String = "doc_id"): DataFrame = {
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(docsPerShard > 0, s"docsPerShard must be positive: $docsPerShard")
    def lcm(a: Long, b: Long): Long = a / BigInt(a).gcd(BigInt(b)).toLong * b
    val l = weights.map(_._2.toLong).foldLeft(1L)(lcm)
    val scale = typedLit(weights.toMap.map { case (s, w) => s -> l / w })
    val rn = row_number().over(
      Window.partitionBy(col(srcCol)).orderBy(col(idCol))).cast("long")
    val shards = docs.select(col(idCol), col(srcCol))
      .withColumn("__rn", rn)
      .withColumn("shard_id", expr(s"(__rn - 1) div $docsPerShard"))
      .groupBy(col(srcCol), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__key",
        (col("shard_id") + 1L) * coalesce(element_at(scale, col(srcCol)), lit(l)))
    graft.ingest.Ingest.assignDenseIds(shards, "pos",
        col("__key").asc, col(srcCol).asc, col("shard_id").asc)
      .select(col("pos"), col(srcCol), col("shard_id"), col("n_docs"))
  }

  /** GPT-style fixed-length context packing ("concat and chunk"): the
    * whole corpus's whitespace tokens, concatenated in `idCol` order,
    * are cut into consecutive `seqLen`-token training examples, and the
    * report says what landed in each — how many documents it spans,
    * the first/last document, how many tokens are real (`n_tokens`;
    * only the final example pads) and how many document boundaries fall
    * inside it (the cross-attention-contamination count a boundary-
    * masking dataloader needs). This is THE standard pretraining
    * batching shape (one example = one context window, no padding waste
    * except the tail).
    *
    * Scale shape: one range sort of (id, n_tokens) + a BOUNDED collect
    * of per-partition token sums (one long per partition) broadcast
    * back as offsets — the distributed prefix sum — then each document
    * explodes to the examples it overlaps (⌈n/seqLen⌉+1 rows max) and
    * one keyed agg builds the report. No single-partition window, no
    * driver-side row data; 100 TB of text never concatenates
    * physically — only the token COUNTS flow. */
  /** `orderCol` (default: `idCol`) is the STREAM order — pass e.g. the
    * [[epochOrder]] position to pack in mixture order instead of id
    * order; `first_doc`/`last_doc` always report the ids at the stream
    * boundaries (arg-min/-max by the order key). Duplicate `orderCol`
    * values break ties on `idCol` — both the prefix-sum range sort and
    * the boundary arg-min/-max use the composite (order, id) key, so
    * packing is deterministic for any input (not just unique keys). */
  def packContexts(docs: DataFrame, seqLen: Int, textCol: String = "text",
                   idCol: String = "doc_id",
                   orderCol: String = null): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    tokenStarts(docs, textCol, idCol, orderCol)
      .filter(col("__n") > 0)
      .withColumn("example_id", explode(sequence(
        expr(s"__start div $seqLen"),
        expr(s"(__start + __n - 1) div $seqLen"))))
      .withColumn("__fill",
        least(col("__start") + col("__n"), (col("example_id") + 1) * seqLen) -
          greatest(col("__start"), col("example_id") * seqLen))
      .groupBy(col("example_id"))
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("__id"), struct(col("__ord"), col("__id"))).as("first_doc"),
        max_by(col("__id"), struct(col("__ord"), col("__id"))).as("last_doc"),
        sum(col("__fill")).as("n_tokens"))
      .withColumn("n_pad", lit(seqLen.toLong) - col("n_tokens"))
  }

  /** The token stream's per-document start positions — the shared core
    * of the packing family: each document of the corpus, in (`orderCol`,
    * `idCol`) stream order, with its whitespace-token count (`__n`) and
    * the global position of its first token (`__start`). The prefix sum
    * is distributed: per-partition token totals (ONE Long each) are the
    * only collect; offsets broadcast back inside the closure, so 100 TB
    * of text contributes exactly numPartitions longs to the driver. */
  private def tokenStarts(docs: DataFrame, textCol: String, idCol: String,
                          orderCol: String): DataFrame = {
    val spark = docs.sparkSession
    val ord = Option(orderCol).getOrElse(idCol)
    val base = docs
      .select(col(idCol).cast("long").as("__id"),
        col(ord).cast("long").as("__ord"),
        size(TextOps.tokens(col(textCol))).cast("long").as("__n"))
      .orderBy(col("__ord"), col("__id"))
    val rdd = base.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distributed prefix sum: per-partition totals (one Long each) are
    // the only thing collected; offsets broadcast back with the closure
    val partSums = rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        Iterator((pi, it.map(_.getLong(2)).sum))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val withStart = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var cum = offsets(pi)
      it.map { r =>
        val start = cum; cum += r.getLong(2)
        org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), r.getLong(2), start)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      Seq("__id", "__ord", "__n", "__start").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(withStart, schema)
  }

  /** The attention/loss-mask metadata a dataloader emits NEXT TO
    * [[packContexts]]' packed examples: for every document that STARTS
    * inside an example, the example and the in-example token offset of
    * its first token — exactly the boundary list a document-masking
    * dataloader (block-diagonal attention à la "document masking" in
    * GPT-3/LLaMA-style pretraining) turns into the per-example attention
    * mask, and a loss-masking loader uses to zero the first-token loss
    * across concatenation seams. `spans_next` marks a document that
    * continues past the example's end (its mask block carries into
    * example+1). An example absent from the output (no starts inside it)
    * is entirely mid-document — one attention block, no seams.
    *
    * Same distributed prefix sum as [[packContexts]] — one extra
    * projection, nothing new shuffles. Flat rows (one per boundary)
    * rather than a per-example array so the artifact stays columnar,
    * mergeable, and engine-comparable. */
  def packBoundaries(docs: DataFrame, seqLen: Int, textCol: String = "text",
                     idCol: String = "doc_id",
                     orderCol: String = null): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    tokenStarts(docs, textCol, idCol, orderCol)
      .filter(col("__n") > 0)
      .select(expr(s"__start div $seqLen").as("example_id"),
        expr(s"__start % $seqLen").as("start_offset"),
        col("__id").as(idCol),
        (col("__start") + col("__n") >
          (expr(s"__start div $seqLen") + 1L) * seqLen).as("spans_next"))
  }

  /** Best-fit-decreasing WHOLE-ITEM bin packing — the padding-averse
    * alternative to [[packContexts]]' concat-and-chunk: items (documents,
    * or [[chunkDocs]] pieces ≤ `seqLen`) are never split across training
    * examples; instead each group's items, largest first, go into the
    * open bin with the LEAST remaining capacity that still fits (ties:
    * lowest bin id), opening a new bin when none fits. BFD is the
    * classic 11/9·OPT+1 guarantee — tail padding drops to near zero
    * without the cross-document attention contamination of packing by
    * concatenation.
    *
    * Scale shape: bin packing is inherently sequential IN ITS BIN STATE,
    * so the unit of sequential work is the `groupCol` group (a shard, a
    * source, a day — the same bounded unit [[budgetedShards]] emits), and
    * groups pack independently in parallel: one keyed exchange, then a
    * per-group in-memory BFD over (id, count) PAIRS — group size is
    * bounded by the sharding contract (docsPerShard-scale), and only the
    * counts are held, never text. Within a group the best-fit bin lookup
    * is a TreeSet ceiling query, O(n log n) per group. Deterministic:
    * items sort by (count DESC, id ASC); `groupCol = null` packs the
    * whole input as one group (oracle scale; the 100 TB path ALWAYS
    * passes a group). Output: one row per item with its assigned
    * `bin_id`, dense per group in bin-open order.
    *
    * `maxGroupItems` ENFORCES the sharding contract the sequential unit
    * relies on: a group buffers (id, count) pairs in one task, so a group
    * past the bound (e.g. `groupCol = null` over a 100 TB corpus) fails
    * loudly with guidance instead of a task OOM. Raise it only if your
    * executors are sized for the larger buffer (~32 bytes per item). */
  def packBestFit(items: DataFrame, seqLen: Int, nCol: String = "n_tokens",
                  idCol: String = "doc_id",
                  groupCol: String = null,
                  maxGroupItems: Int = 4194304): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    require(maxGroupItems > 0, s"maxGroupItems must be positive: $maxGroupItems")
    val spark = items.sparkSession
    import spark.implicits._
    val grp = Option(groupCol).map(c => col(c).cast("string"))
      .getOrElse(lit("")).as("__grp")
    val base = items
      .select(grp, col(idCol).cast("long").as("__id"),
        col(nCol).cast("long").as("__n"))
      .as[(String, Long, Long)]
    val cap = maxGroupItems
    val grpDesc = Option(groupCol).getOrElse("<whole input: groupCol = null>")
    val packed = base.groupByKey(_._1).flatMapGroups { (g, it) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        if (buf.length >= cap) throw new IllegalArgumentException(
          s"packBestFit: group '$g' of $grpDesc exceeds maxGroupItems=$cap. " +
            "Bin state is sequential per group, so each group buffers its " +
            "(id, count) pairs in one task — pass a bounded groupCol (a " +
            "shard / source / day, docsPerShard-scale) or raise " +
            "maxGroupItems if executors are sized for it.")
        buf += it.next()
      }
      val arr = buf.toArray.sortBy(t => (-t._3, t._2))
      // open bins: remaining capacity, ordered so rangeFrom((n, MinValue))
      // yields the tightest fit, lowest bin id on capacity ties
      val open = scala.collection.mutable.TreeSet.empty[(Long, Int)]
      var nBins = 0
      arr.iterator.map { case (_, id, n) =>
        require(n > 0 && n <= seqLen,
          s"item $id has $n tokens, outside [1, $seqLen] — chunk first")
        val bin = open.rangeFrom((n, Int.MinValue)).headOption match {
          case Some(hit @ (r, b)) =>
            open.remove(hit); if (r - n > 0) open.add((r - n, b)); b
          case None =>
            val b = nBins; nBins += 1
            if (seqLen - n > 0) open.add((seqLen - n, b)); b
        }
        (g, id, n, bin.toLong)
      }
    }.toDF("__grp", idCol, nCol, "bin_id")
    Option(groupCol) match {
      case Some(c) => packed.withColumnRenamed("__grp", c)
      case None    => packed.drop("__grp")
    }
  }

  /** Per-source TOKEN-BUDGET truncation — "this domain gets at most B
    * training tokens": rank each source's documents by quality (best
    * first, id tiebreak) and keep documents while the cumulative token
    * mass BEFORE them is under the source's budget, so the pool fills
    * with its best material and the boundary document may overflow by
    * at most its own length (the standard fill rule — a hard cut would
    * starve a source whose best document alone exceeds the budget).
    * This is the budgeted generalization of a per-source doc-count cap
    * ([[capPerGroup]]): budgets are expressed in what training actually
    * consumes. One keyed window over the corpus; budgets ride along as
    * a broadcast map literal. */
  def budgetTruncate(docs: DataFrame, budgets: Seq[(String, Long)],
                     defaultBudget: Long,
                     srcCol: String = "source", textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(budgets.forall(_._2 >= 0L) && defaultBudget >= 0L,
      "budgets must be non-negative")
    val bmap = typedLit(budgets.toMap)
    val scored = docs.select(col(idCol), col(srcCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
      TextOps.quality(col(textCol)).as("quality"))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("quality").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    scored
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") <
        coalesce(element_at(bmap, col(srcCol)), lit(defaultBudget)))
  }

  /** The end-to-end "what the dataloader opens" artifact:
    * [[budgetTruncate]]'s per-source token-budgeted pool, packed into
    * fixed-size shards and scheduled by [[epochShards]]' smooth weighted
    * round-robin — one manifest row per shard (pos, source, shard_id,
    * n_docs, n_tokens), in the order training reads them. Composing the
    * two keeps every guarantee of each: the pool holds each source's
    * best material within its token budget (boundary doc may overflow by
    * its own length), shards pack survivors in id order, and every
    * weight-w prefix of the schedule is source-balanced. Same plan
    * shape as its parts: two keyed windows over the corpus, then
    * shard-count-sized work — nothing new shuffles at corpus size. */
  def budgetedShards(docs: DataFrame, budgets: Seq[(String, Long)],
                     defaultBudget: Long, weights: Seq[(String, Int)],
                     docsPerShard: Int, srcCol: String = "source",
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(weights.forall(_._2 > 0), "weights must be positive")
    require(docsPerShard > 0, s"docsPerShard must be positive: $docsPerShard")
    def lcm(a: Long, b: Long): Long = a / BigInt(a).gcd(BigInt(b)).toLong * b
    val l = weights.map(_._2.toLong).foldLeft(1L)(lcm)
    val scale = typedLit(weights.toMap.map { case (s, w) => s -> l / w })
    val kept = budgetTruncate(docs, budgets, defaultBudget, srcCol, textCol,
      idCol)
    val rn = row_number().over(
      Window.partitionBy(col(srcCol)).orderBy(col(idCol))).cast("long")
    val shards = kept
      .withColumn("__rn", rn)
      .withColumn("shard_id", expr(s"(__rn - 1) div $docsPerShard"))
      .groupBy(col(srcCol), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("__key",
        (col("shard_id") + 1L) * coalesce(element_at(scale, col(srcCol)), lit(l)))
    graft.ingest.Ingest.assignDenseIds(shards, "pos",
        col("__key").asc, col(srcCol).asc, col("shard_id").asc)
      .select(col("pos"), col(srcCol), col("shard_id"), col("n_docs"),
        col("n_tokens"))
  }

  /** Training-mix allocation plan — the "data mixing calculator" run
    * before any epoch schedule exists: given target mixture weights and
    * a total token budget, how many tokens each source must contribute,
    * how that compares to what it HAS, and how many epochs (repeats) of
    * the source that implies. The DoReMi/LLaMA-style mixture planning
    * artifact: `epochs_micro > 10⁶` flags a source that must repeat to
    * hit its target; `deficit` is the token mass the budget wants but a
    * single pass cannot supply. All integer: targets by exact integral
    * division of the budget (largest-remainder assignment would hide the
    * rounding; truncation keeps Σtarget ≤ budget and is engine-exact).
    *
    * One corpus scan (per-source token sums, map-side combined) + a
    * weights-sized broadcast literal — nothing else shuffles.
    *
    * `targetWeights` should list every source (the weight sum normalizes
    * over the GIVEN list); a source absent from it defaults to weight 1
    * on top of that sum, so Σ target can exceed the budget — list all
    * sources when the budget must be exact. */
  def mixPlan(docs: DataFrame, targetWeights: Seq[(String, Int)],
              budgetTokens: Long, srcCol: String = "source",
              textCol: String = "text"): DataFrame = {
    require(targetWeights.forall(_._2 > 0), "weights must be positive")
    require(budgetTokens >= 0L, s"budget must be >= 0: $budgetTokens")
    val wSum = targetWeights.map(_._2.toLong).sum
    val wmap = typedLit(targetWeights.toMap)
    docs
      .groupBy(col(srcCol))
      .agg(sum(size(TextOps.tokens(col(textCol))).cast("long"))
        .as("avail_tokens"))
      .withColumn("weight",
        coalesce(element_at(wmap, col(srcCol)), lit(1)).cast("long"))
      .withColumn("target_tokens",
        expr(s"weight * ${budgetTokens}L div ${wSum}L"))
      .withColumn("alloc_tokens", least(col("avail_tokens"), col("target_tokens")))
      .withColumn("epochs_micro",
        expr("target_tokens * 1000000 div avail_tokens"))
      .withColumn("deficit",
        greatest(col("target_tokens") - col("avail_tokens"), lit(0L)))
  }

  /** Snapshot diff between two corpus versions — the data-ops "what
    * changed since the last crawl" audit that gates incremental
    * reprocessing: per doc id, `added` / `removed` / `changed` /
    * `unchanged` by content hash. One full-outer join on the id with
    * md5 projections on both sides; at 100 TB this is the id-keyed
    * shuffle and nothing else — text never travels, only its hash. */
  def corpusDiff(a: DataFrame, b: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val av = a.select(col(idCol), md5(col(textCol)).as("__ha"))
    val bv = b.select(col(idCol), md5(col(textCol)).as("__hb"))
    av.join(bv, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged"))
      .select(col(idCol), col("status"))
  }

  /** Incremental aggregate maintenance under a [[corpusDiff]] — the
    * payoff of the snapshot diff: instead of re-aggregating snapshot B
    * from scratch, apply a delta to snapshot A's stored per-group
    * aggregate. Every touched document is treated uniformly as
    * remove-its-A-contribution + add-its-B-contribution (for a doc
    * whose group is unchanged the ±1 doc counts cancel in the sum, so
    * this equals the naive "changed = token delta only" rule there).
    * The result equals a direct aggregation over B — which is exactly
    * what the oracle checks.
    *
    * "Touched" is the diff's non-unchanged ids UNION ids whose GROUP
    * moved between snapshots even though the text did not —
    * [[corpusDiff]] hashes only the text, so a group move alone reports
    * 'unchanged'; without the extra check its mass would silently stay
    * in the old group. The move detection is an id-keyed equi-join of
    * the two snapshots carrying only (id, group) — column-pruned, no
    * text travels.
    *
    * Scale shape: the touched-id set is diff-sized plus moved-sized
    * (crawl deltas are a few % of the corpus); both payload fetches are
    * id-keyed equi-joins of that small set against one snapshot (at
    * 100 TB a runtime bloom filter / DPP turns them into pruned scans),
    * and the merge is a union of |groups| + |delta| rows into one keyed
    * aggregation. The corpus text is never re-tokenized outside the
    * touched set.
    *
    * `baseAgg` must be (groupCol, n_docs, n_tokens) as produced by
    * grouping snapshot A; token counts use [[TextOps.tokens]]. */
  def maintainAgg(baseAgg: DataFrame, diff: DataFrame,
                  a: DataFrame, b: DataFrame,
                  groupCol: String = "source", textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    def payload(df: DataFrame) = df.select(col(idCol), col(groupCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("__t"))
    val moved = a.select(col(idCol), col(groupCol).as("__ga"))
      .join(b.select(col(idCol), col(groupCol).as("__gb")), Seq(idCol))
      .filter(!(col("__ga") <=> col("__gb")))
      .select(col(idCol))
    val touched = diff.filter(col("status") =!= "unchanged")
      .select(col(idCol)).unionByName(moved).distinct()
    // inner joins drop the side a doc is absent from: added docs emit
    // only a plus row, removed docs only a minus row, changed/moved
    // docs both — uniformly (−1 doc, −tokens) from A's group and
    // (+1 doc, +tokens) to B's group.
    val minus = touched.join(payload(a), Seq(idCol))
      .select(col(groupCol), lit(-1L).as("n_docs"),
        (-col("__t")).as("n_tokens"))
    val plus = touched.join(payload(b), Seq(idCol))
      .select(col(groupCol), lit(1L).as("n_docs"),
        col("__t").as("n_tokens"))
    baseAgg.select(col(groupCol), col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"))
      .unionByName(minus).unionByName(plus)
      .groupBy(col(groupCol))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  /** Cross-split n-gram contamination — the memorization-risk audit one
    * level below [[leakageSafeSplit]]'s pair-level guarantee: per split,
    * how many of its DISTINCT shingles also occur in some other split.
    * A component-keyed split stops near-duplicate documents from
    * straddling the boundary, but common n-grams still cross it — this
    * measures how much, which is what a memorization eval actually
    * cares about. Distinct (split, shingle) rows + one shingle-keyed
    * window; shuffles carry distinct shingles only. */
  def splitNgramOverlap(docs: DataFrame, splits: DataFrame,
                        shingleK: Int = 3, textCol: String = "text",
                        idCol: String = "doc_id",
                        splitCol: String = "split"): DataFrame = {
    val ss = Shingles.wordShingles(docs, shingleK, textCol, idCol)
      .join(splits.select(col(idCol), col(splitCol)), Seq(idCol))
      .select(col(splitCol), col("shingle")).distinct()
    val w = Window.partitionBy(col("shingle"))
    ss.withColumn("__ns", count(lit(1)).over(w))
      .groupBy(col(splitCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__ns") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_micro", expr("n_shared * 1000000 div n_shingles"))
  }

  def leakageSafeSplit(docs: DataFrame, components: DataFrame,
                       nSplits: Int = 10, seed: Int = 11,
                       idCol: String = "doc_id"): DataFrame = {
    docs.join(components.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .withColumn("rep", coalesce(col("component"), col(idCol)))
      .withColumn("in_cluster", col("component").isNotNull)
      .withColumn("split",
        (TextOps.md5Hash60(col("rep").cast("string"), seed) % nSplits)
          .cast("int"))
      .drop("component")
  }
}
