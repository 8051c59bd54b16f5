package graft.scale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Deduplication operators for corpus curation at 100 TB scale.
  *
  * All variants are pure DataFrame pipelines — hash/group/join shapes that
  * Catalyst plans with map-side partial aggregation — and all hashing is
  * md5-derived (`TextOps.md5Hash60`) so results are deterministic and
  * replicable by any SQL engine (the correctness oracle recomputes them).
  *
  *  - exact: hash-groupBy on content digest.
  *  - minhash + LSH: shingle → k minhashes → b bands → bucket-join for
  *    candidate pairs. Scales as O(docs × shingles) + a skew-safe
  *    self-join on band buckets (never all-pairs).
  *  - simhash: 64-bit sign-aggregated token hashes; near-dup = small
  *    Hamming distance, candidate generation by 16-bit chunk banding.
  *  - n-gram Jaccard: exact pairwise Jaccard restricted to pairs sharing
  *    ≥1 shingle (inverted-index join — sparse, not all-pairs).
  *  - embedding cosine near-dup: see [[Similarity.cosinePairs]].
  */
object Dedup {

  /** Exact dedup: one row per distinct content, keeping the minimal id as
    * representative plus the duplicate count. */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("representative"), count(lit(1)).as("dup_count"))

  /** MinHash signatures: (id, seed, minhash) long-form, `numHashes` rows
    * per document.
    *
    * One md5 per shingle, not per (shingle, seed): the Kirsch-Mitzenmacher
    * construction g_i(x) = h1(x) + i·h2(x) derives the hash family from two
    * independent halves of a single digest (h1 = 60 bits, h2 = 56 bits, so
    * h1 + 15·h2 < 2^61 never overflows a signed 64-bit value in any
    * engine). Hashing is the dominant cost of minhash at corpus scale —
    * this is a numHashes× reduction — and the arithmetic stays exactly
    * replicable in SQL for the oracle. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16, shingleK: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // h1 < 2^60, h2 < 2^56: h1 + seed*h2 stays inside signed 64 bits only
    // for seed <= 112 — beyond that the hash family silently wraps (and a
    // checked-arithmetic SQL oracle errors), so refuse loudly
    require(numHashes <= 112, s"numHashes $numHashes > 112 would overflow h1 + seed*h2")
    val sh = Shingles.wordShingles(docs, shingleK, textCol, idCol)
    val hashed = sh.select(col(idCol),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("shingle")), 17, 14), 16, 10).cast("long").as("h2"))
    // numHashes min-aggregates over ONE pass of the shingle stream, then
    // unpivot to the long form — NOT an explode(sequence(0, n-1)) before
    // the aggregation, which amplifies the shingle stream numHashes×
    // through the map-side combine (the dominant term: shingles ≫ docs).
    // min(h1 + seed·h2) per seed is computed on identical values either
    // way, so the signature table is bit-identical.
    val mins = (0 until numHashes).map { i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i")
    }
    val stackExpr = s"stack($numHashes, " +
      (0 until numHashes).map(i => s"${i}L, m$i").mkString(", ") +
      ") as (seed, minhash)"
    hashed.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), expr(stackExpr))
      .select(col(idCol), col("seed").cast("int").as("seed"), col("minhash"))
  }

  /** LSH banding over minhash signatures → candidate near-duplicate pairs
    * (a < b). bands × rowsPerBand must equal numHashes of the signatures.
    *
    * `maxBucketSize` bounds the quadratic blowup of a viral bucket: a
    * boilerplate text duplicated 10⁶ times shares every band bucket, and
    * a clique join would emit ~10¹² pairs from that one bucket. Buckets
    * larger than the cap are decomposed into a star — every member paired
    * with the bucket's minimum id — which emits O(size) pairs yet leaves
    * [[connectedComponents]] output IDENTICAL (any two members stay
    * connected through the hub), so dedup clusters and retention are
    * unchanged. Only the literal pair list shrinks (relevant if the pairs
    * feed [[minhashEstimate]] verification: star pairs estimate against
    * the hub only). Default Int.MaxValue = clique everywhere. */
  /** (id, band, band_key) table from a signature table — the LSH "index"
    * representation. Persist THIS per corpus snapshot: day-2 ingest then
    * dedups a new batch against it via [[minhashLshPairsIncremental]]
    * without re-hashing the historical corpus. Band key is the md5 of the
    * ':'-joined decimal minhashes in seed order (replicable in SQL as
    * md5(string_agg(minhash, ':' ORDER BY seed))). */
  def bandTable(signatures: DataFrame, rowsPerBand: Int = 4,
                idCol: String = "doc_id"): DataFrame =
    signatures
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col(idCol), col("band"))
      .agg(md5(concat_ws(":", transform(
        sort_array(collect_list(struct(col("seed"), col("minhash")))),
        x => x.getField("minhash").cast("string")))).as("band_key"))

  def minhashLshPairs(signatures: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
                      idCol: String = "doc_id",
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = bandTable(signatures, rowsPerBand, idCol)
    // bucket size + hub in one window pass, partitioned on the join key
    // (the self-join below shuffles on the same key — exchange reused)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_key"))
    val sized =
      if (maxBucketSize == Int.MaxValue) banded.withColumn("bsz", lit(1L))
        .withColumn("hub", lit(0L)) // never consulted
      else banded.withColumn("bsz", count(lit(1)).over(w))
        .withColumn("hub", min(col(idCol)).over(w))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val a = small.select(col(idCol).as("a"), col("band"), col("band_key"))
    val b = small.select(col(idCol).as("b"), col("band"), col("band_key"))
    val clique = a.join(b, Seq("band", "band_key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val star = sized.filter(col("bsz") > maxBucketSize && col(idCol) =!= col("hub"))
      .select(col("hub").as("a"), col(idCol).as("b"))
    clique.unionByName(star).distinct()
  }

  /** Incremental near-dup candidate generation — the day-2 ingest shape:
    * a NEW batch is deduped against the persisted [[bandTable]] of the
    * historical corpus (plus itself) WITHOUT re-shingling or re-hashing
    * one historical document. Work is |new bands| joined against the
    * index on (band, band_key) — proportional to the batch, not the
    * corpus. Emits exactly the candidate pairs a full-corpus run would
    * emit that touch ≥ 1 new document (normalized a < b) — proved by the
    * equivalence property spec. New-batch signatures must use the same
    * (numHashes, rowsPerBand) family as the index, or band keys are
    * incomparable garbage. */
  def minhashLshPairsIncremental(newSigs: DataFrame, indexBands: DataFrame,
                                 rowsPerBand: Int = 4,
                                 idCol: String = "doc_id",
                                 maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val nb = bandTable(newSigs, rowsPerBand, idCol)
    val all = indexBands.select(col(idCol), col("band"), col("band_key"))
      .unionByName(nb)
    // viral-bucket bound, the batch op's star tradeoff on the join
    // target side: an over-cap bucket keeps only its minimum-id hub, so
    // a new member links to the hub in O(1) instead of fanning out over
    // the whole bucket — connected components are preserved (everything
    // in the bucket reaches the hub), only the literal pair list
    // shrinks. Default Int.MaxValue = exact candidates everywhere.
    val targets =
      if (maxBucketSize == Int.MaxValue) all
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_key"))
        all.withColumn("bsz", count(lit(1)).over(w))
          .withColumn("hub", min(col(idCol)).over(w))
          .filter(col("bsz") <= maxBucketSize || col(idCol) === col("hub"))
          .drop("bsz", "hub")
      }
    nb.select(col(idCol).as("a"), col("band"), col("band_key"))
      .join(targets.select(col(idCol).as("b"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")), greatest(col("a"), col("b")))
      .toDF("a", "b")
      .distinct()
  }

  /** Full minhash+LSH dedup: candidate pairs from banding. */
  def minhashLsh(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                 shingleK: Int = 3, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes $numHashes must divide into $bands bands (a remainder " +
        "would create a phantom short band with near-random collisions)")
    minhashLshPairs(minhashSignatures(docs, numHashes, shingleK, textCol, idCol),
      bands, numHashes / bands, idCol)
  }

  /** LSH parameter sweep — the banding-tuning report: for each
    * (bands, rowsPerBand) split of the SAME signature table, how many
    * candidate pairs and distinct candidate documents banding would
    * yield. The (b, r) choice sets the match-probability curve
    * (1 − (1 − s^r)^b); this report grounds it in observed counts so the
    * threshold is picked from data, not folklore. Signature computation
    * is the expensive stage and is NOT repeated per config — pass a
    * materialized signature table; each config then costs one
    * band-key aggregation + bucket self-join over it, and the per-config
    * output is two scalars (all-integer — no rounding conventions).
    * The degenerate (numHashes, 1) split is deliberately absent from the
    * default sweep: single-hash buckets cluster everything that shares
    * ANY one minhash, a near-quadratic candidate set nobody ships. */
  def lshTuning(signatures: DataFrame,
                configs: Seq[(Int, Int)] = Seq((8, 2), (4, 4), (2, 8)),
                idCol: String = "doc_id"): DataFrame = {
    require(configs.nonEmpty, "lshTuning: configs must be non-empty")
    configs.map { case (b, r) =>
      // corner-explode + one aggregation: 2 rows per pair, so
      // n_pairs = rows/2 and n_docs = distinct corners — both scalars
      // in a single pass over the candidate set
      minhashLshPairs(signatures, b, r, idCol)
        .select(explode(array(col("a"), col("b"))).as("d"))
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("d")).as("n_docs"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_pairs"), col("n_docs"))
    }.reduce(_ unionByName _)
  }

  /** Cross-group near-duplicate pairs — syndication / mirror detection:
    * the LSH candidate pairs whose two documents carry DIFFERENT values
    * of `groupCol` (source, domain, crawl snapshot…). Within-group
    * duplication is expected (boilerplate); the cross-group subset is
    * what reveals content syndicated between sources, the pairs a
    * per-source dedup policy would miss. Pair generation stays bucketed
    * ([[minhashLsh]], never all-pairs); attaching the group is two
    * id-equi joins against a two-column projection of the corpus. */
  def crossGroupPairs(docs: DataFrame, groupCol: String = "source",
                      idCol: String = "doc_id",
                      pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(minhashLsh(docs, idCol = idCol))
    val g = (side: String) => docs.select(col(idCol).as(side),
      col(groupCol).as(s"${groupCol}_$side"))
    p.select(col("a"), col("b"))
      .join(g("a"), Seq("a")).join(g("b"), Seq("b"))
      .filter(col(s"${groupCol}_a") =!= col(s"${groupCol}_b"))
      .select(col("a"), col("b"), col(s"${groupCol}_a"), col(s"${groupCol}_b"))
  }

  /** Verification stage between LSH candidate generation and clustering:
    * estimate each candidate pair's Jaccard as the fraction of minhash
    * seeds on which the two signatures agree (the unbiased minhash
    * estimator). Banding admits false positives by design; filtering the
    * estimate at the true similarity threshold removes them before
    * connected components — at corpus scale this is the difference
    * between clustering real near-dups and chaining unrelated docs
    * through band collisions. Two joins against the (id, seed, minhash)
    * signature table, both on (id, seed) — no text rescan. */
  def minhashEstimate(pairs: DataFrame, signatures: DataFrame,
                      minEstimate: Double = 0.0,
                      idCol: String = "doc_id"): DataFrame = {
    val sa = signatures.select(col(idCol).as("a"), col("seed"),
      col("minhash").as("mha"))
    val sb = signatures.select(col(idCol).as("b"), col("seed"),
      col("minhash").as("mhb"))
    pairs.join(sa, Seq("a")).join(sb, Seq("b", "seed"))
      .groupBy(col("a"), col("b"))
      .agg(round(avg(when(col("mha") === col("mhb"), 1.0).otherwise(0.0)), 4)
        .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstimate)
  }

  /** Candidate-set PRECISION against the exact Jaccard — the LSH eval a
    * production dedup pipeline runs before trusting its banding config:
    * of the candidate pairs the bands emitted, how many are TRUE
    * near-dups at threshold tauNum/tauDen? One row:
    * (n_candidates, n_true, precision_micro). The verdict is the exact
    * integer cross-multiplication over true shingle-set sizes and
    * array_intersect intersections (the [[jaccardPrefixPairs]]
    * verification shape — candidates-sized work, no corpus re-scan
    * beyond one shingle pass), so the report is engine-exact. The
    * recall side lives in `lsh_tuning` (banding sweep) — together they
    * bound the config from both directions. */
  def lshPrecision(docs: DataFrame, pairs: DataFrame,
                   tauNum: Int = 1, tauDen: Int = 2, shingleK: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: $tauNum/$tauDen")
    val sets = Shingles.wordShingles(docs, shingleK, textCol, idCol)
      .distinct()
      .groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("set"), count(lit(1)).as("sz"))
    pairs
      .join(sets.select(col(idCol).as("a"), col("set").as("set_a"),
        col("sz").as("sza")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("set").as("set_b"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("i",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("i") * tauDen >= (col("sza") + col("szb") - col("i")) * tauNum,
          1L).otherwise(0L)).as("n_true"))
      .select(col("n_candidates"), col("n_true"),
        when(col("n_candidates") > 0,
          expr("n_true * 1000000 div n_candidates")).otherwise(0L)
          .as("precision_micro"))
  }

  /** The retained corpus after exact dedup: the minimum-id document of
    * every distinct content survives (semi-join against [[exact]]'s
    * representatives — no wide row shuffle of the corpus itself). */
  def dropExactDuplicates(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame =
    docs.join(exact(docs, textCol, idCol).select(col("representative").as(idCol)),
      Seq(idCol), "leftsemi")

  /** The retained corpus after near-dup clustering: each component keeps
    * only its representative (minimum id); documents in no pair are
    * untouched. `pairs` comes from any candidate generator (minhash LSH,
    * simhash banding, ngram Jaccard, embedding cosine). */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame =
    dropByComponents(docs, connectedComponents(pairs), idCol)

  /** Retention from an ALREADY-COMPUTED component labeling (share one
    * [[connectedComponents]] run across audit + retention consumers). */
  def dropByComponents(docs: DataFrame, components: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val losers = components
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "leftanti")
  }

  /** Quality-priority retention: keep the BEST-scoring member of each
    * near-dup cluster instead of [[dropByComponents]]' canonical-id
    * member — "dedup should delete the worse copy" (shorter, truncated,
    * boilerplate-heavy), which min-id retention gets wrong whenever the
    * best copy doesn't happen to carry the smallest id. Docs in no
    * cluster are their own singleton and always survive. Ties on the
    * score break by ascending id — deterministic. One keyed window over
    * cluster-sized groups; the docs↔components join is on the id. */
  def keepBestByComponents(docs: DataFrame, components: DataFrame,
                           scoreCol: String,
                           idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = docs.join(
        components.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    labeled.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(docs.columns.map(col): _*)
  }

  /** Connected components over near-duplicate candidate pairs — the
    * clustering step that turns pairs into dedup groups (component id =
    * the minimum member id, the canonical representative).
    *
    * Alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.
    * 2014, "Connected components in MapReduce and beyond"): each round,
    * every node's strictly-larger neighbors re-point at the minimum of
    * its neighborhood (large-star), then every node's smaller neighbors
    * — and the node itself — re-point at its minimum smaller neighbor
    * (small-star). Both steps preserve connectivity, only ever lower
    * edge endpoints, and provably converge to per-component STARS
    * rooted at the minimum id in O(log² n) rounds. Measured on the
    * sf0.1 LSH dedup graph (component diameter ≈ 27): 6 rounds where
    * plain min-label propagation took 28 — and min-propagation under a
    * fixed round budget silently RETURNS UNCONVERGED LABELS on any
    * component deeper than the budget (a 200-node chain, say), which is
    * why this loop also fails loudly if the exact fixpoint isn't
    * reached. Every step is a keyed join/aggregation over the (usually
    * shrinking) edge set; `localCheckpoint` truncates the iterative
    * lineage. Deterministic.
    *
    * Returns (node, component) for every node that appears in a pair;
    * a null id is no node. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxIter: Int = 30,
                          maxLocalEdges: Long = 2000000L): DataFrame = {
    // canonical big -> small directed edges; ids are read as LongType on
    // both paths (the local collect reads primitive longs), so labels and
    // schema agree for any integral input. Self-pairs stay in this
    // snapshot as u == v loops: they carry the ids that appear in no
    // other pair, which still get their own label.
    val a = col(aCol).cast(LongType)
    val b = col(bCol).cast(LongType)
    // DISK_ONLY round snapshots: see GraphOps.roundSnapshot (x100
    // storage-unroll OOM rationale)
    val canon = GraphOps.roundSnapshot(pairs
      .select(greatest(a, b).as("u"), least(a, b).as("v"))
      .filter(col("u").isNotNull).distinct())
    // Size-gated driver union-find — the same bounded-collect policy as
    // GraphOps.kcore (and broadcast thresholds): below `maxLocalEdges`
    // DISTINCT pairs the distributed star contraction pays ~3 jobs per
    // round of pure scheduling overhead on a graph the driver solves in
    // milliseconds (measured: the bench's 161-edge LSH graph cost ~15 s
    // through the fixpoint). Labels are the component MINIMUM on both
    // paths, so the result is identical — spec-pinned. Beyond the gate
    // the unbounded distributed fixpoint below runs unchanged.
    if (canon.count() <= maxLocalEdges) {
      val (us, vs) = GraphOps.collectEdges(canon)
      // every root is its set's minimum: a union always hangs the larger
      // root under the smaller one; a self-loop unions nothing, so its
      // id keeps itself as label
      val uf = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (uf.getOrElse(r, r) != r) r = uf.getOrElse(r, r)
        var c = x
        while (uf.getOrElse(c, c) != c) { val n = uf(c); uf(c) = r; c = n }
        r
      }
      us.indices.foreach { i =>
        val (ra, rb) = (find(us(i)), find(vs(i)))
        if (ra != rb) uf(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = (us ++ vs).distinct.map(n => (n, find(n)))
      return pairs.sparkSession.createDataFrame(rows.toSeq)
        .toDF("node", "component")
    }
    val nodes = pairs.select(a.as("node")).union(pairs.select(b.as("node")))
      .filter(col("node").isNotNull).distinct()
      .localCheckpoint(false)
    var e = GraphOps.roundSnapshot(canon.filter(col("u") =!= col("v")))
    var eCount = e.count()
    GraphOps.releaseCheckpoint(canon)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // large-star over the SYMMETRIC adjacency: neighbors above u hook
      // onto m(u) = min(N(u) ∪ {u})
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mL = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val e1 = sym.join(mL, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: u and its smaller neighbors hook onto the minimum
      val mS = e1.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = GraphOps.roundSnapshot(e1.join(mS, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(mS.select(col("u").as("a"), col("m").as("b")))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
      // EXACT set-equality fixpoint: same cardinality and no new edges
      // in the union (both counts also materialize the checkpoint); the
      // second job only runs once the counts agree — the final rounds
      val nextCount = next.count()
      done = nextCount == eCount &&
        next.unionByName(e).distinct().count() == eCount
      // both fixpoint jobs over the superseded edge set have run — free
      // its checkpoint blocks now instead of waiting for driver GC
      // (same round-snapshot pile-up as GraphOps.kcore at x100)
      GraphOps.releaseCheckpoint(e)
      e = next
      eCount = nextCount
      iter += 1
    }
    // an unconverged labeling silently splits components — refuse to
    // return it (star contraction converges in O(log² n) ≪ 30 rounds)
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds")
    // stars: every non-root points at its component minimum
    val labels = e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .distinct()
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("component"))
  }

  /** Day-2 connected components — the incremental twin of
    * [[connectedComponents]]: given yesterday's labeling (component =
    * MIN node id, the invariant [[connectedComponents]] guarantees) and
    * the NEW edges from a day-2 incremental pair join (every new edge
    * touches ≥ 1 new node; history×history never re-pairs), contract
    * each endpoint to its super-node (its day-1 label for history
    * nodes, itself for new ones), run the fixpoint ONLY on the
    * super-graph — new-batch-sized, not corpus-sized — and expand
    * labels back. min(min-labels ∪ new ids) = the full run's global
    * min, so the result EQUALS recomputing components from scratch on
    * the full edge set, which is exactly what the oracle does.
    *
    * Scale shape: three keyed joins against the label table + a CC
    * whose input is |delta| edges; the corpus-wide edge set is never
    * revisited — the day-2 story of the pair joins carried through to
    * the component stage. The super-graph CC itself is size-gated:
    * ≤ `maxLocalEdges` distinct contracted edges solve in one
    * driver-side union-find (bounded collect, broadcast-threshold
    * policy), larger deltas fall back to distributed star
    * contraction. */
  def componentsIncremental(histLabels: DataFrame, newEdges: DataFrame,
                            maxIter: Int = 30,
                            maxLocalEdges: Long = 2000000L): DataFrame = {
    val sup = histLabels.select(col("node"), col("component").as("sup"))
    val e = newEdges
      .join(sup.withColumnRenamed("node", "a")
        .withColumnRenamed("sup", "sa"), Seq("a"), "left")
      .join(sup.withColumnRenamed("node", "b")
        .withColumnRenamed("sup", "sb"), Seq("b"), "left")
      .select(coalesce(col("sa"), col("a")).as("a"),
        coalesce(col("sb"), col("b")).as("b"))
      .distinct().localCheckpoint(false)
    // The super-graph is DELTA-sized (≤ the incremental pair count), so
    // connectedComponents' size gate usually solves it on the driver
    val superLabels = connectedComponents(e, maxIter = maxIter,
        maxLocalEdges = maxLocalEdges)
      .withColumnRenamed("node", "sup")
      .withColumnRenamed("component", "__newc")
    val newNodes = newEdges.select(col("a").as("node"))
      .union(newEdges.select(col("b").as("node"))).distinct()
      .join(sup, Seq("node"), "left")
      .select(col("node"), coalesce(col("sup"), col("node")).as("sup"))
    histLabels.select(col("node"), col("component").as("sup"))
      .unionByName(newNodes)
      .dropDuplicates("node")
      .join(superLabels, Seq("sup"), "left")
      .select(col("node"),
        coalesce(col("__newc"), col("sup")).as("component"))
  }

  /** 60-bit SimHash per document: bit j of the signature is 1 iff the sum
    * over tokens of ±1 (sign of bit j of the token's hash) is positive.
    *
    * One token row per (doc, token) and ONE aggregation with 60 codegen'd
    * per-bit sums — not an explode over bit positions, which would
    * amplify the token stream 60× before the shuffle. Map-side partial
    * aggregation reduces each partition to one 60-counter row per doc. */
  def simhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val tok = graft.util.ScanParallelism
      .fanOut(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col(idCol), TextOps.md5Hash60(col("tok"), 0).as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(expr(s"(shiftright(h, $j) & CAST(1 AS BIGINT)) * 2 - 1")).as(s"s$j")
    }
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 60).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming-LSH near-duplicate pairs over a 64-bit hash stored as two
    * non-negative 32-bit halves (`hiCol` = bits 32..63, `loCol` = bits
    * 0..31 — the [[graft.scale.Multimodal.averageHashHalves]] layout;
    * a 60-bit [[simhash]] fits as lo=hash, hi=0).
    *
    * The hash is cut into `bands` equal bit-slices and rows sharing any
    * slice become candidates (the classic Hamming-LSH / "chunk" scheme of
    * Gionis et al. 1999). By pigeonhole, two hashes within Hamming
    * distance d < bands agree on at least one whole slice, so for
    * `radius ≤ bands − 1` the candidate set provably contains EVERY pair
    * within the radius — banding here is an exact algorithm, not an
    * approximation, and the verified output is engine-replicable (the
    * oracle recomputes it as a brute-force `bit_count(xor(...))` join).
    * Candidates are verified with the codegen'd
    * [[graft.functions.VecHamming]] popcount merge; output is
    * (a, b, hamming) with a < b and hamming ≤ radius.
    *
    * Scale shape: run this over DISTINCT hashes (group duplicates first —
    * cardinality is #unique images, not #docs), then the band self-join
    * keys on (band, band_key) — never all-pairs. `maxBucketSize` bounds a
    * viral band bucket like [[minhashLshPairs]]: over-cap buckets emit
    * hub→member star edges instead of the clique — but unlike the
    * unverified LSH candidates, star edges are ALSO radius-verified
    * (an unverified star edge could falsely merge two far clusters that
    * merely share one band slice — a false dedup merge, the worst
    * failure mode). So with a finite cap the output is a verified
    * SUBSET of the exact pair list: every emitted pair is truly within
    * `radius`; recall inside an over-cap bucket degrades to
    * hub-reachability (members within radius of the bucket's minimum-id
    * hub stay connected; member↔member pairs beyond the hub are
    * sacrificed for the O(size) bound). Duplicate-hash buckets — the
    * common viral case once inputs are distinct-hash rows — lose
    * nothing: every member is at distance 0 from the hub. */
  /** (id, hi, lo, band, band_key) rows for [[hammingBandPairs]] — the
    * persistable day-2 index of the Hamming family (the analogue of
    * [[bandTable]] for MinHash and [[jaccardPrefixIndex]] for exact
    * Jaccard): write this per corpus snapshot and dedup tomorrow's
    * batch against it with [[hammingBandPairsIncremental]] without
    * re-decoding one historical image. Carries the hash halves so
    * incremental candidates verify against the index alone. */
  def hammingBandTable(hashes: DataFrame, bands: Int = 8,
                       idCol: String = "doc_id",
                       hiCol: String = "ahash_hi",
                       loCol: String = "ahash_lo"): DataFrame = {
    require(bands > 0 && 64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands must cut 64 bits into whole within-half slices, got $bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val keys = (0 until bands).map { i =>
      val src = if ((i + 1) * width <= 32) shiftright(col(loCol), i * width)
                else shiftright(col(hiCol), i * width - 32)
      (src.cast("long")).bitwiseAND(lit(mask))
    }
    hashes.select(col(idCol), col(hiCol), col(loCol),
      posexplode(array(keys: _*)).as(Seq("band", "band_key")))
  }

  /** Day-2 Hamming near-dup: a NEW batch of hashes joins the persisted
    * [[hammingBandTable]] (and itself) — emits every verified pair
    * within `radius` touching ≥ 1 new row, over the combined node set,
    * without touching historical payloads. Lossless per pair for
    * radius < bands (the pigeonhole bound applies to each (new, any)
    * pair individually). A hash present on both sides surfaces as the
    * (index rep, new rep) pair at distance 0 — exactly the "new doc is
    * a duplicate of history" signal day-2 ingest wants. New ids must
    * be disjoint from index ids. */
  def hammingBandPairsIncremental(newHashes: DataFrame, indexBands: DataFrame,
                                  radius: Int, bands: Int = 8,
                                  idCol: String = "doc_id",
                                  hiCol: String = "ahash_hi",
                                  loCol: String = "ahash_lo",
                                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(radius >= 0 && radius < bands,
      s"lossless guarantee needs radius < bands, got radius=$radius bands=$bands")
    val nb = hammingBandTable(newHashes, bands, idCol, hiCol, loCol)
    val all = indexBands
      .select(col(idCol), col(hiCol), col(loCol), col("band"), col("band_key"))
      .unionByName(nb)
    // viral-bucket bound, mirroring the batch op: a join-target bucket
    // over the cap (the all-zero band slice of a million near-black
    // images is the canonical case) keeps only its minimum-id hub row,
    // so a new row fans out O(1) there instead of O(bucket). Every
    // emitted pair is still radius-verified — capped output is a
    // verified subset with hub-reachability recall in viral buckets.
    val targets =
      if (maxBucketSize == Int.MaxValue) all
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_key"))
        all.withColumn("bsz", count(lit(1)).over(w))
          .withColumn("hub", min(col(idCol)).over(w))
          .filter(col("bsz") <= maxBucketSize || col(idCol) === col("hub"))
          .drop("bsz", "hub")
      }
    nb.select(col(idCol).as("na"), col(hiCol).as("na_hi"),
        col(loCol).as("na_lo"), col("band"), col("band_key"))
      .join(targets.select(col(idCol).as("nb"), col(hiCol).as("nb_hi"),
        col(loCol).as("nb_lo"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"),
        graft.functions.VecBits.hamming(
          array(col("na_hi"), col("na_lo")),
          array(col("nb_hi"), col("nb_lo"))).as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  def hammingBandPairs(hashes: DataFrame, radius: Int, bands: Int = 8,
                       idCol: String = "doc_id",
                       hiCol: String = "ahash_hi", loCol: String = "ahash_lo",
                       maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(radius >= 0 && radius < bands,
      s"lossless guarantee needs radius < bands, got radius=$radius bands=$bands")
    val banded = hammingBandTable(hashes, bands, idCol, hiCol, loCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_key"))
    val sized =
      if (maxBucketSize == Int.MaxValue) banded.withColumn("bsz", lit(1L))
        .withColumn("hubrow", struct(lit(0L), lit(0L), lit(0L))) // never consulted
      else banded.withColumn("bsz", count(lit(1)).over(w))
        // struct-min orders on the leading id field, so hubrow carries the
        // minimal id TOGETHER with its hash halves in one window pass
        .withColumn("hubrow",
          min(struct(col(idCol), col(hiCol), col(loCol))).over(w))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val a = small.select(col(idCol).as("a"), col(hiCol).as("a_hi"),
      col(loCol).as("a_lo"), col("band"), col("band_key"))
    val b = small.select(col(idCol).as("b"), col(hiCol).as("b_hi"),
      col(loCol).as("b_lo"), col("band"), col("band_key"))
    val clique = a.join(b, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", graft.functions.VecBits.hamming(
        array(col("a_hi"), col("a_lo")), array(col("b_hi"), col("b_lo"))))
      .filter(col("hamming") <= radius)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
    if (maxBucketSize == Int.MaxValue) clique
    else {
      val star = sized.filter(col("bsz") > maxBucketSize &&
          col(idCol) =!= col("hubrow").getField(idCol))
        .select(col("hubrow").getField(idCol).as("a"), col(idCol).as("b"),
          col("hubrow").getField(hiCol).as("a_hi"),
          col("hubrow").getField(loCol).as("a_lo"),
          col(hiCol).as("b_hi"), col(loCol).as("b_lo"))
      // star edges are radius-verified too: an unverified edge could
      // falsely merge far clusters that share one band slice (see doc)
      val starPairs = star
        .withColumn("hamming", graft.functions.VecBits.hamming(
          array(col("a_hi"), col("a_lo")), array(col("b_hi"), col("b_lo"))))
        .filter(col("hamming") <= radius)
        .select(col("a"), col("b"), col("hamming"))
        .distinct()
      clique.unionByName(starPairs).distinct()
    }
  }

  /** Exact n-gram Jaccard similarity for pairs sharing at least one
    * shingle (inverted-index join; sparse). Returns pairs with
    * jaccard ≥ minJaccard.
    *
    * `maxShingleDf` caps the document frequency of shingles admitted to
    * the join: a single stop-shingle shared by 10⁵ docs would contribute
    * 10¹⁰ inverted-index join rows, so at corpus scale high-df shingles
    * must be dropped (standard practice, analogous to stopword removal).
    * Semantics with a cap: exact Jaccard over the capped shingle universe
    * — set sizes and intersections both exclude stop-level shingles, so
    * identical documents still score 1.0. Recall is lost only for pairs
    * whose ONLY shared shingles are stop-level, which are overwhelmingly
    * non-duplicates. Default (Int.MaxValue) disables the cap.
    *
    * INVARIANT: a supplied `statsIn` must be
    * `shinglePairStats(docs, shingleK, textCol, idCol, maxShingleDf)`
    * for THESE arguments — the other parameters are ignored when it is
    * given, and a table built with different ones is silently wrong. */
  def ngramJaccardPairs(docs: DataFrame, shingleK: Int = 3, minJaccard: Double = 0.2,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxShingleDf: Int = Int.MaxValue,
                        statsIn: Option[DataFrame] = None): DataFrame =
    statsIn.getOrElse(
        shinglePairStats(docs, shingleK, textCol, idCol, maxShingleDf))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))

  /** Asymmetric shingle containment — the near-dup measure Jaccard
    * misses: a short document quoted verbatim inside a long one has
    * containment(short in long) ≈ 1 while Jaccard ≈ |short|/|long| ≈ 0
    * (Broder 1997's "containment"; the measure behind quote/subset
    * dedup passes in pretraining pipelines). For every pair sharing ≥1
    * admitted shingle, emits both directions — cont_a = |A∩B|/|A|
    * (fraction of a's shingle set inside b's) and cont_b = |A∩B|/|B| —
    * keeping pairs where either direction reaches `minContainment`.
    *
    * Same inverted-index shape and shingle-df cap as
    * [[ngramJaccardPairs]] — sparse, never all-pairs; with a cap, both
    * set sizes and intersections are over the capped shingle universe,
    * so a full verbatim inclusion still scores 1.0.
    *
    * INVARIANT: a supplied `statsIn` must be
    * `shinglePairStats(docs, shingleK, textCol, idCol, maxShingleDf)`
    * for THESE arguments (see [[ngramJaccardPairs]]). */
  def containmentPairs(docs: DataFrame, shingleK: Int = 3,
                       minContainment: Double = 0.8,
                       textCol: String = "text", idCol: String = "doc_id",
                       maxShingleDf: Int = Int.MaxValue,
                       statsIn: Option[DataFrame] = None): DataFrame =
    statsIn.getOrElse(
        shinglePairStats(docs, shingleK, textCol, idCol, maxShingleDf))
      .withColumn("cont_a", round(col("inter").cast("double") / col("sza"), 4))
      .withColumn("cont_b", round(col("inter").cast("double") / col("szb"), 4))
      .filter(col("cont_a") >= minContainment || col("cont_b") >= minContainment)
      .select(col("a"), col("b"), col("cont_a"), col("cont_b"))

  /** EXACT threshold-Jaccard self-join over `docs`:
    * [[jaccardPrefixIncremental]] over an empty index, so every pair is
    * new×new and the plan is that probe's positional-filtered prefix
    * self-join plus verify (the history branches are pruned at plan
    * time). Returns (a, b, inter, sza, szb) with a < b. */
  def jaccardPrefixPairs(docs: DataFrame, shingleK: Int = 3,
                         tauNum: Int = 1, tauDen: Int = 5,
                         textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val (dfTab, docIndex) = jpEmptyIndex(docs, idCol)
    jaccardPrefixIncremental(docs, dfTab, docIndex, shingleK, tauNum,
      tauDen, textCol, idCol)
  }

  /** Persistable prefix-filter index for [[jaccardPrefixIncremental]]
    * — the day-2 ingest artifact (the exact-Jaccard analogue of
    * [[bandTable]]): [[jaccardPrefixIndexAppend]] of `docs` onto an
    * empty index. Per document its full sorted 60-bit shingle-hash set,
    * size, and τ-prefix; plus the corpus df table that DEFINES the
    * canonical token order the prefixes were ranked under. Persist
    * BOTH per corpus snapshot. Returns (dfTab: (h, df),
    * docIndex: (id, set, sz, prefix)). */
  def jaccardPrefixIndex(docs: DataFrame, shingleK: Int = 3,
                         tauNum: Int = 1, tauDen: Int = 5,
                         textCol: String = "text",
                         idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val (dfTab, docIndex) = jpEmptyIndex(docs, idCol)
    jaccardPrefixIndexAppend(docs, dfTab, docIndex, shingleK, tauNum,
      tauDen, textCol, idCol)
  }

  /** An empty (dfTab, docIndex) pair as local relations, with `docs`'
    * id type: Catalyst's PropagateEmptyRelation prunes every history
    * branch of a probe or append over it, leaving the batch plan. */
  private def jpEmptyIndex(docs: DataFrame,
                           idCol: String): (DataFrame, DataFrame) = {
    val hs = ArrayType(LongType)
    (emptyRelation(docs, "h" -> LongType, "df" -> LongType),
      emptyRelation(docs, idCol -> docs.select(col(idCol)).schema.head.dataType,
        "set" -> hs, "sz" -> LongType, "prefix" -> hs))
  }

  private def emptyRelation(like: DataFrame,
                            fields: (String, DataType)*): DataFrame =
    like.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** EXACT threshold-Jaccard similarity join via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo et al. 2007 "Scaling Up All Pairs
    * Similarity Search"; Xiao et al. 2008 PPJoin) — in its day-2 shape:
    * a NEW batch joins the persisted [[jaccardPrefixIndex]] (and itself)
    * WITHOUT touching the historical corpus. Emits exactly the verified
    * pairs a full-corpus run would emit that touch ≥ 1 new document
    * (a < b, (a, b, inter, sza, szb)); over an empty index that is every
    * pair of the batch ([[jaccardPrefixPairs]]).
    *
    * Unlike the shingle-df cap in [[ngramJaccardPairs]] (which trades
    * recall for boundedness), prefix filtering is LOSSLESS: with every
    * document's shingle set ordered by one global order, two sets with
    * J(A,B) ≥ τ MUST share a token in their first |X| − ⌈τ·|X|⌉ + 1
    * tokens, so the inverted index is built over prefixes only — and
    * rare-first ranking (document frequency ascending, hash ascending)
    * puts each set's RAREST tokens, the short posting lists, there.
    * Candidates are re-verified against the complete sets with the
    * integer cross-multiplication `tauDen·|A∩B| ≥ tauNum·(|A|+|B|−|A∩B|)`
    * (the threshold is the rational `tauNum/tauDen`) — no float
    * comparison anywhere, so the pair set is bit-identical across
    * engines.
    *
    * Losslessness under a FROZEN order: new docs rank their shingles by
    * the INDEX's df table; shingles the index has not seen rank by
    * their NEW-BATCH df. Any extension of the day-1 order is consistent
    * for every pair side — historical docs contain no unseen shingles,
    * so their persisted prefixes are unchanged under it, and all new
    * docs rank by the same extended key — and batch df (not 0) keeps a
    * novel boilerplate shingle viral in the batch out of the prefixes.
    * Over an empty index the order is the batch's own (df, hash) order.
    * The output is EXACT regardless of how the frozen order skews
    * prefix lengths. New-batch ids must be disjoint from index ids.
    *
    * Scale shape: shingles are HASHED to 60-bit longs at the scan
    * (md5Hash60 — replicable in any engine, so a collision is shared and
    * the result stays bit-identical; at 60 bits a corpus-wide collision
    * is ~10⁻⁸ even at 10⁸ distinct shingles). Then: a df aggregation,
    * two per-document windows (set size, rank), and one candidate join
    * on prefix rows (rare tokens → short posting lists; never
    * all-pairs) of the batch prefixes against the batch's and the
    * stored ones, whose condition splits in two:
    *  - new×new: the x < y cut and the PPJoin POSITIONAL FILTER (Xiao et al. 2008
    *    §3.2): both sides rank under the same order, so every shared
    *    token sits at rank ≥ the first shared token's rank in each set,
    *    hence inter ≤ min(sza − ra, szb − rb) + 1 there, and J ≥ τ needs
    *    inter·(τn+τd) ≥ τn·(sza+szb). The first shared token of a
    *    qualifying pair lies in both prefixes, so dropping generating
    *    rows that fail the bound is LOSSLESS; it prunes the
    *    near-threshold candidate mass before the verify join ships each
    *    pair's set payload (~700 GB at x100 without it, NOTES_r13);
    *  - new×history: any stored prefix row but the doc's own (stored
    *    prefixes carry no ranks, so no positional filter).
    * Verification joins each candidate to its two SORTED long-array
    * sets — one allocation-free merge
    * ([[graft.functions.SortedIntersectCount]]) per pair. Document sets
    * are row-bounded (a document's own size). All shuffles key on
    * shingle hash or doc id; no global ordering or driver state.
    * `jaccard_verify_batch_bytes` caps the verify payload in flight
    * (see [[graft.util.GraftConfig]]).
    *
    * Streaming shape: per-doc ranking needs a window, which streams
    * don't allow, so the deployed form is `foreachBatch` calling this
    * per micro-batch against the persisted index — the standard
    * micro-batched day-2 ingest decomposition (the LSH family's
    * band-key projection is window-free and so gets a native
    * stream-static path instead). */
  def jaccardPrefixIncremental(newDocs: DataFrame, dfTab: DataFrame,
                               docIndex: DataFrame, shingleK: Int = 3,
                               tauNum: Int = 1, tauDen: Int = 5,
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    val (sh, _, ranked) =
      jpRank(newDocs, dfTab, shingleK, tauNum, tauDen, textCol, idCol)
    val prefix = ranked.filter(col("in_prefix"))
      .select(col(idCol), col("h"), col("r"), col("sz"))
    // One candidate join of the batch prefixes against the stored and
    // the batch prefixes. Stored prefixes carry no ranks, so a null `r`
    // marks a new×history row, which pairs with any stored doc but its
    // own; a new×new row takes the x < y cut and the positional filter.
    // A new×history pair is only ever found as (new x, stored y), so
    // the distinct runs before the pair is put in a < b order. Over an
    // empty index this is a true self-join (renames above the shared
    // subtree), so the prefix scan+exchange canonicalizes identically
    // and runs once.
    val others = docIndex
      .select(col(idCol), explode(col("prefix")).as("h"),
        lit(null).cast("int").as("r"), lit(null).cast("long").as("sz"))
      .unionByName(prefix)
    val cand = prefix.as("x").join(others.as("y"),
        col("x.h") === col("y.h") &&
        (col("y.r").isNull && col(s"x.$idCol") =!= col(s"y.$idCol") ||
          col(s"x.$idCol") < col(s"y.$idCol") &&
          (least(col("x.sz") - col("x.r"), col("y.sz") - col("y.r")) + 1) *
            lit(tauNum + tauDen) >= (col("x.sz") + col("y.sz")) * lit(tauNum)))
      .select(col(s"x.$idCol").as("x"), col(s"y.$idCol").as("y"))
      .distinct()
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    val sets = docIndex.select(col(idCol), col("set"), col("sz"))
      .unionByName(sh.groupBy(col(idCol))
        .agg(sort_array(collect_list(col("h"))).as("set"),
          count(lit(1)).as("sz")))
    def verify(c: DataFrame, sets: DataFrame): DataFrame = c
      .join(sets.select(col(idCol).as("a"), col("set").as("set_a"),
        col("sz").as("sza")), Seq("a"))
      .join(sets.select(col(idCol).as("b"), col("set").as("set_b"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("inter", graft.functions.VecMath.sortedIntersectCount(
        col("set_a"), col("set_b")))
      .filter(col("inter") * tauDen >=
        (col("sza") + col("szb") - col("inter")) * tauNum)
      .select(col("a"), col("b"), col("inter"), col("sza"), col("szb"))
    val batchBytes = graft.util.GraftConfig
      .getOption("jaccard_verify_batch_bytes").asInstanceOf[Long]
    if (batchBytes <= 0L) verify(cand, sets)
    else {
      // PAYLOAD-CAPPED VERIFY (single-box escape hatch; see the config
      // key): the verify exchange carries each candidate pair's two
      // sorted-set arrays, ~pairs × (sz_a + sz_b) × 8 B. Partition
      // candidates by pair hash into the fewest batches that keep each
      // batch's payload under the budget and verify them SEQUENTIALLY;
      // each batch's result (verified pairs only — tiny) is
      // materialized before the next starts, so in-flight shuffle never
      // exceeds the budget. The union over batches is exactly
      // verify(cand) for any batch count (the hash partitions the
      // candidate set).
      val c = cand.localCheckpoint()
      val nPairs = c.count()
      val avgSz = sets.agg(avg(col("sz"))).head match {
        case row if row.isNullAt(0) => 0.0
        case row => row.getDouble(0)
      }
      val n = math.max(1L,
        math.ceil(nPairs * 2.0 * avgSz * 8.0 / batchBytes).toLong).toInt
      if (n == 1) verify(c, sets)
      else {
        val setsC = sets.localCheckpoint() // reused by every batch
        val parts = (0 until n).map { i =>
          val part = verify(c.filter(
            pmod(xxhash64(col("a"), col("b")), lit(n)) === i), setsC)
            .localCheckpoint() // materializes this batch's verification
          // the batch's verify-shuffle files are unreachable now;
          // ContextCleaner frees them on driver GC — nudge it so disk
          // is reclaimed BEFORE the next batch writes its own
          System.gc()
          part
        }
        parts.reduce(_.unionByName(_))
      }
    }
  }

  /** Absorb a (probed) batch into a persisted [[jaccardPrefixIndex]] —
    * the day-N maintenance step between [[jaccardPrefixIncremental]]
    * probes. Returns the grown (dfTab, docIndex):
    *  - batch documents rank their prefixes under the SAME order the
    *    incremental probe used (index df first, batch df for
    *    index-unseen shingles, hash tie-break), so the stored prefixes
    *    equal what the probe reasoned about;
    *  - dfTab extends with exactly the (shingle → batch df) entries
    *    that ranking used, so the NEXT batch ranks index-seen shingles
    *    by the same key this batch did.
    * Every (a, b) side of a future pair therefore shares a total order
    * — day-1↔day-N prefixes coexist consistently — which is the
    * losslessness precondition ([[jaccardPrefixIncremental]]'s scaladoc);
    * verification stays exact, so a probe against the appended index is
    * pair-set-identical to a probe against a from-scratch rebuild of
    * day-1 ∪ batch (the `jaccard_prefix_day3` oracle row pins this).
    * Batch ids must be disjoint from indexed ids. */
  def jaccardPrefixIndexAppend(batch: DataFrame, dfTab: DataFrame,
                               docIndex: DataFrame, shingleK: Int = 3,
                               tauNum: Int = 1, tauDen: Int = 5,
                               textCol: String = "text",
                               idCol: String = "doc_id")
      : (DataFrame, DataFrame) = {
    val (_, batchDf, ranked) =
      jpRank(batch, dfTab, shingleK, tauNum, tauDen, textCol, idCol)
    val batchIndex = ranked.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("h"))).as("set"),
        count(lit(1)).as("sz"),
        sort_array(collect_list(when(col("in_prefix"), col("h"))))
          .as("prefix"))
    val dfExt = dfTab.unionByName(
      batchDf.join(dfTab, Seq("h"), "left_anti")
        .select(col("h"), col("bdf").as("df")))
    (dfExt, docIndex.unionByName(batchIndex))
  }

  /** The probe's and the append's shared scan and ranking: distinct
    * (id, h) shingle hashes of `docs` (checkpointed — the df table,
    * the ranking and the set build all consume them), their batch df
    * `bdf`, and per (id, h) row the set size `sz`, the rank `r` under
    * the (index df, else batch df, hash) order and `in_prefix`: the
    * first |X| − ⌈τ|X|⌉ + 1 ranks, with ⌈p·sz/q⌉ as (p·sz+q−1) div q —
    * integer-exact, no binary-fraction ceil trap. */
  private def jpRank(docs: DataFrame, dfTab: DataFrame, shingleK: Int,
                     tauNum: Int, tauDen: Int, textCol: String,
                     idCol: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: $tauNum/$tauDen")
    val sh = Shingles.wordShingles(docs, shingleK, textCol, idCol)
      .select(col(idCol), TextOps.md5Hash60(col("shingle"), 0).as("h"))
      .distinct()
      .localCheckpoint()
    val batchDf = sh.groupBy(col("h")).agg(count(lit(1)).as("bdf"))
    val ranked = sh.join(dfTab, Seq("h"), "left")
      .join(batchDf, Seq("h"))
      .withColumn("df0", coalesce(col("df"), col("bdf")))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("r", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("df0"), col("h"))))
      .withColumn("in_prefix", col("r") <=
        col("sz") - expr(s"($tauNum * sz + ${tauDen - 1}) div $tauDen") + 1)
    (sh, batchDf, ranked)
  }

  /** (a, b, inter, sza, szb) for every doc pair sharing ≥ 1 admitted
    * shingle — the shared intermediate behind [[ngramJaccardPairs]] and
    * [[containmentPairs]]; compute once per corpus snapshot and pass via
    * their `statsIn` (same shared-artifact convention as minhash
    * signatures). The inverted-index pipeline: distinct (doc, shingle)
    * rows, the optional df cap, then the sparse self-join on the shingle
    * key, aggregated to one row per co-shingled pair (a < b) carrying
    * the intersection size and both set sizes.
    *
    * COLLISION BOUND (the counts are over 60-bit hashed shingles, not
    * strings — callers cannot see this from the signature): two distinct
    * shingles colliding inflates an intersection / deflates a set size
    * by 1. Expected colliding pairs ≈ n²/2⁶¹ for n distinct shingles
    * corpus-wide: ~4×10⁻⁷ at n = 10⁶ (sf0.1), ~0.05 at n = 10⁷·√20
    * ≈ 4.5×10⁷ (the x100 tiling), and reaches 1 expected collision only
    * near n ≈ 1.5×10⁹ distinct shingles (~peta-scale corpora). The
    * sf-scale oracle computes over strings, so a collision there would
    * fail the gate; past n ≈ 10⁹, switch the final pair-verify stage to
    * a 120-bit key (two md5Hash60 seeds) — the exchanges stay narrow
    * either way. */
  def shinglePairStats(docs: DataFrame, shingleK: Int,
                       textCol: String, idCol: String,
                       maxShingleDf: Int): DataFrame = {
    // 60-bit hashed shingles (md5Hash60, same construction as the
    // jaccard_prefix family): every downstream exchange — the distinct,
    // the df cap, the doc-size window, and the inverted-index self-join —
    // carries an 8-byte long instead of a ~20-40 byte string, and the
    // join compares integers (guide §2.3 "narrower types"). Set sizes and
    // intersections count hashed-distinct shingles, identical to
    // string-distinct counts absent a 60-bit collision (~n²/2⁶¹; the
    // oracle computes over strings, so the gate would catch one).
    val sh = Shingles.wordShingles(docs, shingleK, textCol, idCol)
      .select(col(idCol), TextOps.md5Hash60(col("shingle"), 0).as("shingle"))
      .distinct()
    val kept =
      if (maxShingleDf == Int.MaxValue) sh
      else sh.join(
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf).select(col("shingle")),
        Seq("shingle"), "leftsemi")
    // set sizes ride along on each shingle row (one window over doc_id)
    // instead of a separate aggregate pipeline: the self-join's two sides
    // then share an identical subtree — ONE scan + exchange, reused — and
    // the pair aggregation picks sizes up via first(), so no join back
    val withSz = kept.withColumn("sz",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))))
    // true self-join (renames above it, not below) so both sides
    // canonicalize identically and the scan+shuffle is reused
    val joined = withSz.as("x").join(withSz.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        col("x.sz").as("sza"), col("y.sz").as("szb"))
    joined
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"),
        first(col("sza")).as("sza"), first(col("szb")).as("szb"))
  }

  /** Duplicated-span detection — the audit stage of exact substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", reformulated for fixed-k spans instead of a suffix array): a
    * span is k consecutive tokens; a span position is *duplicated* when
    * the same k-token sequence also occurs in at least one OTHER document.
    * Returns one row per document with its span count, duplicated-span
    * count, and the duplicated fraction — the table a span-removal or
    * doc-drop policy consumes downstream.
    *
    * Scale shape: ONE corpus scan — spans explode scan-locally, collapse
    * to per-(doc, span) counts (map-side combine), the cross-document
    * doc-count rides a window over the span key (rows are one-per-doc
    * per span at that point, so a plain COUNT is the distinct-doc
    * count), and one final per-doc aggregation. Three hash exchanges,
    * linear in corpus spans, no self-join and no all-pairs stage at any
    * scale. */
  def duplicatedSpans(docs: DataFrame, shingleK: Int = 3,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val perDocSpan = Shingles.wordShingles(docs, shingleK, textCol, idCol)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("cnt"))
    val ndocs = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shingle")))
    perDocSpan.withColumn("ndocs", ndocs)
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("ndocs") >= 2, col("cnt")).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Maximal duplicated REGIONS — the actual removal target of exact
    * substring dedup (Lee et al. 2022 remove each *maximal* duplicated
    * substring, not isolated fixed-k windows): overlapping/adjacent
    * duplicated span positions merge into one region, so "50 duplicated
    * 3-gram positions" collapses to e.g. "one 52-token boilerplate
    * block" — the unit a rewrite pass would actually cut. A position i
    * is duplicated when tokens [i, i+k-1] occur in ≥ 2 distinct docs
    * (same cross-doc rule as [[duplicatedSpans]]); regions are the
    * interval union of those token ranges via the gaps-and-islands
    * scan (new island when the next duplicated position starts after
    * the previous span's end + 1).
    *
    * Returns one row per document that has ≥ 1 duplicated region:
    * region count, total duplicated tokens, and the longest region.
    *
    * Scale shape: positional spans explode scan-locally; the dup-span
    * set is a keyed equi-join against the (distinct-doc-count ≥ 2)
    * span table; island numbering is a window PARTITIONED BY doc —
    * per-doc state only, never a global window. Linear in corpus
    * spans. */
  def maximalDupSpans(docs: DataFrame, shingleK: Int = 3,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    dupRegions(docs, shingleK, textCol, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_regions"),
        sum(col("__en") - col("__st") + 1).as("dup_tokens"),
        max(col("__en") - col("__st") + 1).as("max_region"))

  /** Maximal duplicated token regions per doc as (id, __st, __en),
    * 1-based inclusive token positions; regions within a doc are
    * disjoint by construction (shared by [[maximalDupSpans]] and
    * [[dupSpansRemoved]]). */
  private def dupRegions(docs: DataFrame, shingleK: Int, textCol: String,
                         idCol: String): DataFrame = {
    val pos = Shingles.wordShinglesPos(docs, shingleK, textCol, idCol)
    val dupShingles = pos.select(col(idCol), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("shingle"))
    regionsFromPositions(
      pos.join(dupShingles, Seq("shingle")).select(col(idCol), col("pos")),
      shingleK, idCol)
  }

  /** Gaps-and-islands merge of duplicated shingle start positions into
    * maximal (id, __st, __en) token regions — the doc-keyed window the
    * batch and day-2 region paths share. */
  private def regionsFromPositions(dup: DataFrame, shingleK: Int,
                                   idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val isl = dup
      .withColumn("__ni",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + shingleK, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).cast("long").as("__st"),
        (max(col("pos")) + (shingleK - 1)).cast("long").as("__en"))
  }

  /** Exact-substring dedup, REMOVAL stage (Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr): drop every token covered by a maximal cross-document
    * duplicated region ([[maximalDupSpans]]) and rebuild the cleaned
    * text. All occurrences are removed — the published design; pair
    * with a retention policy upstream if one copy should survive.
    *
    * Returns one row per document:
    * (id, n_tokens, n_kept, n_removed, clean_hash) where clean_hash is
    * the md5 of the space-joined surviving tokens (NULL when the whole
    * document is duplicated away) — the hash keeps the verified payload
    * compact while still pinning the rebuilt text byte-for-byte.
    *
    * Scale shape: the region/coverage join is an anti-join keyed on the
    * doc id with a per-doc range predicate (regions are disjoint and
    * few per doc); the rebuild is a doc-keyed aggregation of (pos,
    * token) structs. No corpus-wide window, no driver state. */
  def dupSpansRemoved(docs: DataFrame, shingleK: Int = 3,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    removeRegions(docs, dupRegions(docs, shingleK, textCol, idCol),
      textCol, idCol)

  /** Cut every token covered by a (id, __st, __en) region and rebuild —
    * the removal/rebuild tail [[dupSpansRemoved]] and
    * [[dupSpansRemovedIncremental]] share. */
  private def removeRegions(docs: DataFrame, regions: DataFrame,
                            textCol: String, idCol: String): DataFrame = {
    val reg = regions.select(col(idCol).as("__rid"), col("__st"), col("__en"))
    val toks = docs.select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__pos"),
        col("__tok"))
    val totals = toks.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"))
    val kept = toks.join(reg,
      toks(idCol) === col("__rid") &&
        col("__pos").between(col("__st"), col("__en")), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s("__tok")))).as("clean_hash"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        col("clean_hash"))
  }

  /** Day-1 index for [[dupSpansRemovedIncremental]]: the corpus's
    * DISTINCT shingle set — persist it once, clean every future batch
    * against it. The SET is sufficient state (no counts needed): a
    * new-batch position is duplicated in the full-rerun sense iff its
    * shingle already exists in history (history occurrence + the new
    * doc ⇒ ≥ 2 distinct docs) OR ≥ 2 distinct new docs contain it. */
  def shingleIndex(docs: DataFrame, shingleK: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame =
    Shingles.wordShinglesPos(docs, shingleK, textCol, idCol)
      .select(col("shingle")).distinct()

  /** Day-2 exact-substring removal: clean ONLY the new batch against a
    * persisted [[shingleIndex]] of history — the deployed shape (CCNet
    * and friends clean each incoming shard against a frozen hash set;
    * history is never re-tokenized). For the new docs the result EQUALS
    * the full rerun over history ∪ batch restricted to the batch (see
    * [[shingleIndex]] for why the set suffices), which is exactly what
    * the driver oracle checks. Scale shape: one leftsemi join against
    * the index + one batch-local df aggregation; everything else is the
    * doc-keyed region/rebuild tail shared with the batch path. */
  def dupSpansRemovedIncremental(newDocs: DataFrame, index: DataFrame,
                                 shingleK: Int = 3,
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 withinBatch: Boolean = true): DataFrame = {
    val pos = Shingles.wordShinglesPos(newDocs, shingleK, textCol, idCol)
      .localCheckpoint() // three consumers below
    val inHist = pos.join(index, Seq("shingle"), "leftsemi")
      .select(col(idCol), col("pos"))
    // withinBatch=false cleans against HISTORY only — the streaming
    // twin's contract ([[graft.streaming.StreamingOps.cleanAgainstIndex]]):
    // batch-internal duplication defers to the next index refresh
    val dupPos = (if (withinBatch) {
      val dupNew = pos.select(col(idCol), col("shingle")).distinct()
        .groupBy(col("shingle")).agg(count(lit(1)).as("__nd"))
        .filter(col("__nd") >= 2).select(col("shingle"))
      inHist.unionByName(
        pos.join(dupNew, Seq("shingle")).select(col(idCol), col("pos")))
    } else inHist).distinct()
    removeRegions(newDocs,
      regionsFromPositions(dupPos, shingleK, idCol), textCol, idCol)
  }

  /** Longest shared token span per candidate pair — the alignment stage
    * after near-dup detection: LSH says "these two documents overlap";
    * this says HOW MUCH, exactly — the length of the longest contiguous
    * token run the two sides share, the quantity a quote-vs-clone or
    * plagiarism-extent policy thresholds on. Classic diagonal-run
    * formulation of longest common substring restricted to candidate
    * pairs: matched k-shingle positions (posA, posB) lie on diagonal
    * d = posA − posB; a run of consecutive positions on one diagonal of
    * length r is a shared span of r + k − 1 tokens.
    *
    * Scale shape: the positional-shingle join is keyed on (doc, shingle)
    * and fans out only over the CANDIDATE pairs (LSH-bounded, never
    * all-pairs); run detection is a gaps-and-islands window partitioned
    * by (pair, diagonal) — per-pair state only. Returns
    * (a, b, max_span, n_matches). */
  def pairMaxSharedSpan(pairs: DataFrame, docs: DataFrame,
                        shingleK: Int = 3, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // three consumers of the candidate pairs (node prune, a-side join,
    // b-side join) and two of the positional table — truncate both
    // lineages once instead of re-running the generator per consumer
    val p = pairs.select(col("a"), col("b")).localCheckpoint()
    // tokenize/explode ONLY the docs that appear in a candidate pair —
    // candidates touch a small fraction of the corpus, so the semi-join
    // prune keeps the positional explode (the dominant cost) candidate-
    // sized instead of corpus-sized
    val nodes = p.select(col("a").as(idCol))
      .union(p.select(col("b").as(idCol))).distinct()
    val pos = Shingles.wordShinglesPos(
        docs.join(nodes, Seq(idCol), "leftsemi"), shingleK, textCol, idCol)
      .localCheckpoint()
    val m = p
      .join(pos.select(col(idCol).as("a"), col("pos").as("pa"),
        col("shingle")), Seq("a"))
      .join(pos.select(col(idCol).as("b"), col("pos").as("pb"),
        col("shingle")), Seq("b", "shingle"))
      .select(col("a"), col("b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val w = Window.partitionBy(col("a"), col("b"), col("diag"))
      .orderBy(col("pa"))
    val runs = m
      .withColumn("__ni",
        when(lag(col("pa"), 1).over(w).isNull ||
          col("pa") > lag(col("pa"), 1).over(w) + 1, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("a"), col("b"), col("diag"), col("__isl"))
      .agg(count(lit(1)).as("__run"))
    val spans = runs.groupBy(col("a"), col("b"))
      .agg((max(col("__run")) + (shingleK - 1)).as("max_span"))
    val stats = m.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_matches"))
    spans.join(stats, Seq("a", "b"))
  }

  /** SoftDeDup document downweighting (He et al. 2024): instead of
    * DELETING near-duplicates, score how COMMON each document's content
    * is — the mean document-frequency of its distinct shingles — and
    * emit a sampling weight ∝ 1/commonness. Training then sees duplicated
    * content less often without the hard in-or-out cliff of exact dedup;
    * the standard soft alternative when a corpus is too small to discard
    * from. All integer: mean df and the reciprocal weight in micro-units
    * by integral division, engine-exact.
    *
    * Scale shape: same inverted-index plan as [[duplicatedSpans]] — the
    * df window partitions on the shingle key after a per-doc distinct;
    * the shuffle carries one row per (doc, distinct shingle). */
  def softDedupWeights(docs: DataFrame, shingleK: Int = 3,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val dsh = Shingles.wordShingles(docs, shingleK, textCol, idCol).distinct()
    val df = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shingle")))
    dsh.withColumn("df", df)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("sum_df"))
      .withColumn("mean_df_micro", expr("sum_df * 1000000 div n_shingles"))
      .withColumn("weight_micro", expr("1000000000000 div mean_df_micro"))
  }

  /** Per-source boilerplate detection — the header/footer signal: tiles
    * (non-overlapping k-word blocks, as in [[removeDuplicateTiles]])
    * that appear in at least `minShare` micro-share of a SOURCE's
    * documents are template text, not content — remove them per-source
    * where cross-corpus tile dedup would wrongly keep one canonical
    * copy of every site's navigation bar. Plan: tile explode → distinct
    * (source, tile, doc) → per-(source, tile) doc counts joined with
    * broadcast per-source doc totals — keyed aggregations only. */
  def boilerplateTiles(docs: DataFrame, k: Int = 5,
                       minShareMicro: Long = 300000L,
                       srcCol: String = "source", textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val tiles = docs
      .select(col(srcCol), col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(srcCol), col(idCol),
        explode(sequence(lit(0),
          expr(s"(size(toks) + ${k - 1}) div $k").cast("int") - 1)).as("i"),
        col("toks"))
      .select(col(srcCol), col(idCol),
        concat_ws(" ", slice(col("toks"), col("i") * k + 1, lit(k))).as("tile"))
      .distinct()
    val perSource = docs.groupBy(col(srcCol))
      .agg(countDistinct(col(idCol)).as("src_docs"))
    tiles.groupBy(col(srcCol), col("tile"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(perSource), Seq(srcCol))
      .withColumn("share_micro", expr("n_docs * 1000000 div src_docs"))
      .filter(col("share_micro") >= minShareMicro)
      .select(col(srcCol), col("tile"), col("n_docs"), col("share_micro"))
  }

  /** Duplicate-text REMOVAL at tile granularity — the C4/RefinedWeb
    * curation move (drop any repeated span from the corpus, keep one
    * canonical occurrence) as opposed to [[duplicatedSpans]], which only
    * AUDITS duplication. Documents are cut into NON-overlapping k-word
    * tiles (the removal unit: overlapping shingles can't be removed
    * independently); a tile instance is dropped iff its text occurs in
    * ≥ `minDocs` distinct docs AND it is not the corpus-wide canonical
    * occurrence (minimum (doc, position), kept so shared text survives
    * exactly once).
    *
    * Plan shape: tile explode (one scan) → per-tile-hash stats (one
    * keyed agg: distinct-doc count + canonical key) → join back on the
    * 32-hex tile hash (tile TEXT never shuffles twice) → per-doc
    * reassembly agg. Three keyed exchanges, no window over the corpus,
    * map-side combinable throughout. The canonical key packs
    * (doc_id·10⁶ + tile_idx) into one BIGINT — valid while docs stay
    * under 10⁶ tiles (= 5·10⁶ words at k=5); beyond that widen the
    * packing, don't switch to a struct MIN (engines disagree on struct
    * comparison).
    *
    * Returns per doc: tile counts, removed count, surviving word count,
    * and the md5 of the reassembled (kept tiles in order) text — a
    * compact equality witness for the rewritten corpus. */
  def removeDuplicateTiles(docs: DataFrame, k: Int = 5, minDocs: Int = 2,
                           textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame = {
    val tiles = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0),
          expr(s"(size(toks) + ${k - 1}) div $k").cast("int") - 1)).as("idx"))
      .select(col(idCol), col("idx"),
        concat_ws(" ", slice(col("toks"), col("idx") * k + 1, lit(k))).as("tile"),
        least(lit(k), size(col("toks")) - col("idx") * k).as("nw"),
        (col(idCol) * 1000000L + col("idx")).as("okey"))
    val keyed = tiles.withColumn("tkey", md5(col("tile")))
    val stats = keyed.groupBy(col("tkey"))
      .agg(countDistinct(col(idCol)).as("nd"), min(col("okey")).as("canon"))
    keyed.join(stats, Seq("tkey"))
      .withColumn("keep", col("nd") < minDocs || col("okey") === col("canon"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        sum(when(col("keep"), col("nw")).otherwise(0L)).cast("long")
          .as("kept_words"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("tile"))))),
          x => x.getField("tile")))).as("kept_md5"))
  }

  /** EXACT threshold EDIT-DISTANCE self-join over `docs`:
    * [[editDistanceIncremental]] over an empty index, so every pair is
    * new×new (the `s1 < s2` cut) and the history branches are pruned at
    * plan time. Returns (a, b, dist ≤ maxDist) with a < b. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 2, q: Int = 2,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val (dfTab, strIndex, idMap) = edEmptyIndex(docs, textCol, idCol)
    edIncr(docs, dfTab, strIndex, idMap, self = true, maxDist, q,
      textCol, idCol)
  }

  /** Cross-table twin of [[editDistancePairs]] — record LINKAGE of a
    * noisy table against a canonical one (left id in `a`, right id in
    * `b`, every pair within `maxDist`):
    * [[editDistanceLinkIncremental]] of `left` against the
    * [[editDistanceIndex]] of `right`. Ids need not be disjoint across
    * tables (no self-pair filter applies). */
  def editDistanceLink(left: DataFrame, right: DataFrame, maxDist: Int = 2,
                       q: Int = 2, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val (dfTab, strIndex, idMap) =
      editDistanceIndex(right, maxDist, q, textCol, idCol)
    edIncr(left, dfTab, strIndex, idMap, self = false, maxDist, q,
      textCol, idCol)
  }

  /** Persistable prefix index for the edit-distance family — the day-2
    * ingest artifact (the Ed-Join analogue of [[jaccardPrefixIndex]]):
    * [[editDistanceIndexAppend]] of `docs` onto an empty index. The
    * triple (dfTab, strIndex, idMap) over one corpus snapshot, where
    *  - `dfTab` (g, k, df) is the occurrence-tagged q-gram frequency
    *    table that FREEZES the rare-first prefix order,
    *  - `strIndex` (s, len, prefix) keeps per DISTINCT string its first
    *    q·maxDist+1 tagged grams under that order (empty for strings
    *    shorter than q — those pair only through the short bucket), and
    *  - `idMap` (id, s) is the column-pruned multiplicity table for the
    *    final output expansion.
    * Persist all three per corpus snapshot;
    * [[editDistanceIncremental]] / [[editDistanceLinkIncremental]] then
    * match a new batch against them without re-gramming one historical
    * string. The index is parameterized by (maxDist, q) — probe with
    * the same values it was built with (prefix length is q·maxDist+1
    * and the short-bucket boundary is q·(maxDist+1)). */
  def editDistanceIndex(docs: DataFrame, maxDist: Int = 2, q: Int = 2,
                        textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame, DataFrame) = {
    val (dfTab, strIndex, idMap) = edEmptyIndex(docs, textCol, idCol)
    editDistanceIndexAppend(docs, dfTab, strIndex, idMap, maxDist, q,
      textCol, idCol)
  }

  /** An empty (dfTab, strIndex, idMap) triple as local relations, with
    * `docs`' id and text types (see [[jpEmptyIndex]]). */
  private def edEmptyIndex(docs: DataFrame, textCol: String,
                           idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val sType = docs.select(col(textCol)).schema.head.dataType
    (emptyRelation(docs, "g" -> StringType, "k" -> LongType,
        "df" -> LongType),
      emptyRelation(docs, "s" -> sType, "len" -> IntegerType,
        "prefix" -> ArrayType(StructType(Seq(StructField("g", StringType),
          StructField("k", LongType))))),
      emptyRelation(docs,
        "id" -> docs.select(col(idCol)).schema.head.dataType, "s" -> sType))
  }

  /** Absorb a (probed) batch into a persisted [[editDistanceIndex]] —
    * the day-N maintenance step of the Ed-Join family, the exact twin of
    * [[jaccardPrefixIndexAppend]] over occurrence-tagged q-grams:
    * batch strings rank their prefixes under (index df, batch df for
    * index-unseen (g, k), gram tie-break) — the same order the
    * incremental probe used — and dfTab extends with exactly those
    * batch-df entries, so future batches share a total order with every
    * indexed string. Batch strings already present in the index keep
    * their day-1 entry (their grams are all index-seen, so the old
    * prefix is ranked identically under the extension); `idMap` gains
    * the new ids either way. Probe-after-append is pair-set-identical
    * to a rebuild over day-1 ∪ batch (the `fuzzy_exact_day3` oracle row
    * pins this). Batch ids must be disjoint from indexed ids. */
  def editDistanceIndexAppend(batch: DataFrame, dfTab: DataFrame,
                              strIndex: DataFrame, idMap: DataFrame,
                              maxDist: Int = 2, q: Int = 2,
                              textCol: String = "text",
                              idCol: String = "doc_id")
      : (DataFrame, DataFrame, DataFrame) = {
    val (base, ds, batchDf, pref) =
      edRank(batch, dfTab, maxDist, q, textCol, idCol)
    // a string shorter than q has no grams: an empty prefix
    val strNew = ds
      .join(strIndex.select(col("s")), Seq("s"), "left_anti")
      .join(pref.groupBy(col("s")).agg(
        sort_array(collect_list(struct(col("g"), col("k")))).as("prefix")),
        Seq("s"), "left")
      .select(col("s"), col("len"),
        coalesce(col("prefix"),
          expr("CAST(array() AS array<struct<g: string, k: bigint>>)"))
          .as("prefix"))
    val dfExt = dfTab.unionByName(
      batchDf.join(dfTab, Seq("g", "k"), "left_anti")
        .select(col("g"), col("k"), col("bdf").as("df")))
    (dfExt, strIndex.unionByName(strNew),
      idMap.unionByName(base.select(col("id"), col("s"))))
  }

  /** EXACT threshold EDIT-DISTANCE join in its day-2 shape — a NEW
    * batch joins the persisted [[editDistanceIndex]] (and itself)
    * WITHOUT touching the historical corpus (fuzzy dedup / entity
    * resolution over names, titles, and other short strings). Emits
    * exactly the pairs a full-corpus self-join over history ∪ batch
    * would emit that touch ≥ 1 new id (same (a, b, dist) schema,
    * a < b); over an empty index that is every pair of the batch
    * ([[editDistancePairs]]).
    *
    * q-gram count bound (Gravano et al., VLDB 2001) + PREFIX-FILTERED
    * candidate generation (Ed-Join, Xiao et al., VLDB 2008). One edit
    * operation destroys at most `q` of a string's |s|−q+1 q-grams —
    * the rest survive as a BAG (shifts move positions, not contents) —
    * so ed(s,t) ≤ d implies the q-gram bags share
    * ≥ max(|s|,|t|)−q+1−q·d grams, and |len(s)−len(t)| ≤ d is
    * necessary.
    *
    * Candidate generation does NOT join on every gram (an inverted
    * index over raw q-grams melts down on skewed gram distributions:
    * formulaic names share hot grams, so a hot gram's posting list
    * cross-multiplies — measured 10⁹+ joined rows on 20 k TPC-H part
    * names). Instead, the q-gram bag becomes a SET of occurrence-tagged
    * grams ((g, k) for the k-th occurrence of g — bag intersection =
    * tagged-set intersection), every string keeps only its first
    * q·d+1 tagged grams under one shared (df, gram) order (rare grams
    * first), and candidates join on PREFIX grams only. Lossless by the
    * standard prefix-filter principle: a qualifying pair shares
    * ≥ t = max(la,lb)−q+1−q·d ≥ 1 tagged grams, and each side's first
    * n−t+1 ≤ q·d+1 grams must then contain a shared one. The df order
    * is a performance choice only — ANY shared total order keeps the
    * filter lossless, but rare-first makes prefix posting lists short.
    *
    * The FROZEN order: new strings rank their tagged grams by the
    * index's df table, grams unseen on day 1 by their BATCH df (any
    * extension of the day-1 order is consistent for every pair side —
    * historical strings contain no unseen grams, so their persisted
    * prefixes are unchanged under the extension, and all new strings
    * rank by the same extended key). The prefix length q·maxDist+1 is
    * size-independent, so the bound needs no rescaling.
    *
    * Candidates come from one join of the batch against the stored
    * strings and (self-join) the batch's own, whose condition splits in
    * two: new×new pairs under the `s1 < s2` cut, new×history pairs under
    * `s1 ≠ s2` (link: any pair). Pairs where BOTH sides are shorter than
    * q·(d+1) chars (the bound can vanish there) come from a separate
    * length-keyed short-bucket join (≤ q·(d+1) distinct lengths; a
    * string shorter than q has no grams at all — only the short bucket
    * can hold it). Candidates are verified with the built-in banded-DP
    * `levenshtein(a, b, maxDist)`, so the result EQUALS the brute-force
    * join (the oracle checks it as one). Batch ids must be disjoint
    * from index ids.
    *
    * Scale shape: shuffles key on tagged gram, length, or string; the
    * candidate join touches q·d+1 grams per string, each rare by
    * construction of the order, and the historical corpus contributes
    * only posting-list lookups of its persisted prefixes. No driver
    * state.
    *
    * Streaming shape: the per-string prefix ranking needs a window,
    * which streams don't allow, so the deployed form is `foreachBatch`
    * calling this per micro-batch against the persisted index — the
    * same micro-batched day-2 decomposition as
    * [[jaccardPrefixIncremental]] (spec-driven end to end). */
  def editDistanceIncremental(newDocs: DataFrame, dfTab: DataFrame,
                              strIndex: DataFrame, idMap: DataFrame,
                              maxDist: Int = 2, q: Int = 2,
                              textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame =
    edIncr(newDocs, dfTab, strIndex, idMap, self = true, maxDist, q,
      textCol, idCol)

  /** Day-2 record LINKAGE against a frozen canonical table — the
    * cross-table twin of [[editDistanceIncremental]]: each new noisy
    * batch links against the persisted [[editDistanceIndex]] of the
    * canonical side. Equals [[editDistanceLink]](batch, canonical)
    * exactly (left id in `a`, right id in `b`; ids need not be
    * disjoint, no self-pair filter) — batch↔batch pairs are
    * intentionally NOT emitted, matching link semantics. */
  def editDistanceLinkIncremental(newLeft: DataFrame, dfTab: DataFrame,
                                  strIndex: DataFrame, idMap: DataFrame,
                                  maxDist: Int = 2, q: Int = 2,
                                  textCol: String = "text",
                                  idCol: String = "doc_id"): DataFrame =
    edIncr(newLeft, dfTab, strIndex, idMap, self = false, maxDist, q,
      textCol, idCol)

  /** The one edit-distance probe behind all four joins (see
    * [[editDistanceIncremental]]): candidates (new×new when `self`, and
    * new×history), banded-DP verification over canonical distinct
    * string pairs, then the output-sized id expansion. */
  private def edIncr(newDocs: DataFrame, dfTab: DataFrame,
                     strIndex: DataFrame, idMap: DataFrame, self: Boolean,
                     maxDist: Int, q: Int, textCol: String,
                     idCol: String): DataFrame = {
    val minLong = q * (maxDist + 1) // longer side >= this  =>  bound >= 1
    val (baseN, dsN, _, prefN) =
      edRank(newDocs, dfTab, maxDist, q, textCol, idCol)
    val prefH = strIndex
      .select(col("s"), col("len"), explode(col("prefix")).as("gk"))
      .select(col("s"), col("len"),
        col("gk.g").as("g"), col("gk.k").as("k"))
    val shortN = dsN.filter(col("len") < minLong)
    val shortH = strIndex.select(col("s"), col("len"))
      .filter(col("len") < minLong)
    // The y side of both candidate joins: the indexed strings, plus the
    // batch's own when self-joining (`new` tells them apart). A batch y
    // pairs under the s1 < s2 cut (new×new) and keeps its order; an
    // indexed y pairs under s1 ≠ s2 (new×history; link: any) and is put
    // in canonical order. A long pair shares several prefix grams, so
    // the long candidates take a distinct; a short pair is found once,
    // so the short bucket leaves out an indexed string that is also in
    // the batch (their pair is new×new).
    def tag(df: DataFrame, isNew: Boolean) = df.withColumn("new", lit(isNew))
    val (prefY, shortY) =
      if (self) (tag(prefH, false).unionByName(tag(prefN, true)),
        tag(shortH.join(shortN.select(col("s")), Seq("s"), "left_anti"),
          false).unionByName(tag(shortN, true)))
      else (tag(prefH, false), tag(shortH, false))
    val cut =
      if (self) when(col("new"), col("s1") < col("s2"))
        .otherwise(col("s1") =!= col("s2"))
      else lit(true)
    def ordered(pairs: DataFrame): DataFrame =
      if (self) pairs.select(
        when(col("new"), col("s1")).otherwise(least(col("s1"), col("s2")))
          .as("s1"),
        when(col("new"), col("s2")).otherwise(greatest(col("s1"), col("s2")))
          .as("s2"))
      else pairs.select(col("s1"), col("s2"))
    val longCand = ordered(prefN
      .select(col("s").as("s1"), col("len").as("l1"), col("g"), col("k"))
      .join(prefY.select(col("s").as("s2"), col("len").as("l2"),
        col("g"), col("k"), col("new")), Seq("g", "k"))
      .filter(cut &&
        abs(col("l1") - col("l2")) <= maxDist &&
        greatest(col("l1"), col("l2")) >= minLong)).distinct()
    // Short bucket: both sides < q·(d+1) chars — the count bound can
    // vanish there, so key the join on candidate length instead. The
    // bucket spans ≤ q·(d+1) distinct lengths and |l1−l2| ≤ d still
    // prunes; disjoint from the gram path by the maxlen split.
    val shortCand = ordered(shortN
      .select(col("s").as("s1"), col("len").as("l1"))
      .withColumn("l2",
        explode(sequence(col("l1") - maxDist, col("l1") + maxDist)))
      .join(shortY.select(col("s").as("s2"), col("len").as("l2"),
        col("new")), Seq("l2"))
      .filter(cut))
    val cand = longCand.unionByName(shortCand)
    val verified = cand
      .withColumn("dist", levenshtein(col("s1"), col("s2"), maxDist))
      .filter(col("dist") >= 0)
    // output expansion: multiplicity join back to ids — output-sized
    // work, keyed on the string
    if (self) {
      // equal strings are distance-0 pairs surfaced purely through id
      // multiplicity (singletons die in the x<y cut)
      val strPairs = verified.unionByName(dsN.select(col("s").as("s1"),
        col("s").as("s2"), lit(0).as("dist")))
      val iAll = idMap
        .select(col("id").as("x"), col("s").as("s1"), lit(false).as("nx"))
        .unionByName(baseN.select(col("id").as("x"), col("s").as("s1"),
          lit(true).as("nx")))
      strPairs.join(iAll, Seq("s1"))
        .join(iAll.select(col("x").as("y"), col("s1").as("s2"),
          col("nx").as("ny")), Seq("s2"))
        .filter((col("s1") < col("s2") || col("x") < col("y")) &&
          (col("nx") || col("ny")))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"), col("dist"))
    } else {
      verified
        .join(baseN.select(col("id").as("a"), col("s").as("s1")), Seq("s1"))
        .join(idMap.select(col("id").as("b"), col("s").as("s2")), Seq("s2"))
        .select(col("a"), col("b"), col("dist"))
    }
  }

  /** The probe's and the append's shared scan and ranking: the
    * (id, s, len) base of `docs`, its DISTINCT (s, len) strings
    * (checkpointed), the batch df `bdf` of every occurrence-tagged
    * gram, and each string's first q·maxDist+1 tagged grams (s, len,
    * g, k) under the (index df, else batch df, gram) order.
    *
    * ALL pairwise machinery runs over DISTINCT strings — the 100 TB
    * shape: a short-string column has far fewer distinct values than
    * rows (64 vs 20 000 on the TPC-H-ish part names), and an id-level
    * formulation pays the full quadratic id fan-out inside the FILTER
    * stages; the distinct-string formulation confines it to the
    * unavoidable output expansion at the very end. */
  private def edRank(docs: DataFrame, dfTab: DataFrame, maxDist: Int,
                     q: Int, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist >= 1,
      s"maxDist must be >= 1, got $maxDist (use exact() for 0)")
    require(q >= 1, s"q must be >= 1, got $q")
    val base = docs.select(col(idCol).as("id"), col(textCol).as("s"))
      .withColumn("len", length(col("s")))
    val ds = base.select(col("s"), col("len")).distinct().localCheckpoint()
    // occurrence-tagged grams: the k-th occurrence of g is element
    // (g, k), so bag intersection = tagged-SET intersection
    val tagged = ds.filter(col("len") >= q)
      .select(col("s"), col("len"), explode(expr(
        s"transform(sequence(1, len - ${q - 1}), i -> substr(s, i, $q))"))
        .as("g"))
      .groupBy(col("s"), col("len"), col("g")).agg(count(lit(1)).as("cnt"))
      .select(col("s"), col("len"), col("g"),
        explode(expr("sequence(1, cnt)")).as("k"))
    val batchDf = tagged.groupBy(col("g"), col("k"))
      .agg(count(lit(1)).as("bdf"))
    val pref = tagged
      .join(dfTab.select(col("g"), col("k"), col("df")), Seq("g", "k"), "left")
      .join(batchDf, Seq("g", "k"))
      .withColumn("df0", coalesce(col("df"), col("bdf")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("df0"), col("g"), col("k"))))
      .filter(col("__rn") <= q * maxDist + 1)
      .select(col("s"), col("len"), col("g"), col("k"))
    (base, ds, batchDf, pref)
  }
}
