package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analysis.{AsOfJoin, CommOps, Profiles, Sessionize, SkewJoin, TimeProfile}
import graft.cct.Cct
import graft.demo.TraceGen
import graft.enrich.{EventMatcher, Metrics}
import graft.model.Schemas._
import graft.scale.{Bitext, Curation, Dedup, Multimodal, Similarity, TextOps}

/** Driver contract: one query per implemented operator (SURVEY.md §2 +
  * scale extensions), each with a DuckDB oracle over the same parquet
  * tables where SQL can express the semantics.
  *
  * Conventions shared by every query/oracle pair (hash-compare safety):
  *  - identical column names and order on both sides, all lowercase;
  *  - float outputs rounded (sum-order FP noise ≪ rounding step);
  *  - integral aggregates cast to BIGINT on both sides (DuckDB SUM returns
  *    HUGEINT otherwise);
  *  - deterministic ORDER BY on a unique prefix in both engines.
  *
  * Trace-operator queries run the real engine on deterministic traces
  * derived from orders/lineitem/events ([[TraceGen]]) whose ground truth
  * is relationally known — the oracle recomputes the answer straight from
  * the base tables, never re-implementing the stack semantics.
  */
object SparkEntry {

  /** Flagship: full enrichment spine (match → inc/exc → profile) on the
    * sf0.001 call trace. */
  def entry(spark: SparkSession): DataFrame =
    Profiles.flatProfile(TraceGen.callTrace(spark, "/root/testdata/sf0.001"))

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Memoized fully-enriched call trace (match + depth + inc + exc),
    * persisted once per (session, sfDir) — the Spark equivalent of the
    * reference's in-place column memoization (pipit/trace.py:111,202,...):
    * every trace query below consumes the same enriched DataFrame instead
    * of re-running the matcher. At cluster scale this is "enrich once,
    * write back / cache, analyze many times". */
  /** Wall seconds each memoized artifact took to build, keyed
    * (session, artifact) — the bench reads this as `setup_breakdown`,
    * so the shared-build cost is attributed per artifact instead of to
    * whichever query ran first. */
  private val artifactTimes =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Double]()
  /** Records SELF time: artifact builds nest (lsh_components →
    * lsh_pairs → minhash_sigs fire lazily inside one another on first
    * touch), and recording wall time per frame would double-charge
    * every child into its parent — Σ breakdown must equal the true
    * one-pass setup cost. Per-thread stack of child-time accumulators;
    * Bench runs queries on one thread, and concurrent sessions each
    * see their own stack. */
  private val nestedChildTime = new ThreadLocal[List[Double]] {
    override def initialValue: List[Double] = Nil
  }
  private def timedArtifact[A](s: SparkSession, key: String)(build: => A): A = {
    nestedChildTime.set(0.0 :: nestedChildTime.get)
    val t0 = System.nanoTime()
    try {
      val r = build
      artifactTimes((s, key)) =
        (System.nanoTime() - t0) / 1e9 - nestedChildTime.get.head
      r
    } finally {
      // pop even on failure, else the orphaned frame skews every later
      // top-level build on this thread; the failed frame's wall time
      // still propagates to the parent so Σ breakdown stays the true
      // one-pass cost
      val total = (System.nanoTime() - t0) / 1e9
      nestedChildTime.set(nestedChildTime.get.tail match {
        case parent :: up => (parent + total) :: up
        case Nil => Nil
      })
    }
  }
  /** Per-artifact build seconds recorded so far for `s`. */
  private[graft] def artifactBreakdown(s: SparkSession): Map[String, Double] =
    artifactTimes.collect { case ((ss, k), v) if ss == s => (k, v) }.toMap

  /** Bytes written by on-disk artifact builds (OTF2 archive, IVF layout),
    * keyed like [[artifactTimes]] — the bench emits these next to the
    * build seconds so real IO variance on the scratch mount (observed:
    * otf2_export 4.6 → 16.7 s between runs with no code change) is
    * distinguishable from plan changes. */
  private val artifactBytes =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Long]()
  private[graft] def artifactIoBytes(s: SparkSession): Map[String, Long] =
    artifactBytes.collect { case ((ss, k), v) if ss == s => (k, v) }.toMap
  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  private val enrichedCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()
  private def callEnriched(s: SparkSession, dir: String): DataFrame =
    enrichedCache.getOrElseUpdate((s, dir), timedArtifact(s, "enriched_events") {
      registerCleanup(s)
      // the matcher emits matching/depth/parent AND time_inc/time_exc in its
      // single pass, so full enrichment is one shuffle + one mapPartitions
      val df = Metrics.calcExcMetrics(TraceGen.callTrace(s, dir), Seq(TimestampNs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize; later queries read the cache only
      df
    })

  /** Memoized deterministic quantizers per (session, sfDir): nine ANN /
    * dedup / graph queries fit the SAME default k-means (and PQ
    * codebooks) on the same embeddings table — like [[callEnriched]],
    * fit once, share everywhere ("train the index once, query it many
    * times", which is how an IVF deployment actually runs). */
  private val kmeansCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Array[Array[Double]]]()
  private def embCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    kmeansCache.getOrElseUpdate((s, dir), timedArtifact(s, "kmeans_fit") {
      registerCleanup(s)
      Similarity.kmeansFit(T(s, dir, "embeddings"))
    })
  private val autoKmeansCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), (Int, Array[Array[Double]])]()
  /** The AUTO-policy quantizer (k = ceil(n/64), Lloyd on the md5-hash
    * sample) as a session artifact shared by the kNN-graph consumers
    * (semdedup, graph_pagerank, knn_graph_nnd, knn_graph_auto — auto-k
    * is the DEFAULT since the sf1 sweep measured fixed-k at 15–36x
    * sf0.1→sf1 vs 3.2x for k∝n) — the same "train once, query many"
    * shape as the
    * fixed-k fit above; the oracle recomputes k and the sample modulus
    * from the data, so memoization changes timing only. */
  private def embAutoCentroids(s: SparkSession, dir: String): (Int, Array[Array[Double]]) =
    autoKmeansCache.getOrElseUpdate((s, dir), timedArtifact(s, "kmeans_auto_fit") {
      registerCleanup(s)
      val emb = T(s, dir, "embeddings")
      val n = emb.count()
      val k = Similarity.autoClusters(n, 64)
      (k, Similarity.kmeansFitSampled(emb, k, n))
    })
  private val sq8Cache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), (Array[Double], Array[Double])]()
  private def embSq8(s: SparkSession, dir: String): (Array[Double], Array[Double]) =
    sq8Cache.getOrElseUpdate((s, dir), timedArtifact(s, "sq8_fit") {
      registerCleanup(s)
      Similarity.sq8Fit(T(s, dir, "embeddings"))
    })
  private val pqCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Array[Array[Array[Double]]]]()
  private def embCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate((s, dir), timedArtifact(s, "pq_fit") {
      registerCleanup(s)
      Similarity.pqFit(T(s, dir, "embeddings"))
    })
  private val bpeCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), Seq[(Int, String, String, Long)]]()
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeCache.getOrElseUpdate((s, dir), timedArtifact(s, "bpe_merges") {
      registerCleanup(s)
      graft.scale.Bpe.learnMerges(T(s, dir, "documents")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    })

  /** Memoized intermediate DataFrames per (session, sfDir, key): results
    * consumed by several queries (LSH dedup components, winnowing
    * fingerprints) are computed once and persisted — the batch analogue
    * of materializing a shared pipeline stage. */
  private val dfCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()
  private def cachedDf(s: SparkSession, dir: String, key: String)
                      (build: => DataFrame): DataFrame =
    dfCache.getOrElseUpdate((s, dir, key), timedArtifact(s, key) {
      registerCleanup(s)
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  /** Drop every memoized artifact held for `s` and unpersist its cached
    * DataFrames, releasing executor storage. Call when a session is done
    * with a dataset (or stopping) in a long-lived driver — without
    * eviction the process-global maps above would pin storage memory for
    * sessions/datasets that are never queried again. Also invoked
    * automatically at application end (belt-and-braces; by then the
    * blocks die with the executors anyway). */
  def clearCaches(s: SparkSession): Unit = {
    def stopped = s.sparkContext.isStopped
    for (k <- enrichedCache.keys if k._1 == s;
         df <- enrichedCache.remove(k) if !stopped) df.unpersist()
    for (k <- dfCache.keys if k._1 == s;
         df <- dfCache.remove(k) if !stopped) df.unpersist()
    for (k <- kmeansCache.keys if k._1 == s) kmeansCache.remove(k)
    for (k <- sq8Cache.keys if k._1 == s) sq8Cache.remove(k)
    for (k <- pqCache.keys if k._1 == s) pqCache.remove(k)
    for (k <- bpeCache.keys if k._1 == s) bpeCache.remove(k)
    for (k <- bigramTuple.keys if k._1 == s) bigramTuple.remove(k)
    for (k <- jpTuple.keys if k._1 == s) jpTuple.remove(k)
    for (k <- ivfIndexCache.keys if k._1 == s;
         path <- ivfIndexCache.remove(k)) deleteRecursively(new java.io.File(path))
    for (k <- otf2ExportCache.keys if k._1 == s;
         path <- otf2ExportCache.remove(k)) deleteRecursively(new java.io.File(path))
    for (k <- chromeExportCache.keys if k._1 == s;
         path <- chromeExportCache.remove(k)) deleteRecursively(new java.io.File(path))
    for (k <- storedIndexCache.keys if k._1 == s) storedIndexCache.remove(k)
    for (k <- storedIndexPaths.keys if k._1 == s;
         path <- storedIndexPaths.remove(k)) deleteRecursively(new java.io.File(path))
    for (k <- artifactTimes.keys if k._1 == s) artifactTimes.remove(k)
    for (k <- artifactBytes.keys if k._1 == s) artifactBytes.remove(k)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Test hook: on-disk stored-index paths currently held for `s` —
    * EntrySmokeSpec proves clearCaches removes the scratch dirs. */
  private[graft] def storedIndexLivePaths(s: SparkSession): Seq[String] =
    storedIndexPaths.collect { case ((ss, _, _), p) if ss == s => p }.toSeq

  /** Test hook: number of memoized artifacts currently held for `s`. */
  private[graft] def cachedEntryCount(s: SparkSession): Int =
    enrichedCache.keys.count(_._1 == s) + dfCache.keys.count(_._1 == s) +
      kmeansCache.keys.count(_._1 == s) + pqCache.keys.count(_._1 == s) +
      sq8Cache.keys.count(_._1 == s) +
      ivfIndexCache.keys.count(_._1 == s) +
      storedIndexCache.keys.count(_._1 == s)

  /** One application-end listener per SparkContext: final cleanup for
    * sessions never explicitly cleared. */
  private val cleanupHooked =
    scala.collection.concurrent.TrieMap[org.apache.spark.SparkContext, Boolean]()
  private def registerCleanup(s: SparkSession): Unit = {
    val sc = s.sparkContext
    cleanupHooked.getOrElseUpdate(sc, {
      sc.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            enrichedCache.clear(); dfCache.clear()
            kmeansCache.clear(); pqCache.clear(); sq8Cache.clear()
            // on-disk indexes are per-process — remove them, or every JVM
            // run leaves a corpus-sized directory behind in /tmp
            ivfIndexCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
            ivfIndexCache.clear()
            otf2ExportCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
            otf2ExportCache.clear()
            chromeExportCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
            chromeExportCache.clear()
            storedIndexCache.clear()
            storedIndexPaths.values.foreach(p => deleteRecursively(new java.io.File(p)))
            storedIndexPaths.clear()
            cleanupHooked.remove(sc) // don't pin the dead SparkContext
          }
        })
      true
    })
  }
  /** Memoized MinHash signature table — five queries (minhash_sig,
    * lsh_tuning, minhash_pairs, minhash_estimate, dup_cross_source) and
    * the LSH component build all start from the identical signatures;
    * the shingle→md5→min pipeline is the dominant cost, so build once. */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "minhash_sigs")(
      Dedup.minhashSignatures(T(s, dir, "documents")))
  /** Memoized LSH candidate pair table — the ONE shared build behind
    * both component artifacts below: at the default (uncapped) bucket
    * size a pair is emitted iff the two docs share a band key, a
    * per-document property, so the historical pair set is EXACTLY this
    * table filtered to both-hist endpoints — no second
    * shingle→minhash→band→self-join pipeline. */
  private def lshPairsAll(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "lsh_pairs")(
      Dedup.minhashLshPairs(minhashSigs(s, dir)))
  private def lshComponents(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "lsh_components")(
      Dedup.connectedComponents(lshPairsAll(s, dir)))
  /** Day-1 component labels of the HISTORICAL corpus (doc_id % 10 != 0)
    * — the persisted labeling the day-2 incremental component merge
    * starts from, memoized like the other day-2 index artifacts; its
    * edge set is the shared [[lshPairsAll]] restricted to history. */
  private def lshComponentsHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "lsh_components_hist")(
      Dedup.connectedComponents(lshPairsAll(s, dir)
        .filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)))
  /** Shared shingle-pair statistics (r11): the inverted-index pair join
    * with per-pair (inter, sza, szb) that both `ngram_jaccard` and
    * `dedup_containment` threshold differently — one expensive build,
    * two cheap consumers. */
  private def shinglePairStats(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "shingle_pair_stats")(
      Dedup.shinglePairStats(T(s, dir, "documents"), 3, "text", "doc_id",
        maxShingleDf = 1000))

  /** Shared basket-analysis intermediates (r11): the distinct
    * (basket, item) table and the frequent-pair support table are the
    * expensive aggregations both `q_basket_rules` and `basket_itemsets`
    * start from — compute once per (session, sf), share (the
    * minhash_sigs / bm25_scores convention). */
  private def basketBi(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "basket_bi")(
      graft.analysis.Basket.basketItems(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey"))
  private def basketPairSup(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "basket_pair_sup")(
      graft.analysis.Basket.pairSupports(basketBi(s, dir), minSupport = 2L))

  private def bitextScored(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bitext_scored")(
      Bitext.scoredPairs(T(s, dir, "embeddings"), T(s, dir, "documents"),
        "en", "de"))
  /** One shared (uni, bi) model build — the two sides come from the
    * same training scan; memoizing the TUPLE (lazily, unpersisted)
    * keeps the token pipeline single-built while cachedDf persists and
    * times each consumed side. */
  private val bigramTuple =
    scala.collection.concurrent.TrieMap[(SparkSession, String), (DataFrame, DataFrame)]()
  private def bigramModelShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bigramTuple.getOrElseUpdate((s, dir), TextOps.bigramModel(
      T(s, dir, "documents").filter(col("doc_id") % 5 === 0)))
  private def bigramUni(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bigram_uni")(bigramModelShared(s, dir)._1)
  private def bigramBi(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bigram_bi")(bigramModelShared(s, dir)._2)
  private def winnowFp(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "winnow_fp")(
      TextOps.winnowFingerprint(T(s, dir, "documents")))
  private def simhashTab(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "simhash_tab")(
      Dedup.simhash(T(s, dir, "documents")))
  /** Day-2 artifacts: the historical-corpus indexes the incremental
    * dedup queries join against — built once per (session, sfDir), like
    * every other "train once, query many" model table, so the timed
    * queries measure the incremental JOIN (the day-2 steady state), not
    * a fresh re-index of history. History = doc_id % 10 != 0. */
  /** One shared jaccardPrefixIndex build: the (dfTab, docIndex) tuple
    * shares its internal shingle checkpoint, so building both sides
    * from one memoized tuple shingles history ONCE instead of once per
    * side (measured ~2 s of duplicated setup at sf0.1). */
  private val jpTuple =
    scala.collection.concurrent.TrieMap[(SparkSession, String), (DataFrame, DataFrame)]()
  private def jpIndexShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    jpTuple.getOrElseUpdate((s, dir), Dedup.jaccardPrefixIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0), 3, 1, 5))
  private def jpIndexDf(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "jp_index_df")(jpIndexShared(s, dir)._1)
  private def shingleIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "shingle_index_hist")(Dedup.shingleIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)))
  private def winnowIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "winnow_index_hist")(
      winnowFp(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("fingerprint")).distinct())
  private def cdcIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "cdc_index_hist")(TextOps.cdcIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)))
  private def jpIndexDocs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "jp_index_docs")(jpIndexShared(s, dir)._2)
  /** Planted perceptual hashes of the image_neardup fixture (payload
    * synthesis + real PGM decode), shared by the batch and day-2 image
    * near-dup queries. */
  private def neardupHashes(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "image_ahash_neardup")({
      import s.implicits._
      T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val seed = id % 50
          val variant = (id / 50) % 2 == 1
          val w = (8 + seed % 5).toInt; val h = (6 + seed % 4).toInt
          val p = Multimodal.encodePgm(w, h, i =>
            if (variant && i == 0) ((seed * 31 + 128) % 256).toInt
            else ((seed * 31 + i * 7) % 256).toInt)
          val (hi, lo) = Multimodal.averageHashHalves(p)
          (id, hi, lo)
        }.toDF("doc_id", "ahash_hi", "ahash_lo")
    })
  /** Planted 64-bit difference fingerprints of the audio_neardup
    * fixture (WAV synthesis + real RIFF decode), shared by the batch
    * and day-2 audio near-dup queries. */
  private def audioDiffHashes(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "audio_diff_fp")({
      import s.implicits._
      T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val seed = id % 40
          val variant = (id / 40) % 2 == 1
          val n = (130 + seed % 37).toInt
          val p = Multimodal.encodeWav(1, 8000, n, { i =>
            // Knuth multiply, HIGH bits down (>> 16) before the mod —
            // the low bits of x*c alone are a constant-step rotation
            var mag = ((((seed * 1000003 + i) * 2654435761L) >> 16) % 8192).toInt
            if (variant) {
              val f = i * 65 / n
              if (f >= seed && f <= seed + 2) mag += 2500
              mag *= 2 // uniform gain: must NOT flip any unperturbed bit
            }
            if (i % 2 == 0) mag else -mag
          })
          val (hi, lo) = Multimodal.audioDiffFingerprint64(p)
          (id, hi, lo)
        }.toDF("doc_id", "fp_hi", "fp_lo")
    })
  /** Planted frame-hash token documents of the video_neardup fixture
    * (Y4M synthesis + real decode, one token per frame hash), shared by
    * the batch and day-2 video near-dup queries. */
  private def videoTokenDocs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "video_token_docs")({
      import s.implicits._
      T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val seed = id % 30
          val variant = (id / 30) % 2 == 1
          val w = (4 + (seed % 3) * 2).toInt; val h = (4 + (seed % 2) * 2).toInt
          val n = (4 + seed % 3).toInt
          def luma(f: Int, i: Int) =
            ((seed * 13 + (f * 7 + 1) * i * 3 + f * 5) % 256).toInt
          val payload =
            if (variant) Multimodal.encodeY4m(w, h, n - 1,
              (f, i) => luma(f + 1, i))
            else Multimodal.encodeY4m(w, h, n, luma)
          val toks = Multimodal.frameHashes(payload, frameStride = 1)
            .map { case (hi, lo) => s"$hi:$lo" }
          (id, toks.mkString(" "))
        }.toDF("doc_id", "text")
    })
  /** Frozen bitext pivot index (day-1 reference run: en docs with
    * doc_id % 10 != 0 mined against the full de side), memoized like
    * every "build once, serve many" model table so the day-2 query
    * times the incremental mining join, not a re-index of history. */
  private def bitextIndexDf(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bitext_index_df")(Bitext.indexTable(
      T(s, dir, "embeddings"),
      T(s, dir, "documents")
        .filter(col("lang") =!= "en" || col("doc_id") % 10 =!= 0),
      "en", "de"))
  private def langidPred(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "langid_pred")({
      val docs = T(s, dir, "documents")
      TextOps.languageId(docs,
        TextOps.learnLanguageProfiles(docs.filter(col("doc_id") % 5 === 0)))
    })
  /** On-disk IVF index per (session, sfDir): written once under /tmp,
    * then every ann_ivf_disk run searches it with partition pruning —
    * "build the index once, serve queries from it", the deployment shape
    * [[Similarity.writeIvfIndex]] documents. */
  private val ivfIndexCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), String]()
  /** Root for session-scoped artifact directories: prefer the tmpfs
    * mount when present so repeated bench sweeps measure the format and
    * the plan (partition pruning is a directory-structure property,
    * identical on tmpfs), not disk contention from co-resident IO. */
  private lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir", "/tmp")
  }
  // backstop for processes that never call spark.stop() (test harnesses):
  // whatever indexes remain are removed when the JVM exits
  private lazy val ivfShutdownHook: Unit =
    sys.addShutdownHook {
      ivfIndexCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
      otf2ExportCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
      chromeExportCache.values.foreach(p => deleteRecursively(new java.io.File(p)))
      storedIndexPaths.values.foreach(p => deleteRecursively(new java.io.File(p)))
    }: Unit

  /** Memoized PERSISTED day-2 indexes per (session, sfDir, key): the
    * family handle is built once, `save`d to scratch, and reloaded
    * through [[graft.scale.IndexStore.load]] — so every `*_incr` oracle
    * row exercises the exact enforced-contract path a day-2 user calls
    * (build → save → load → probe, parameters riding the store's
    * `_meta`), not the raw incremental functions the store wraps. The
    * probe output is identical either way (load hands back the same
    * tables through a parquet round trip), so the oracle hashes pin the
    * user-facing API. */
  private val storedIndexCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String),
      graft.scale.IndexStore.DedupIndex]()
  private val storedIndexPaths =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), String]()
  private def storedIndex(s: SparkSession, dir: String, key: String)
      (build: => graft.scale.IndexStore.DedupIndex)
      : graft.scale.IndexStore.DedupIndex =
    storedIndexCache.getOrElseUpdate((s, dir, key), timedArtifact(s, key) {
      registerCleanup(s)
      ivfShutdownHook
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val path = s"$scratchRoot/graft_idx_${key}_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      build.save(path)
      storedIndexPaths((s, dir, key)) = path
      graft.scale.IndexStore.load(s, path)
    })
  /** Memoized day-3 index per (session, sfDir, key): day-1 state is
    * built and `save`d, then the day-2 batch is absorbed through
    * [[graft.scale.IndexStore.append]] — load(v1) → append → save(v2) →
    * load(v2), the operational day-N maintenance contract — and the
    * `*_day3` queries probe the RELOADED v2 handle. Their oracles are
    * their `*_incr` siblings' SQL verbatim: the probe after append must
    * be pair-set-identical to the probe against a from-scratch build of
    * day-1 ∪ day-2, which is exactly what the sibling row runs. */
  private def storedAppendedIndex(s: SparkSession, dir: String, key: String)
      (buildDay1: => graft.scale.IndexStore.DedupIndex)
      (day2: => DataFrame): graft.scale.IndexStore.DedupIndex =
    storedIndexCache.getOrElseUpdate((s, dir, key), timedArtifact(s, key) {
      registerCleanup(s)
      ivfShutdownHook
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val base = s"$scratchRoot/graft_idx_${key}_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      buildDay1.save(base)
      storedIndexPaths((s, dir, key + "__v1")) = base
      val grown = graft.scale.IndexStore.append(s, base, day2, base + "_v2")
      storedIndexPaths((s, dir, key)) = base + "_v2"
      grown
    })
  private def ivfIndexPath(s: SparkSession, dir: String): String =
    ivfIndexCache.getOrElseUpdate((s, dir), timedArtifact(s, "ivf_disk_index") {
      registerCleanup(s)
      ivfShutdownHook
      // path disambiguated by (full-dir md5, process, session): hashCode
      // collisions or a concurrent JVM/session on the same dir must never
      // share (and overwrite) one index directory mid-read
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val path = s"$scratchRoot/graft_ivf_index_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      Similarity.writeIvfIndex(T(s, dir, "embeddings"), path, embCentroids(s, dir))
      artifactBytes((s, "ivf_disk_index")) = dirBytes(new java.io.File(path))
      path
    })

  /** Gzip Chrome-JSONL export of the call trace, written once per
    * (session, sf) — the stored interchange artifact the round-trip
    * query re-ingests. Gzip cuts the dominant cost of the text format
    * (bytes parsed) ~10x; the READ side is what a consumer pays
    * repeatedly, so the round-trip query reads this artifact instead of
    * re-serializing the whole trace in-plan every run. */
  private val chromeExportCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), String]()
  private def chromeExportPath(s: SparkSession, dir: String): String =
    chromeExportCache.getOrElseUpdate((s, dir), timedArtifact(s, "chrome_export") {
      registerCleanup(s)
      ivfShutdownHook
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val path = s"$scratchRoot/graft_chrome_export_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      graft.ingest.ChromeWriter.write(callEnriched(s, dir), path,
        codec = Some("gzip"))
      artifactBytes((s, "chrome_export")) = dirBytes(new java.io.File(path))
      path
    })

  /** On-disk OTF2 export per (session, sfDir): the call trace written
    * once as a real OTF2 archive ([[graft.ingest.Otf2Writer]]), which
    * `trace_otf2_roundtrip` then re-ingests through the binary reader —
    * the full write→bytes→read interchange loop under the oracle gate. */
  private val otf2ExportCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), String]()
  private def otf2ExportPath(s: SparkSession, dir: String): String =
    otf2ExportCache.getOrElseUpdate((s, dir), timedArtifact(s, "otf2_export") {
      registerCleanup(s)
      ivfShutdownHook
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val path = s"$scratchRoot/graft_otf2_export_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      graft.ingest.Otf2Writer.save(TraceGen.callTrace(s, dir), path)
      artifactBytes((s, "otf2_export")) = dirBytes(new java.io.File(path))
      path
    })

  /** Shared BM25 score table for the first-5-docs query suite: bm25_topk
    * and hybrid_topk rank the SAME scores at different k — score once,
    * rank many (the index-reuse shape of a deployed retrieval stack). */
  private def bm25Scores5(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bm25_scores_q5")({
      val docs = T(s, dir, "documents")
      TextOps.bm25Scores(docs, docs.filter(col("doc_id") < 5))
    })

  /** PII planting for `text_pii`: deterministic doc_id-derived email / IP /
    * phone occurrences appended to the text, computed identically by Spark
    * and the DuckDB oracle (same SQL expression semantics), so extraction
    * and redaction are verified non-trivially. Counts vary per doc:
    * doc_id%3 emails, doc_id%2 IPs, exactly one phone. */
  private val PiiPlantExpr =
    "concat(text, " +
      "repeat(concat(' user', cast(doc_id as string), '@example.com'), " +
      "       cast(doc_id % 3 as int)), " +
      "repeat(concat(' 10.0.', cast(doc_id % 256 as string), '.7'), " +
      "       cast(doc_id % 2 as int)), " +
      "' call 555-', lpad(cast(doc_id * 7 % 1000 as string), 3, '0'), " +
      "'-', lpad(cast(doc_id * 13 % 10000 as string), 4, '0'))"

  /** Target mixture for `sample_mix`: down-weight the over-represented
    * languages (en is ~44% of the corpus). */
  private val MixRates =
    Seq(("en", 0.25), ("de", 1.0), ("es", 0.6), ("fr", 0.6), ("zh", 0.8))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- M1/M2: event matching, depth, parent ---
    "trace_match" -> ((s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter && col(MatchingEventId).isNotNull)
      .select(col(EventId), col(MatchingEventId), col(MatchingTs))
      .orderBy(col(EventId))),

    "trace_depth" -> ((s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(Depth), col(ParentEventId))
      .orderBy(col(EventId))),

    // --- M3/M4: inclusive/exclusive metrics ---
    "trace_inc" -> ((s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(TimeInc)).orderBy(col(EventId))),

    "trace_exc" -> ((s, dir) => callEnriched(s, dir)
      .filter(col(EventType) === Enter)
      .select(col(EventId), col(TimeExc)).orderBy(col(EventId))),

    // --- A5: flat profile (two-level agg) ---
    // --- per-function duration order statistics (rank-selected, never
    // interpolated — the cross-engine-exact percentile formulation) ---
    "trace_duration_pctl" -> ((s, dir) => {
      val durs = callEnriched(s, dir).filter(col(EventType) === Enter)
        .select(col(Name), col(TimeInc).as("dur"), col(EventId))
      graft.analysis.RobustStats.percentiles(durs, Name, "dur", EventId)
        .select(col(Name), col("n"), col("p50").as("p50_ns"),
          col("p90").as("p90_ns"), col("max").as("max_ns"))
        .orderBy(col(Name))
    }),

    "trace_flat_profile" -> ((s, dir) =>
      Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc))
        .select(col(Name), round(col(TimeExc), 4).as("mean_exc"))
        .orderBy(col(Name))),

    "trace_flat_profile_pp" -> ((s, dir) =>
      Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc), perProcess = true)
        .select(col(Name), col(Process), col(TimeExc).cast("long").as("sum_exc"))
        .orderBy(col(Name), col(Process))),

    // --- A6: load imbalance ---
    "trace_load_imbalance" -> ((s, dir) => {
      val pp = Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc), perProcess = true)
      val w = Window.partitionBy(col(Name)).orderBy(col(TimeExc).desc, col(Process))
      val top = pp.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col(Name), col(Process).as("top_process"))
      pp.groupBy(col(Name))
        .agg(round(max(col(TimeExc)) / avg(col(TimeExc)), 6).as("imbalance"),
          round(avg(col(TimeExc)), 4).as("mean_exc"))
        .join(top, Seq(Name)).orderBy(col(Name))
    }),

    // --- A7: idle time ---
    // --- straggler detection: ranks whose per-function exc deviates
    // > 3·MAD from the cross-rank median (robust, rank-selected) ---
    "trace_rank_outliers" -> ((s, dir) => {
      val pp = Profiles.flatProfile(callEnriched(s, dir), Seq(TimeExc),
        Name, perProcess = true)
      graft.analysis.RobustStats.madOutliers(pp, Name, TimeExc, Process, 3)
        .orderBy(col(Name), col(Process))
    }),

    // --- load imbalance resolved over time bins (integer-exact busy) ---
    "trace_imbalance_time" -> ((s, dir) =>
      Profiles.timeImbalance(callEnriched(s, dir))
        .orderBy(col("bin"))),

    // --- timeline heatmap feed: (process × time-bin) busy matrix of
    // top-level spans, sparse — the Vampir-style visualization table
    // timeImbalance aggregates ---
    "trace_heatmap" -> ((s, dir) =>
      Profiles.binnedBusy(callEnriched(s, dir))
        .orderBy(col("bin"), col(Process))),

    // --- time-resolved comm matrix: which links are hot WHEN (the
    // animated comm-matrix feed), sparse cells, one keyed agg ---
    "comm_matrix_over_time" -> ((s, dir) =>
      CommOps.commMatrixOverTime(TraceGen.commTrace(s, dir))
        .orderBy(col("sender"), col("receiver"), col("bin"))),

    // --- longest consecutive-day streak histogram (gaps-and-islands
    // over the deduped user-day table, all keyed) ---
    "q_streaks" -> ((s, dir) =>
      Sessionize.streakHistogram(
          TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
        .orderBy(col("streak_len"))),

    // --- where duplication lives inside documents: per position
    // tercile (start/middle/end of doc), the share of shingle instances
    // whose text is cross-doc duplicated — boilerplate concentrates at
    // the edges, plagiarized cores in the middle ---
    "dup_positions" -> ((s, dir) => {
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
    }),

    // --- A/B experiment report: deterministic variant split (user md5
    // parity), exposure vs conversion (any purchase) in exact integer
    // sufficient statistics + micro-unit rates ---
    "q_abtest" -> ((s, dir) => {
      val perUser = TraceGen.eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("variant",
          (TextOps.md5Hash60(col("user_id").cast("string"), 5) % 2)
            .cast("int"))
      perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("converted")).cast("long").as("n_converted"))
        .withColumn("conv_micro", expr("n_converted * 1000000 div n_users"))
        .orderBy(col("variant"))
    }),

    // --- packing-efficiency audit: per shard, the token budget wasted
    // by the LAST (partial) batch — padding waste is training cost ---
    "pack_efficiency" -> ((s, dir) => {
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
    }),

    // --- SemDeDup threshold sweep: pair/doc counts at cosine 0.2/0.3/
    // 0.5 from ONE cluster-restricted pair pass — the data-driven
    // threshold report before committing to a semantic-dedup cut ---
    "semdedup_sweep" -> ((s, dir) => {
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
    }),

    // --- per-source boilerplate tiles (the header/footer signal):
    // tiles in ≥ 8% of a source's docs are template, not content ---
    "boilerplate_tiles" -> ((s, dir) =>
      Dedup.boilerplateTiles(T(s, dir, "documents"),
          minShareMicro = 80000L)
        .orderBy(col("source"), col("tile"))),

    // --- leakage-free rolling features: each user's trailing-7-day
    // count and cent volume as of (strictly before) their LAST event —
    // the feature-store shape: one keyed range window, no self-join ---
    "q_lag_features" -> ((s, dir) => {
      val w7 = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-7L * 86400000000L, -1L)
      val last = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us").desc, col("event_id").desc)
      TraceGen.eventsTable(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n_prev7", count(lit(1)).over(w7))
        .withColumn("cents_prev7",
          coalesce(sum(col("cents")).over(w7), lit(0L)))
        .withColumn("__rn", row_number().over(last))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("n_prev7"), col("cents_prev7"))
        .orderBy(col("user_id"))
    }),

    // --- in-flight message depth over time: per bin net sends−recvs
    // and the running depth (cumsum over the tiny bin table only) ---
    "comm_inflight" -> ((s, dir) => {
      val t = TraceGen.commTrace(s, dir)
      val extRow = t.agg(min(col(TimestampNs)), max(col(TimestampNs))).head
      val (lo, hi) = (extRow.getLong(0), extRow.getLong(1))
      val binned = t
        .filter(col(Name).isin("MpiSend", "MpiIsend", "MpiRecv", "MpiIrecv"))
        .withColumn("bin",
          expr(s"((timestamp_ns - ${lo}L) * 50) div ${hi - lo + 1}L")
            .cast("int"))
        .groupBy(col("bin"))
        .agg(sum(when(col(Name).isin("MpiSend", "MpiIsend"), 1L)
          .otherwise(-1L)).as("net"))
      binned.withColumn("inflight",
          sum(col("net")).over(Window.orderBy(col("bin"))))
        .orderBy(col("bin"))
    }),

    "trace_idle_time" -> ((s, dir) =>
      Profiles.idleTime(callEnriched(s, dir), Seq("item_R"))
        .select(col(Process), col("idle_time")).orderBy(col(Process))),

    // --- A8: time profile ---
    "trace_time_profile" -> ((s, dir) =>
      TimeProfile.timeProfile(callEnriched(s, dir), 50)
        .select(col("bin"), col(Name), round(col("time"), 2).as("time"))
        .orderBy(col("bin"), col(Name))),

    // --- A9: multirun analysis (two sub-traces by orderkey parity).
    // Runs split on whole orders, which own disjoint top-level time slots,
    // so per-run enrichment ≡ filtering the cached full enrichment (the
    // general operator Profiles.multirunAnalysis enriches per trace). ---
    "trace_multirun" -> ((s, dir) => {
      val t = callEnriched(s, dir)
      val runs = Seq(0, 1).map(p =>
        t.filter(((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int") === p))
      runs.zipWithIndex.map { case (r, i) =>
        Profiles.flatProfile(r, Seq(TimeExc)).withColumn("run", lit(i))
      }.reduce(_ unionByName _)
        .select(col("run"), col(Name), round(col(TimeExc), 4).as("mean_exc"))
        .orderBy(col("run"), col(Name))
    }),

    // --- M5: calling context tree ---
    "trace_cct" -> ((s, dir) => Cct.buildCct(callEnriched(s, dir))
      .select(col("path"), col("depth"), col("name")).orderBy(col("path"))),

    // --- hot-path profile: exc time per full calling context ---
    "trace_cct_profile" -> ((s, dir) => {
      val enriched = callEnriched(s, dir)
      enriched.filter(col(EventType) === Enter)
        .join(broadcast(Cct.buildCct(enriched)
          .select(col("path_hash"), col("path"))), Seq("path_hash"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_calls"),
          sum(col(TimeExc)).cast("long").as("time_exc"))
        .orderBy(col("path"))
    }),

    // --- flame-graph self/total per calling context (one per-callpath
    // aggregation, then a bottom-up fold of the CCT on the driver) ---
    "trace_cct_rollup" -> ((s, dir) =>
      Cct.subtreeRollup(callEnriched(s, dir)).orderBy(col("path"))),

    // --- CCT diff: per-calling-context exc regression between runs ---
    "trace_cct_diff" -> ((s, dir) => {
      val enriched = callEnriched(s, dir)
      enriched.filter(col(EventType) === Enter)
        .join(broadcast(Cct.buildCct(enriched)
          .select(col("path_hash"), col("path"))), Seq("path_hash"))
        .withColumn("run",
          ((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int"))
        .groupBy(col("path"))
        .agg(coalesce(sum(when(col("run") === 0, col(TimeExc))), lit(0.0))
            .cast("long").as("exc_run0"),
          coalesce(sum(when(col("run") === 1, col(TimeExc))), lit(0.0))
            .cast("long").as("exc_run1"))
        .select(col("path"), col("exc_run0"), col("exc_run1"),
          (col("exc_run1") - col("exc_run0")).as("delta_exc"))
        .orderBy(col("path"))
    }),

    // --- K1: chrome tracing projection ---
    "trace_chrome" -> ((s, dir) =>
      graft.ingest.ChromeWriter.project(callEnriched(s, dir))
        .select(col("name"), col("ph"), col("ts"), col("pid"))
        .orderBy(col("ts"), col("ph"), col("name"), col("pid"))),

    // --- native bounded top-k aggregate: map-side pruning to k, the
    // exchange carries k rows per key per partition — never the
    // window formulation's full per-key sort ---
    "q_topk_agg" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("val_c"), col("event_id"))
      ev.groupBy(col("event_type"))
        .agg(graft.functions.TopKLongs.topK(3,
          col("val_c"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.ord").as("val_c"), col("col.payload").as("event_id"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // --- deterministic per-key uniform sample: bottom-3 by md5 hash
    // via the SAME native bounded aggregate (ord = −hash) — k rows per
    // key cross the exchange, never a per-key sort of everything ---
    "sample_per_key" -> ((s, dir) => {
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
    }),

    // --- Pareto set of functions: which names cover 90% of total
    // exclusive time (the "optimize these first" list); per-name
    // profile is tiny, the one window runs over |names| rows ---
    "trace_pareto" -> ((s, dir) => {
      val prof = callEnriched(s, dir).filter(col(EventType) === Enter)
        .groupBy(col(Name)).agg(sum(col(TimeExc)).as("exc"))
      val total = prof.agg(sum(col("exc")).as("__tot"))
      val w = Window.orderBy(col("exc").desc, col(Name))
      prof.join(broadcast(total))
        .withColumn("cum_exc", sum(col("exc")).over(w))
        .select(col(Name), col("exc").cast("long").as("exc"),
          col("cum_exc").cast("long").as("cum_exc"),
          ((col("cum_exc") - col("exc")) * 10 < col("__tot") * 9)
            .as("in_p90_set"))
        .orderBy(col(Name))
    }),

    // --- idle gaps: holes between consecutive top-level spans per
    // process (the un-instrumented complement of idle_time) ---
    "trace_gaps" -> ((s, dir) =>
      Profiles.idleGaps(callEnriched(s, dir)).orderBy(col(Process))),

    // --- Chrome JSON round trip: writer → gzip JSONL on disk →
    // ChromeReader re-ingest → canonical events again (the PyTorch/
    // Perfetto interchange path, proven lossless against the relational
    // truth). The export is a once-per-(session, sf) artifact — what a
    // stored trace actually is — so the query measures the consumer
    // side: parse cost over ~10x fewer bytes than plain text.
    // assignIds = false: the fidelity proof compares canonical columns;
    // the dense-id sort is a separate (spec-covered) stage and would
    // re-sort + cache the whole trace here for nothing ---
    "trace_chrome_roundtrip" -> ((s, dir) =>
      graft.ingest.ChromeReader.read(s, chromeExportPath(s, dir),
          assignIds = false)
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))),

    // --- two-class overlap: time item and ship spans were open at once
    // per process (the compute/copy pipelining-efficiency sweep) ---
    "trace_overlap" -> ((s, dir) =>
      graft.analysis.Concurrency.classOverlap(
          TraceGen.callIntervals(s, dir), "item", "ship")
        .orderBy(col("process"))),

    // --- cross-run clock alignment: run B is the call trace under a
    // per-process clock skew (+ (process+1)·1000 ns); aligning it onto
    // run A by first-Enter offsets must recover A's timeline EXACTLY ---
    "trace_align" -> ((s, dir) => {
      val a = TraceGen.callTrace(s, dir)
      val skewed = a.withColumn(TimestampNs,
        col(TimestampNs) + (col(Process) + 1).cast("long") * 1000L)
      graft.analysis.TraceAlign.align(a, skewed)
        .filter(col("aligned"))
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))
    }),

    // --- structure-preserving trace reduction: keep 2/5 of top-level
    // call trees (whole subtrees, so the sample stays matchable) ---
    "trace_sample_calls" -> ((s, dir) =>
      graft.analysis.TraceSample.sampleCalls(TraceGen.callTrace(s, dir), 2, 5)
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))),

    // --- OTF2 archive round trip: canonical trace → Otf2Writer binary
    // archive on disk → Otf2Reader re-ingest → canonical again (the
    // interchange loop with Score-P tooling, proven lossless against
    // the relational truth; archive written once per (session, sf)) ---
    "trace_otf2_roundtrip" -> ((s, dir) =>
      graft.ingest.Otf2Reader.read(s, otf2ExportPath(s, dir))
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))),

    // --- A1: comm matrix (size + count) ---
    "comm_matrix" -> ((s, dir) => CommOps.commMatrix(TraceGen.commTrace(s, dir))
      .orderBy(col("sender"), col("receiver"))),
    "comm_matrix_count" -> ((s, dir) =>
      CommOps.commMatrix(TraceGen.commTrace(s, dir), "count")
        .orderBy(col("sender"), col("receiver"))),

    // --- A4: comm by process ---
    "comm_by_process" -> ((s, dir) =>
      CommOps.commByProcess(TraceGen.commTrace(s, dir)).orderBy(col(Process))),

    // --- A3: comm over time ---
    "comm_over_time" -> ((s, dir) =>
      CommOps.commOverTime(TraceGen.commTrace(s, dir), "size", "send", 50)
        .select(col("bin"), col("volume")).orderBy(col("bin"))),

    // --- A2: message histogram ---
    "msg_histogram" -> ((s, dir) =>
      CommOps.messageHistogram(TraceGen.commTrace(s, dir), 20)
        .select(col("bin"), col("count")).orderBy(col("bin"))),

    // --- per-window comm structure: pattern-classification inputs ---
    "comm_structure" -> ((s, dir) =>
      CommOps.commStructure(TraceGen.commTrace(s, dir), 20)
        .orderBy(col("bin"))),

    // --- S5: Nsight-style interval unpivot through the real reader path ---
    "nsight_unpivot" -> ((s, dir) => {
      val intervals = TraceGen.itemIntervals(s, dir)
      graft.ingest.NsightReader.fromIntervals(intervals)
        .orderBy(col(EventId))
    }),

    // --- A10: motif discovery, verified against a planted ground truth ---
    // A flat 1000-leaf trace under one root: leaf i runs for v_i ns, where
    // v_i is an exact repeating 50-length pattern at i%200<50 (occurrences
    // at 0,200,400,600,800) and md5-derived noise elsewhere. The time_exc
    // series the kernel sees IS (v_i), so the motif set is relationally
    // known and the oracle enumerates it — a full end-to-end check of
    // matcher → exc metrics → matrix profile → motif extraction.
    "trace_pattern" -> ((s, dir) => {
      val n = 1000
      val idx = s.range(n).toDF("i")
      val v = when(col("i") % 200 < 50,
          lit(100L) + (col("i") % 200) * 37 % 83 * 10)
        .otherwise(conv(substring(md5(concat(lit("p:"), col("i"))), 1, 15), 16, 10)
          .cast("long") % 900 + 1)
      val enters = idx.select((col("i") * 2 + 1).as(EventId),
        ((col("i") + 1) * 1000).as(TimestampNs),
        lit(Enter).as(EventType), lit("work").as(Name), lit(1).as(Process))
      val leaves = idx.select((col("i") * 2 + 2).as(EventId),
        ((col("i") + 1) * 1000 + v).as(TimestampNs),
        lit(Leave).as(EventType), lit("work").as(Name), lit(1).as(Process))
      val root = s.range(1).select(lit(0L).as(EventId), lit(0L).as(TimestampNs),
          lit(Enter).as(EventType), lit("root").as(Name), lit(1).as(Process))
        .union(s.range(1).select(lit(2L * n + 1), lit(1000L * (n + 2)),
          lit(Leave), lit("root"), lit(1)))
      val trace = root.union(enters).union(leaves)
      val patterns = graft.analysis.PatternDetect.detectPattern(
        trace, "root", iterations = Some(5), windowSize = Some(50),
        process = 1, metric = TimeExc)
      patterns.zipWithIndex.map { case (p, i) =>
        p.filter(col(EventType) === Enter)
          .select(lit(i).cast("int").as("occurrence"), col(EventId))
      }.reduce(_ unionByName _).orderBy(col("occurrence"), col(EventId))
    }),

    // --- plan-native motif occurrence scan (MotifScan): distance profile
    // of a known 16-point motif over 4 processes' integer series — ONE
    // exchange (windowed collect_list), codegen'd VecDot kernel, exact
    // integer dist² so the three planted occurrences score exactly 0 ---
    "trace_pattern_scan" -> ((s, dir) => {
      val n = 512; val m = 16
      val motif = Array.tabulate(m)(j => (((j * 37) % 83) * 10 + 100).toDouble)
      def qv(off: Column): Column = ((off * 37) % 83) * 10 + 100
      val pts = s.range(4).toDF("p").crossJoin(s.range(n.toLong).toDF("i"))
      val planted = when(col("p") === 1 && col("i").between(100, 100 + m - 1), qv(col("i") - 100))
        .when(col("p") === 1 && col("i").between(300, 300 + m - 1), qv(col("i") - 300))
        .when(col("p") === 3 && col("i").between(50, 50 + m - 1), qv(col("i") - 50))
        .otherwise(TextOps.md5Hash60(concat_ws(":", col("p"), col("i")), lit("m")) % 900 + 1)
      val series = pts.select(col("p").as("process"), col("i").as("idx"),
        planted.cast("double").as("value"))
      graft.analysis.MotifScan.topOccurrences(series, motif, 25)
        .select(col("process"), col("start"), col("dist2").cast("long").as("dist2"))
    }),

    // --- relational coverage (Catalyst-planned aggregates/joins/windows) ---
    "q1_pricing" -> ((s, dir) => T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        // EXACT integer-cents discounted revenue: the double
        // SUM(price*(1-disc)) sits on a 1e-4 lattice, so its true value
        // CAN be a .005 round midpoint and engine summation order then
        // flips the cent (caught by the second-seed gate at seed=101);
        // summing cents*(100-disc%) in BIGINT and half-up dividing is
        // order-independent on both engines
        expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q3_topk" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        // exact integer-cents revenue (see q1_pricing)
        .agg(expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      rev.groupBy(col("n_name"))
        // exact integer-cents revenue (see q1_pricing)
        .agg(expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("revenue"))
        .orderBy(col("n_name"))
    }),

    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_sessionize" -> ((s, dir) => Sessionize.sessionCounts(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", 1800000000L)
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_id"))),

    // --- session entry→exit paths: how sessions begin vs end ---
    "q_session_paths" -> ((s, dir) => Sessionize.sessionPaths(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type", 1800000000L)
      .orderBy(col("entry_type"), col("exit_type"))),

    // --- per-session engagement: dwell time + bounce flag ---
    "q_dwell" -> ((s, dir) => Sessionize.sessionStats(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", 1800000000L)
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("n_events"), col("duration_us").cast("long").as("duration_us"),
        col("bounce").cast("int").as("bounce"))
      .orderBy(col("user_id"), col("session_id"))),

    // --- concurrency profile: time at each open-span count, via the
    // +1/−1 sweep (no quadratic overlap self-join); spans are events
    // lasting round(value·100)·10 µs at process user_id%16 ---
    "q_concurrency" -> ((s, dir) => {
      val iv = TraceGen.eventsTable(s, dir).select(
        (col("user_id") % 16).cast("int").as("process"),
        expr("ts div 1000").cast("long").as("start"),
        (expr("ts div 1000") +
          round(col("value") * 100).cast("long") * 10).as("end"))
      graft.analysis.Concurrency.concurrencyProfile(iv)
        .select(col("process"), col("level"),
          col("total").as("total_us"), col("n_segments"))
        .orderBy(col("process"), col("level"))
    }),

    // --- comm volume by rank distance (near vs far traffic) ---
    "comm_distance" -> ((s, dir) =>
      CommOps.commMatrix(TraceGen.commTrace(s, dir))
        .groupBy(abs(col("sender") - col("receiver")).as("distance"))
        .agg(sum(col("volume")).as("volume"),
          count(lit(1)).as("n_channels"))
        .orderBy(col("distance"))),

    // --- audience overlap between event types (shared-user counts) ---
    "q_user_overlap" -> ((s, dir) => {
      val tu = TraceGen.eventsTable(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint() // both self-join sides + the totals read this
      val totals = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(totals.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(totals.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_common"),
          col("n_a"), col("n_b"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // --- daily volume anomalies per event type (count vs 3·MAD) ---
    "q_daily_anomaly" -> ((s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.RobustStats.madOutliers(daily, "event_type", "n", "day", 3)
        .orderBy(col("event_type"), col("day"))
    }),

    // --- Pareto concentration: volume by user decile (Lorenz curve in
    // integer cents; ranks via distributed dense ids, cumulative over
    // the 10-row decile table only) ---
    "q_pareto" -> ((s, dir) => {
      val per = TraceGen.eventsTable(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("monetary_c"))
        .localCheckpoint()
      val n = per.count()
      val dec = graft.ingest.Ingest
        .assignDenseIds(per, "__rk", col("monetary_c").desc, col("user_id").asc)
        .groupBy(expr(s"(10 * __rk) div $n").cast("int").as("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("monetary_c")).as("volume_c"))
      dec.withColumn("cum_volume_c",
          sum(col("volume_c")).over(Window.orderBy(col("decile"))))
        .orderBy(col("decile"))
    }),

    // --- hour-of-day seasonality profile per event type ---
    "q_hourly" -> ((s, dir) =>
      TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 3600000000 % 24").cast("int").as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("hour"))),

    // --- RFM segmentation: per-user recency/frequency/monetary scores
    // 1..5 by explicit integer rank thresholds (no NTILE — its tie
    // handling is engine-specific; (5·(rank−1)) div n is not). Ranks
    // come from assignDenseIds (distributed sort + zipWithIndex), NOT a
    // global window — three rankings of the per-user table stay
    // parallel at any user count ---
    "q_rfm" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val per = ev.groupBy(col("user_id"))
        .agg(max(col("t_us")).as("last_t"), count(lit(1)).as("freq"),
          sum(round(col("value") * 100).cast("long")).as("monetary_c"))
        .localCheckpoint() // three rankings + the count read this
      val n = per.count()
      val ranked = Seq("last_t", "freq", "monetary_c")
        .foldLeft(per) { (df, c) =>
          graft.ingest.Ingest.assignDenseIds(df, s"__rk_$c",
            col(c).desc, col("user_id").asc)
        }
      def sc(c: String) = // __rk is 0-based: score 5 = best fifth
        (lit(5) - expr(s"(5 * __rk_$c) div $n").cast("int"))
      ranked.select(col("user_id"), sc("last_t").as("r_score"),
          sc("freq").as("f_score"), sc("monetary_c").as("m_score"))
        .orderBy(col("user_id"))
    }),

    // --- inter-event gap histogram in decimal orders of magnitude
    // (digit-count bucketing: pure integer, no log() cross-engine risk) ---
    "q_gap_histogram" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
        .withColumn("gap", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(length(col("gap").cast("string")).as("digits"))
        .agg(count(lit(1)).as("n_gaps"), min(col("gap")).as("min_gap"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("digits"))
    }),

    // --- Markov transition counts over per-user event streams ---
    "q_transitions" -> ((s, dir) => Sessionize.transitions(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type")
      .orderBy(col("from_state"), col("to_state"))),

    // --- order-3 path mining: consecutive event-type trigram counts ---
    "q_transitions3" -> ((s, dir) => Sessionize.transitions3(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")),
        "user_id", "t_us", "event_id", "event_type")
      .orderBy(col("s1"), col("s2"), col("s3"))),

    // --- robust outliers: |v − median| > 5·MAD per event_type, median
    // and MAD rank-selected in integer centi-units ---
    "q_outliers" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"))
      graft.analysis.RobustStats.madOutliers(ev, "event_type", "value_c",
          "event_id")
        .orderBy(col("event_id"))
    }),

    // --- 10% winsorized mean per event type: tails clamped to the
    // rank-selected p10/p90 bounds, all integer ---
    "q_winsor" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"))
      graft.analysis.RobustStats.winsorMean(ev, "event_type", "value_c",
          "event_id")
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("winsor_sum"), col("winsor_mean"))
        .orderBy(col("event_type"))
    }),

    // --- send/recv matching: k-th send p->q pairs k-th recv at q from p ---
    "msg_match" -> ((s, dir) =>
      CommOps.matchMessages(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("k"))),

    // --- late-sender wait attribution per receiving process ---
    "comm_wait" -> ((s, dir) =>
      CommOps.commWait(TraceGen.commTrace(s, dir))
        .orderBy(col("process"))),

    // --- unmatched sends/recvs per channel (message-loss audit) ---
    "comm_unmatched" -> ((s, dir) =>
      CommOps.commUnmatched(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("side"))),

    // --- late-sender vs late-receiver wait classification per channel ---
    "comm_wait_classes" -> ((s, dir) =>
      CommOps.waitClasses(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"))),

    // --- eager→rendezvous switch: CUSUM argmax over size-ordered
    // matched-message latencies per channel ---
    "comm_protocol_switch" -> ((s, dir) =>
      CommOps.protocolSwitch(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"))),

    // --- per-channel message-latency order statistics (rank-selected,
    // integer ns — no interpolation, engine-exact) ---
    "comm_latency_pctl" -> ((s, dir) => {
      val m = CommOps.matchMessages(TraceGen.commTrace(s, dir))
        .withColumn("pair", concat_ws(">",
          col("src").cast("string"), col("dst").cast("string")))
      graft.analysis.RobustStats.percentiles(m, "pair", "latency_ns", "recv_event_id")
        .select(col("pair"), col("n"), col("p50").as("p50_ns"),
          col("p90").as("p90_ns"), col("max").as("max_ns"))
        .orderBy(col("pair"))
    }),

    // --- per-channel latency-vs-size cost-model fit (LogGP shape):
    // exact integer sufficient statistics, slope left to presentation ---
    "comm_fit" -> ((s, dir) =>
      CommOps.latencyModel(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"))),

    // --- critical-path-style stall chain from the last late stall ---
    "comm_stall_chain" -> ((s, dir) =>
      graft.analysis.CriticalPath.stallChain(TraceGen.commTrace(s, dir))
        .orderBy(col("hop"))),

    // --- full critical path: the stall chain interleaved with the
    // compute segments between message dependencies ---
    "trace_critical_path" -> ((s, dir) =>
      graft.analysis.CriticalPath.criticalPath(TraceGen.commTrace(s, dir))
        .orderBy(col("seq"))),

    // --- cohort retention matrix over the event stream ---
    "q_retention" -> ((s, dir) => Sessionize.cohortRetention(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
      .orderBy(col("cohort_day"), col("day_offset"))),

    // --- survival sufficient stats: per lifetime age, users at risk
    // and ended (the Kaplan-Meier inputs, exact integers) ---
    "q_survival" -> ((s, dir) => Sessionize.survivalCounts(
        TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
      .select(col("age").cast("long").as("age"), col("n_ended"),
        col("n_at_risk").cast("long").as("n_at_risk"))
      .orderBy(col("age"))),

    // --- market-basket rules: co-purchased part pairs with integer
    // micro-unit confidence/lift ---
    "q_basket_rules" -> ((s, dir) =>
      graft.analysis.Basket.pairRules(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L,
          biIn = Some(basketBi(s, dir)),
          pairSupIn = Some(basketPairSup(s, dir)))
        .orderBy(col("a"), col("b"))),

    // --- frequent TRIPLES via Apriori level-wise pruning; the oracle
    // runs the unpruned brute-force 3-way self-join, so the green row
    // proves the pruning lossless ---
    "basket_itemsets" -> ((s, dir) =>
      graft.analysis.Basket.frequentTriples(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L,
          biIn = Some(basketBi(s, dir)),
          pairSupIn = Some(basketPairSup(s, dir)))
        .orderBy(col("a"), col("b"), col("c"))),

    // --- cohort LTV: per (acquisition cohort, age) revenue + running
    // cumulative, integer cents throughout ---
    "q_cohort_ltv" -> ((s, dir) => Sessionize.cohortValue(
        TraceGen.eventsTable(s, dir)
          .withColumn("t_us", expr("ts div 1000"))
          .withColumn("value_c", round(col("value") * 100).cast("long")))
      .select(col("cohort_day").cast("long").as("cohort_day"),
        col("age").cast("long").as("age"), col("revenue"),
        col("n_users"), col("cum_revenue"))
      .orderBy(col("cohort_day"), col("age"))),

    // --- text analysis ---
    "text_stats" -> ((s, dir) => TextOps.textStats(T(s, dir, "documents"))
      .orderBy(col("doc_id"))),

    // --- char-distribution entropy (gibberish/blob detector), integer
    // micro-unit log sufficient statistics ---
    "text_entropy" -> ((s, dir) => TextOps.charEntropy(T(s, dir, "documents"))
      .orderBy(col("doc_id"))),

    "token_count" -> ((s, dir) => T(s, dir, "documents")
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("ws_tokens"),
        size(TextOps.bpeishTokens(col("text"))).as("bpeish_tokens"))
      .orderBy(col("doc_id"))),

    // --- token-balanced training shards: serpentine deal over the
    //     token-count-sorted corpus; the manifest shows the balance ---
    "shard_manifest" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("toks"))
      graft.scale.Layout.balancedShards(docs, "toks", "doc_id", 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tok_sum"))
        .orderBy(col("shard"))
    }),

    // --- fixed-length context packing (GPT-style concat-and-chunk):
    // the corpus token stream in doc_id order cut into 128-token
    // training examples — per example: docs spanned, first/last doc,
    // real-token fill vs tail padding; distributed prefix sum, never a
    // physical concatenation ---
    "pack_contexts" -> ((s, dir) =>
      Curation.packContexts(T(s, dir, "documents"), 128)
        .orderBy(col("example_id"))),

    // --- the composed dataloader: pack the SAME 128-token contexts in
    // the mixture-weighted epoch order (src0 4x, src1 2x) instead of id
    // order — what batch N of training actually contains under the
    // sampling policy ---
    "pack_mixture" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val ordered = Curation.epochOrder(docs, Seq("src0" -> 4, "src1" -> 2))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      Curation.packContexts(ordered, 128, orderCol = "pos")
        .orderBy(col("example_id"))
    }),

    // --- the attention/loss-mask sidecar of pack_contexts: for every
    // document that STARTS inside a 128-token example, the example and
    // in-example offset of its first token (+ whether it spills into the
    // next example) — what a document-masking dataloader turns into the
    // per-example block-diagonal attention mask ---
    "pack_boundaries" -> ((s, dir) =>
      Curation.packBoundaries(T(s, dir, "documents"), 128)
        .orderBy(col("example_id"), col("start_offset"))),

    // --- best-fit-decreasing whole-item packing: documents chunked to
    // <=128 tokens, then BFD-packed per source (the bounded sequential
    // group) — items never split across examples, tail padding near
    // zero; the padding-averse twin of pack_contexts. chunk_key packs
    // (doc_id, chunk_id) into one BIGINT with a 2^20 chunk bound
    // (134M tokens/doc); a doc over the bound errors loudly in BOTH
    // engines instead of silently colliding keys and making the
    // (n DESC, chunk_key) tie-break nondeterministic ---
    "pack_bestfit" -> ((s, dir) => {
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
    }),

    "text_quality" -> ((s, dir) => TextOps.qualityScore(T(s, dir, "documents"))
      .orderBy(col("doc_id"))),

    "text_langid" -> ((s, dir) => langidPred(s, dir)
      .select(col("doc_id"), col("predicted_lang")).orderBy(col("doc_id"))),

    // --- langid EVALUATION: predicted-vs-labeled confusion matrix ---
    "langid_confusion" -> ((s, dir) => langidPred(s, dir)
      .join(T(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("actual_lang")), Seq("doc_id"))
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual_lang"), col("predicted_lang"))),

    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprint(T(s, dir, "documents"))
      .orderBy(col("doc_id"), col("pos"))),

    // --- keyword extraction: per-doc top-3 TF-IDF terms, integer idf ---
    "tfidf_topterms" -> ((s, dir) =>
      TextOps.tfidfTopTerms(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rn"))),

    // --- Heaps'-law vocabulary growth over doc-id order ---
    "vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(T(s, dir, "documents"))
        .orderBy(col("bucket"))),

    // --- per-doc novelty: how many of a doc's shingles appear here
    // first (memorization/contamination direction signal) ---
    "doc_novelty" -> ((s, dir) => {
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
    }),

    // --- per-source Zipf rank-frequency fit (integer milli-log sums) ---
    "zipf_fit" -> ((s, dir) => TextOps.zipfFit(T(s, dir, "documents"))
      .orderBy(col("g"))),

    // --- source-pair unigram cross-entropy (domain similarity matrix) ---
    "source_crossent" -> ((s, dir) =>
      TextOps.sourceCrossEntropy(T(s, dir, "documents"))
        .orderBy(col("src_a"), col("src_b"))),

    // --- dedup family ---
    "dedup_exact" -> ((s, dir) => Dedup.exact(T(s, dir, "documents"))
      .orderBy(col("representative"))),

    "minhash_sig" -> ((s, dir) => minhashSigs(s, dir)
      .orderBy(col("doc_id"), col("seed"))),

    // --- LSH banding parameter sweep over one signature table ---
    "lsh_tuning" -> ((s, dir) =>
      Dedup.lshTuning(minhashSigs(s, dir))
        .orderBy(col("bands"))),

    "minhash_pairs" -> ((s, dir) => Dedup.minhashLshPairs(minhashSigs(s, dir))
      .orderBy(col("a"), col("b"))),

    "simhash" -> ((s, dir) => simhashTab(s, dir).orderBy(col("doc_id"))),

    // --- simhash NEAR-dup pairs: the 60-bit signature split into 32-bit
    // halves and banded through the same lossless Hamming-LSH as
    // image_neardup, over distinct signatures. 4 bands of 16 bits (not
    // 8 of 8): radius 3 < 4 keeps the lossless bound, and the top band
    // of a 60-bit hash then still carries 12 meaningful bits — with
    // 8-bit slices it carried 4, whose 16-key space made every bucket
    // ~n/16 and the candidate join quadratic-ish (measured 3.3 s;
    // 16-bit slices collapse it) ---
    "simhash_neardup" -> ((s, dir) => {
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
    }),

    // --- day-2 simhash near-dup: the %10==0 docs arrive as the new
    // batch and join the persisted 4x16-bit Hamming band index of
    // history's distinct signatures — completes the day-2 lattice for
    // the last fingerprint family (same lossless radius 3 < 4 bands) ---
    "simhash_neardup_incr" -> ((s, dir) => {
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
    }),

    // --- count-min sketch audit: exact top-20 vs CMS estimates ---
    "cms_topk" -> ((s, dir) =>
      graft.scale.Sketches.cmsHeavyHitters(T(s, dir, "documents"))
        .orderBy(col("exact_count").desc, col("token"))),

    // --- 64-register distinct-count sketch vs exact, per language ---
    "hll_distinct" -> ((s, dir) =>
      graft.scale.Sketches.hllDistinct(T(s, dir, "documents"))
        .orderBy(col("lang"))),

    // --- per-source curation report: which sources are worth keeping ---
    "source_profile" -> ((s, dir) => {
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
    }),

    // --- syndication: near-dup pairs crossing source boundaries ---
    "dup_cross_source" -> ((s, dir) =>
      Dedup.crossGroupPairs(T(s, dir, "documents"),
          pairs = Some(Dedup.minhashLshPairs(minhashSigs(s, dir))))
        .orderBy(col("a"), col("b"))),

    // --- the syndication MATRIX: cross-source near-dup pairs rolled up
    // to (source_lo, source_hi) counts — which domains republish which;
    // the per-pair table is dup_cross_source, this is the report a
    // crawl-dedup policy actually reads ---
    "dup_source_matrix" -> ((s, dir) =>
      Dedup.crossGroupPairs(T(s, dir, "documents"),
          pairs = Some(Dedup.minhashLshPairs(minhashSigs(s, dir))))
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("src_lo"), col("src_hi"))),

    // --- alignment stage after near-dup detection: per LSH candidate
    // pair, the longest contiguous token span both sides share (diagonal
    // runs of matched positional shingles) — the quote-vs-clone extent
    // a plagiarism/dedup policy thresholds on ---
    "pair_align_span" -> ((s, dir) =>
      Dedup.pairMaxSharedSpan(
          Dedup.minhashLshPairs(minhashSigs(s, dir)).select("a", "b"),
          T(s, dir, "documents"))
        .orderBy(col("a"), col("b"))),

    // --- pivot: source x language count matrix ---
    "q_pivot" -> ((s, dir) => T(s, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .count()
      .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
      .orderBy(col("source"))),

    "ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), 3, 0.1, maxShingleDf = 1000,
          statsIn = Some(shinglePairStats(s, dir)))
        .orderBy(col("a"), col("b"))),

    // --- asymmetric containment: subset/quote near-dups Jaccard misses ---
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), 3, 0.5, maxShingleDf = 1000,
          statsIn = Some(shinglePairStats(s, dir)))
        .orderBy(col("a"), col("b"))),

    // --- EXACT threshold-Jaccard join, lossless prefix filtering
    // (AllPairs/PPJoin): rare-token prefixes index, full sets verify ---
    "jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(T(s, dir, "documents"), 3, 1, 5)
        .orderBy(col("a"), col("b"))),

    // --- day-2 ingest for the exact-Jaccard family: docs with
    // doc_id % 10 == 0 arrive as the new batch and join the persisted
    // prefix index of the rest — emits exactly the full run's verified
    // pairs that touch >= 1 new doc, without re-shingling history ---
    "jaccard_prefix_incr" -> ((s, dir) =>
      storedIndex(s, dir, "idx_jaccard_prefix")(
          graft.scale.IndexStore.JaccardPrefixIndex(
            jpIndexDf(s, dir), jpIndexDocs(s, dir), 3, 1, 5, "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))),

    // --- per-source token budget: best-first fill, boundary doc may
    // overflow (src0 squeezed to 300 tokens, everyone else 800) ---
    "sample_budget" -> ((s, dir) =>
      Curation.budgetTruncate(T(s, dir, "documents"),
          Seq("src0" -> 300L), defaultBudget = 800L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("quality"), col("cum_before"))
        .orderBy(col("doc_id"))),

    // --- per-source quota: rank by quality, keep the top 20 per source ---
    "q_domain_cap" -> ((s, dir) =>
      Curation.capPerGroup(
        T(s, dir, "documents").withColumn("quality", TextOps.quality(col("text"))),
        "source", 20, col("quality"))
        .select(col("source"), col("rn"), col("doc_id"), col("quality"))
        .orderBy(col("source"), col("rn"))),

    "minhash_estimate" -> ((s, dir) => {
      val sigs = minhashSigs(s, dir)
      Dedup.minhashEstimate(Dedup.minhashLshPairs(sigs), sigs)
        .orderBy(col("a"), col("b"))
    }),

    // --- LSH candidate precision vs EXACT Jaccard at tau = 1/2 ---
    "lsh_precision" -> ((s, dir) =>
      Dedup.lshPrecision(T(s, dir, "documents"),
        Dedup.minhashLshPairs(minhashSigs(s, dir)))),

    "dedup_components" -> ((s, dir) =>
      lshComponents(s, dir).orderBy(col("node"))),

    // --- day-2 COMPONENTS: yesterday's labels + the incremental pair
    // join's new edges, contracted to a new-batch-sized super-graph —
    // the oracle recomputes components from scratch over the full edge
    // set, so the green row proves the merge equals full recomputation ---
    "dedup_components_incr" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val newEdges = storedIndex(s, dir, "idx_minhash_hist")(
          graft.scale.IndexStore.buildMinhashLsh(
            docs.filter(col("doc_id") % 10 =!= 0)))
        .probe(docs.filter(col("doc_id") % 10 === 0))
      Dedup.componentsIncremental(lshComponentsHist(s, dir), newEdges)
        .orderBy(col("node"))
    }),

    // --- LSH candidate RECALL against the LOSSLESS exact-Jaccard join
    // (lsh_precision's missing half): what fraction of the true pairs
    // at tau = 1/5 and tau = 1/2 the banding surfaces — the eval that
    // says whether 16 sigs / 4 bands is enough before trusting the
    // candidate path at corpus scale ---
    "lsh_recall" -> ((s, dir) => {
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
    }),

    "dedup_retained_best" -> ((s, dir) =>
      Dedup.keepBestByComponents(T(s, dir, "documents"),
          lshComponents(s, dir), "n_chars")
        .select(col("doc_id")).orderBy(col("doc_id"))),

    "dedup_retained" -> ((s, dir) =>
      Dedup.dropByComponents(T(s, dir, "documents"), lshComponents(s, dir))
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // --- near-dup cluster size histogram (the dedup audit: how much of
    // the clustered mass sits in pairs vs boilerplate mega-clusters) ---
    "dedup_cluster_sizes" -> ((s, dir) =>
      lshComponents(s, dir)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    "pq_codes" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.pqEncode(emb, embCodebooks(s, dir)).orderBy(col("vec_id"))
    }),

    "ann_pq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cbs = embCodebooks(s, dir)
      Similarity.pqTopK(Similarity.pqEncode(emb, cbs),
        emb.filter(col("vec_id") < 10), cbs)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- PQ recall audit: brute-force top-5 ∩ PQ top-5, integer hits ---
    "ann_pq_recall" -> ((s, dir) => {
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
    }),

    "ann_ivfpq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
          coarseCentroids = Some(embCentroids(s, dir)),
          codebooks = Some(embCodebooks(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- corpus curation: repetition, PII, sampling, quantiles ---
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(T(s, dir, "documents")).orderBy(col("doc_id"))),

    // --- Gopher rule-based filter: per-doc boolean verdicts, every ratio
    // threshold via integer cross-multiplication (minWords dialed to the
    // synthetic corpus's short docs) ---
    "gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(T(s, dir, "documents"), minWords = 5L)
        .orderBy(col("doc_id"))),

    // --- Distinct-n diversity per source: templated/boilerplate sources
    // show low distinct-2/3 ratios ---
    "distinct_ngrams" -> ((s, dir) =>
      TextOps.distinctNgrams(T(s, dir, "documents"))
        .orderBy(col("source"), col("n"))),

    // --- training-mix allocation: targets vs availability per source,
    // epochs and deficits for a 100k-token budget at weights 4:2:1 ---
    "mix_plan" -> ((s, dir) =>
      Curation.mixPlan(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2, "src2" -> 1, "src3" -> 1,
            "src4" -> 1),
          budgetTokens = 100000L)
        .orderBy(col("source"))),

    // --- SoftDeDup: mean shingle document-frequency per doc and the
    // reciprocal sampling weight — dedup as downweighting, not deletion ---
    "soft_dedup" -> ((s, dir) =>
      Dedup.softDedupWeights(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "text_logprob" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.unigramLogProb(docs, docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("doc_id"))
    }),

    // --- CCNet head/middle/tail bucketing: per-language perplexity
    // terciles under the unigram LM (integer micro-unit NLL scores,
    // exact keyed-quantile boundaries — no per-language global sort);
    // "head" is the most-fluent third CCNet ships first ---
    "ccnet_buckets" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.ccnetBuckets(docs, docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("lang"), col("bucket"))
    }),

    // --- bigram-conditional LM score (the next CCNet rung above the
    // unigram proxy): catches locally-scrambled text unigrams miss;
    // the model's two count tables are memoized (train once, score
    // many — the LM twin of the k-means/PQ model caches) ---
    "text_logprob2" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.bigramLogProbFrom(docs,
          bigramUni(s, dir), bigramBi(s, dir))
        .orderBy(col("doc_id"))
    }),

    // --- Naive Bayes classifier filter (the model-based keep/drop gate
    // of CCNet/fineweb-edu-style pipelines): train multinomial NB on the
    // %5!=0 labeled split, classify the held-out %5==0 docs; scores are
    // term-level integer-micro logs so pred/margin are engine-exact ---
    "text_nb_classify" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.naiveBayes(docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("pred"), col("lang"),
          (col("pred") === col("lang")).cast("int").as("correct"),
          col("score_m"), col("margin_m"))
        .orderBy(col("doc_id"))
    }),

    // --- streaming NB classifier's plan run in batch mode (the
    // streaming-oracle-hook convention): frozen model as a wide
    // stream-static join table, ONE windowed agg + stateless argmax
    // projection; event time derived from doc_id so the oracle can
    // recompute the 10 s windows ---
    "stream_nb_endstate" -> ((s, dir) => {
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
    }),

    // --- per-cluster embedding outliers: farthest-from-centroid docs,
    // the OOD/garbage review queue of embedding-based curation ---
    "emb_outliers" -> ((s, dir) =>
      Similarity.clusterOutliers(T(s, dir, "embeddings"),
          embCentroids(s, dir))
        .orderBy(col("cluster"), col("rank"))),

    "text_pii" -> ((s, dir) => {
      // corpus text is digit-free word soup, so PII extraction would be
      // vacuous on it; plant deterministic doc_id-derived PII in BOTH
      // engines and verify counts + the md5 of the redacted text
      val planted = T(s, dir, "documents")
        .select(col("doc_id"), expr(PiiPlantExpr).as("text"))
      TextOps.piiStats(planted)
        .join(planted.select(col("doc_id"),
          md5(TextOps.redactPii(col("text"))).as("redacted_md5")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "sample_hash" -> ((s, dir) =>
      Curation.hashSample(T(s, dir, "documents"), 0.2)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    "sample_stratified" -> ((s, dir) =>
      Curation.stratifiedSample(T(s, dir, "documents"), "lang", 10)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn"))),

    "sample_mix" -> ((s, dir) => {
      val rates = s.createDataFrame(MixRates).toDF("lang", "rate")
      Curation.mixSample(T(s, dir, "documents"), rates, "lang")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // --- temperature-flattened mixture (rates derived from counts) ---
    "sample_temperature" -> ((s, dir) =>
      Curation.temperatureSample(T(s, dir, "documents"), "lang")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    "quality_quantiles" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.groupQuantiles(
        TextOps.qualityScore(docs)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "quality", "lang", Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy(col("lang"))
    }),

    "chunk_docs" -> ((s, dir) =>
      Curation.chunkDocs(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // --- content-defined chunking: gear rolling hash with md5-derived
    // per-char weights; boundaries where the low 6 hash bits are zero.
    // A narrow codegen'd scan + posexplode — ZERO shuffle; chunk_md5 is
    // the insertion-stable delta-dedup key ---
    "cdc_chunks" -> ((s, dir) =>
      TextOps.cdcChunks(T(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // --- CDC chunks composed into the dedup signal they exist for:
    // per-doc count/chars of chunks whose hash appears in another doc.
    // All three shuffles are keyed (md5 agg, md5 join-back, doc agg) —
    // the shape that holds at 100 TB; no window over the full corpus ---
    // --- day-2 CDC dedup: the %10==0 batch chunked and probed against
    // the persisted chunk store of history; equals the full rerun
    // restricted to the batch (oracle = full SQL + that filter) ---
    "cdc_dedup_incr" -> ((s, dir) =>
      storedIndex(s, dir, "idx_cdc")(
          graft.scale.IndexStore.CdcIndex(cdcIndexHist(s, dir), 8, 6,
            "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))),

    "cdc_dedup" -> ((s, dir) => {
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
    }),

    "vocab_top" -> ((s, dir) => {
      val toks = T(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok"))
      toks.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("tok"), col("c"))
        .orderBy(col("lang"), col("rn"))
    }),

    "decontaminate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // stand-in eval suite: every 97th document
      Curation.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    }),

    // --- Bloom-filter decontamination: constant-memory benchmark set ---
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.bloomDecontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    }),

    "pack_batches" -> ((s, dir) =>
      Curation.packBatches(T(s, dir, "documents"), 1024L)
        .orderBy(col("doc_id"))),

    "docs_curated" -> ((s, dir) =>
      Curation.curate(T(s, dir, "documents"), 0.9283, 0.40,
          components = Some(lshComponents(s, dir)))
        .select(col("doc_id"), col("quality"), col("unique_token_ratio"),
          col("is_near_dup").cast("int").as("is_near_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("doc_id"))),

    // --- the curation pipeline as an auditable funnel: survivor
    // counts at each gate (quality → repetition → near-dup) ---
    "pipeline_funnel" -> ((s, dir) =>
      Curation.curate(T(s, dir, "documents"), 0.9283, 0.40,
          components = Some(lshComponents(s, dir)))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("quality") >= 0.9283, 1L).otherwise(0L))
            .as("n_quality"),
          sum(when(col("quality") >= 0.9283 &&
              col("unique_token_ratio") >= 0.40, 1L).otherwise(0L))
            .as("n_quality_ratio"),
          sum(when(col("is_near_dup"), 1L).otherwise(0L)).as("n_near_dup"),
          sum(when(col("retained"), 1L).otherwise(0L)).as("n_retained"))),

    // --- similarity search ---
    "ann_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- cross-lingual margin mining: best de candidate per en doc by
    // the ratio-margin criterion, integer micro-units end to end; the
    // scored pair table is a shared memoized artifact (margin + mutual
    // are two windows over the SAME scoring run) ---
    "xlingual_margin" -> ((s, dir) =>
      Bitext.marginFromScored(bitextScored(s, dir))
        .orderBy(col("src_id"))),

    // --- mutual best matches: b is a's argmax AND a is b's (the
    // deployed mining criterion; hubs keep at most one pair) ---
    "xlingual_mutual" -> ((s, dir) =>
      Bitext.mutualFromScored(bitextScored(s, dir))
        .orderBy(col("src_id"))),

    // --- candidate-FED margin mining: the corpus-scale Bitext path —
    // candidates come from a keyed bucket join (here: equal embedding
    // label, the SQL-expressible stand-in for clusterCandidates'
    // kmeans-probe buckets), margins computed within the candidate set;
    // never the |src|×|dst| cross product ---
    "xlingual_margin_cand" -> ((s, dir) => {
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
    }),

    // --- day-2 bitext: a NEW batch of src docs (doc_id % 10 == 0)
    // mined against the PERSISTED pivot index of the day-1 reference
    // run — frozen dst neighborhood stats, fresh src neighborhoods,
    // the streaming miner's semantics as a batch broadcast join (no
    // driver collect anywhere in the index build or the mining) ---
    "xlingual_day2" -> ((s, dir) => {
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
    }),

    // --- candidate-generation RECALL audit: what fraction of the
    // brute-force mined pairs the cluster-probe candidates cover at
    // nprobe=2 under the session's shared quantizer — the eval that
    // picks nprobe before trusting the corpus-scale path (lsh_tuning's
    // bitext sibling) ---
    "xlingual_cand_recall" -> ((s, dir) => {
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
    }),

    // --- SQ8 scalar quantization: per-dim [min,max] fit (cached like
    // the k-means/PQ models), codes packed by a codegen'd loop — the
    // exploded (vec,dim,code) form is presentation-only ---
    "sq8_codes" -> ((s, dir) => {
      val (mn, mx) = embSq8(s, dir)
      Similarity.sq8Codes(T(s, dir, "embeddings"), mn, mx)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("d", "code")))
        .select(col("vec_id"), (col("d") + 1).as("dim"), col("code"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // --- symmetric SQ8 search: integer code-space distance, so the
    // ranking is engine-exact (no float-summation-order flake) ---
    "ann_sq8" -> ((s, dir) => {
      val (mn, mx) = embSq8(s, dir)
      val emb = T(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), 5, mn, mx)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- filtered vector search: top-k under a metadata predicate,
    // pushed BEFORE the distance scan (filter-then-search, so selective
    // predicates shrink the scan instead of post-filtering the top-k
    // short — the difference between 5 results and 2 at high
    // selectivity) ---
    "ann_filtered" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("label") === 2),
          emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- Euclidean (squared-distance) top-k, metric twin of ann_topk ---
    "ann_topk_l2" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.l2TopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- JL random projection 64 -> 16 dims (long form) ---
    "rp_reduce" -> ((s, dir) =>
      Similarity.randomProject(T(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("d", "v")))
        .orderBy(col("vec_id"), col("d"))),

    // --- binary quantization: sign-bit pack + Hamming first pass ---
    "ann_hamming" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 5))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- two-stage: Hamming candidates -> exact-cosine rerank ---
    "ann_hamming_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.hammingRerank(emb, emb.filter(col("vec_id") < 5))
        .orderBy(col("query_id"), col("rank"))
    }),

    "ann_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "emb_neardup" -> ((s, dir) =>
      Similarity.cosinePairs(T(s, dir, "embeddings"), 0.3)
        .orderBy(col("a"), col("b"))),

    "lsh_buckets" -> ((s, dir) =>
      Similarity.lshBuckets(T(s, dir, "embeddings"), 8)
        .orderBy(col("vec_id"))),

    "kmeans_assign" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.kmeansAssign(emb, embCentroids(s, dir))
        .orderBy(col("vec_id"))
    }),

    // --- greedy k-center diverse sampling per cluster (Gonzalez
    // farthest-point, exact micro-integer distances) — the coreset /
    // diverse-subset selection stage of a data-pruning pipeline ---
    "diverse_kcenter" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.kcenterSample(emb, embCentroids(s, dir))
        .orderBy(col("cluster"), col("pick"))
    }),

    "ann_ivf_learned" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),

    "ann_ivf_probe2" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5, nprobe = 2,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- IVF as a DISK layout: partition-pruned inverted-list search ---
    "ann_ivf_disk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.searchIvfIndex(s, ivfIndexPath(s, dir),
          emb.filter(col("vec_id") < 10), embCentroids(s, dir), 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- multimodal plumbing (stubbed decode; real schema/partitioning) ---
    "multimodal_features" -> ((s, dir) => {
      val withPayload = T(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val feats = Multimodal.extractFeatures(withPayload)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.n_frames").as("n_frames"),
          round(col("features.mean_luma"), 6).as("mean_luma"))
      Multimodal.sampleFrames(feats, "n_frames", 2)
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("mean_luma"), size(col("sampled_frames")).as("n_sampled"))
        .orderBy(col("doc_id"))
    }),

    // --- REAL image decode: deterministic PGM payloads round-tripped
    //     through the binary P5 parser; oracle recomputes the pixel
    //     arithmetic directly ---
    "image_features" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
          (id, Multimodal.encodePgm(w, h, i => ((id * 31 + i * 7) % 256).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload, decoder = Multimodal.decodePgm)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          round(col("features.mean_luma"), 6).as("mean_luma"))
        .orderBy(col("doc_id"))
    }),

    // --- perceptual image dedup: 64-bit average hash through the REAL
    // PGM decode (8x8 nearest-neighbor sample, floor-mean threshold);
    // payload content keyed on doc_id % 50 so ~10 docs share each
    // planted image and hash-groupBy finds the duplicate groups —
    // image dedup as the same shape as text dedup_exact ---
    "image_phash" -> ((s, dir) => {
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
    }),

    // --- NEAR-duplicate image dedup: Hamming-LSH over the 64-bit
    // perceptual hash. Plants a PERTURBED variant of each group's image
    // ((doc_id/50)%2 == 1 replaces raw pixel 0 — flips 0-6 hash bits),
    // collapses to distinct hashes first (the 100 TB shape: near-dup
    // cardinality is #unique images, not #docs), then 8-band Hamming-LSH
    // + codegen'd VecHamming verification at radius 6 — provably equal to
    // the oracle's brute-force Hamming join because radius < bands ---
    "image_neardup" -> ((s, dir) => {
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
    }),

    // --- day-2 ingest for image near-dup: the %10==0 docs arrive as the
    // new batch and join the persisted Hamming band index of the rest —
    // a shared hash surfaces as the (index rep, new rep) distance-0
    // pair, i.e. "new image is a duplicate of history" ---
    "image_neardup_incr" -> ((s, dir) => {
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
    }),

    // --- resize-then-featurize: nearest-neighbor normalization to a
    // fixed 4x3 ahead of feature extraction (the vision-pipeline
    // preprocessing shape), integer source grid so the oracle can
    // recompute the exact resized raster ---
    "image_resize" -> ((s, dir) => {
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
    }),

    // --- REAL pprof decode: per-doc protobuf profile blobs (the
    //     Go/async-profiler/py-spy export format) parsed by the
    //     from-scratch wire-format reader, fleet flat profile as
    //     decode + groupBy ---
    "pprof_flat" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val names = Seq("main", s"work_${id % 3}", s"leaf_${id % 5}")
          val blobs = graft.ingest.PprofReader.encode(names, Seq(
            (Seq(3, 2, 1), 10L + id % 7),
            (Seq(2, 1), 1L + id % 4)),
            gzip = id % 2 == 0)
          (id, blobs)
        }.toDF("doc_id", "payload")
      graft.ingest.PprofReader.samples(withPayload)
        .groupBy(col("leaf_function"))
        .agg(count(lit(1)).as("n_samples"), sum(col("value")).as("total"),
          max(col("stack_depth")).as("max_depth"))
        .orderBy(col("leaf_function"))
    }),

    // --- folded stacks (flamegraph.pl interchange) straight from the
    //     decoded pprof samples: one groupBy is the flame graph ---
    "pprof_folded" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val names = Seq("main", s"work_${id % 3}", s"leaf_${id % 5}")
          (id, graft.ingest.PprofReader.encode(names, Seq(
            (Seq(3, 2, 1), 10L + id % 7),
            (Seq(2, 1), 1L + id % 4))))
        }.toDF("doc_id", "payload")
      graft.ingest.PprofReader.samples(withPayload)
        .groupBy(col("stack_folded"))
        .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
        .orderBy(col("stack_folded"))
    }),

    // --- profile diff (pprof -diff_base semantics): per-leaf totals
    //     of the "after" fleet half minus the "before" half ---
    "pprof_diff" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val names = Seq("main", s"leaf_${id % 5}")
          (id, graft.ingest.PprofReader.encode(names,
            Seq((Seq(2, 1), 10L + id % 7))))
        }.toDF("doc_id", "payload")
      graft.ingest.PprofReader.samples(withPayload)
        .withColumn("side", (col("doc_id") % 2).cast("int"))
        .groupBy(col("leaf_function"))
        .agg(sum(when(col("side") === 0, col("value")).otherwise(0L))
            .as("before_total"),
          sum(when(col("side") === 1, col("value")).otherwise(0L))
            .as("after_total"))
        .withColumn("delta", col("after_total") - col("before_total"))
        .orderBy(col("leaf_function"))
    }),

    // --- REAL video decode: deterministic Y4M (YUV4MPEG2) payloads
    //     round-tripped through the header/FRAME parser; every 2nd
    //     frame's luma plane folded into an exact integer sum ---
    "video_features" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = (4 + (id % 3) * 2).toInt; val h = (4 + (id % 2) * 2).toInt
          val n = (3 + id % 4).toInt
          (id, Multimodal.encodeY4m(w, h, n,
            (f, i) => ((id * 13 + f * 5 + i * 3) % 256).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload,
          decoder = Multimodal.decodeY4m(_),
          featSchema = Multimodal.videoFeatureSchema)
        .select(col("doc_id"), col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.n_frames").as("n_frames"),
          col("features.n_sampled").as("n_sampled"),
          col("features.luma_sum").as("luma_sum"))
        .orderBy(col("doc_id"))
    }),

    // --- trim-robust VIDEO near-dup: every frame's luma plane hashed
    // through the real Y4M decode (8x8 mean-threshold aHash), then the
    // frame-hash SET feeds the exact-Jaccard join (shingleK=1) — a
    // head-trimmed copy ((doc_id/30)%2==1 drops frame 0) keeps
    // (n-1)/n >= 3/4 of its hashes and survives tau=2/3; different
    // videos stay below 1/3. Video dedup composed from the existing
    // text machinery, no new join code ---
    "video_neardup" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(videoTokenDocs(s, dir), shingleK = 1,
          tauNum = 2, tauDen = 3)
        .orderBy(col("a"), col("b"))),

    // --- day-2 video near-dup: the %10==0 videos arrive as the new
    // batch (decoded + frame-hashed batch-side only) and join the
    // persisted exact-Jaccard prefix index of history — equals the full
    // rerun restricted to batch-touching pairs ---
    "video_neardup_incr" -> ((s, dir) => {
      val docs = videoTokenDocs(s, dir)
      storedIndex(s, dir, "idx_video_jaccard")(
          graft.scale.IndexStore.buildJaccardPrefix(
            docs.filter(col("doc_id") % 10 =!= 0), shingleK = 1,
            tauNum = 2, tauDen = 3))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    }),

    // --- REAL audio decode: deterministic 16-bit PCM WAV payloads
    //     round-tripped through the RIFF parser; amplitude mean in
    //     integer micro-units (abs_sum exact, division integral) ---
    // --- audio dedup: 32-bit amplitude-envelope fingerprint through the
    // REAL WAV decode; payload content keyed on doc_id % 40 so planted
    // recordings share fingerprints and hash-groupBy finds the groups —
    // the audio leg of the text/image/audio dedup trio ---
    "audio_fingerprint" -> ((s, dir) => {
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
    }),

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
    "audio_neardup" -> ((s, dir) => {
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
    }),

    // --- day-2 audio near-dup: the %7==0 recordings arrive as the new
    // batch (decoded + fingerprinted batch-side only) and join the
    // persisted Hamming band index of history — same lossless banding
    // (radius < bands), pairs touching a new node only ---
    "audio_neardup_incr" -> ((s, dir) => {
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
    }),

    "audio_features" -> ((s, dir) => {
      import s.implicits._
      val withPayload = T(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val n = (50 + id % 37).toInt
          (id, Multimodal.encodeWav(1, 8000, n,
            i => (((id * 37 + i * 11) % 65536) - 32768).toInt))
        }.toDF("doc_id", "payload")
      Multimodal.extractFeatures(withPayload, decoder = Multimodal.decodeWav,
          featSchema = Multimodal.audioFeatureSchema)
        .select(col("doc_id"), col("features.n_channels").as("n_channels"),
          col("features.sample_rate").as("sample_rate"),
          col("features.n_samples").as("n_samples"),
          col("features.abs_sum").as("abs_sum"),
          expr("features.abs_sum * 1000000L div (features.n_samples * 32768L)")
            .as("mean_abs_micro"))
        .orderBy(col("doc_id"))
    }),

    // --- substring-level dedup audit (Lee et al. 2022, fixed-k spans) ---
    "dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // --- MAXIMAL duplicated regions (the Lee et al. removal unit):
    // overlapping duplicated 3-gram positions merged into maximal
    // token ranges via the per-doc gaps-and-islands scan — region
    // count, duplicated token mass, longest region per doc ---
    "dup_spans_maximal" -> ((s, dir) =>
      Dedup.maximalDupSpans(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // --- exact-substring dedup REMOVAL: tokens covered by a maximal
    // duplicated region dropped, cleaned text rebuilt and md5-pinned ---
    "dup_spans_removed" -> ((s, dir) =>
      Dedup.dupSpansRemoved(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // --- day-2 exact-substring removal: the %10==0 batch cleaned
    // against the persisted shingle SET of history; for the new docs
    // this equals the full rerun restricted to the batch, so the
    // oracle IS the full-corpus SQL with that filter ---
    "dup_spans_removed_incr" -> ((s, dir) =>
      storedIndex(s, dir, "idx_shingle")(
          graft.scale.IndexStore.ShingleIndex(shingleIndexHist(s, dir), 3,
            "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))),

    // --- DSIR importance weights vs. the English sub-corpus ---
    "dsir_weights" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.importanceWeights(docs, docs.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }),

    // --- canonical normalization before dedup (md5-verified text) ---
    "text_normalize" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          md5(TextOps.normalize(col("text"))).as("norm_md5"),
          length(TextOps.normalize(col("text"))).cast("long").as("norm_len"))
        .orderBy(col("doc_id"))),

    // --- weighted sample w/o replacement (quality-weighted, ES keys) ---
    "sample_weighted" -> ((s, dir) => {
      val scored = T(s, dir, "documents")
        .select(col("doc_id"), TextOps.quality(col("text")).as("quality"))
      Curation.weightedSample(scored, 50, "quality")
        .select(col("doc_id"), col("quality"), col("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
    }),

    // --- DSIR step 2: deterministic importance resampling ---
    "dsir_resample" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Curation.importanceResample(
          Curation.importanceWeights(docs, docs.filter(col("lang") === "en")))
        .orderBy(col("doc_id"))
    }),

    // --- BM25 more-like-this retrieval (first 5 docs as queries) ---
    "bm25_topk" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      TextOps.bm25TopK(docs, docs.filter(col("doc_id") < 5),
          scores = Some(bm25Scores5(s, dir)))
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- SemDeDup: k-means clusters -> within-cluster cosine components ---
    // --- SemDeDup, DEFAULT = the scale-safe AUTO policy: cluster count
    // grows with the corpus (k = ceil(n/64) — keeps the pair join's
    // sum-of-|c|^2 linear) and the quantizer fits on an md5-hash sample
    // (keeps Lloyd O(k^2*factor) instead of O(n*k)); one count job
    // decides both dials, and the oracle recomputes them from the data.
    // Measured at the 10x tiling: fixed k=8 was 15x sf0.1→sf1, auto-k
    // 3.2x — so k∝n is the default and fixed-k is the opt-in twin below ---
    "semdedup" -> ((s, dir) => {
      val (k, cents) = embAutoCentroids(s, dir)
      Similarity.semDeDup(T(s, dir, "embeddings"), 0.3, k,
          centroids = Some(cents))
        .select(col("vec_id"), col("cluster"),
          col("is_dup").cast("int").as("is_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("vec_id"))
    }),

    // --- the fixed-k opt-in twin (small corpora / pinned cluster
    // count); rides the shared session quantizer ---
    "semdedup_fixedk" -> ((s, dir) =>
      Similarity.semDeDup(T(s, dir, "embeddings"), 0.3,
          centroids = Some(embCentroids(s, dir)))
        .select(col("vec_id"), col("cluster"),
          col("is_dup").cast("int").as("is_dup"),
          col("retained").cast("int").as("retained"))
        .orderBy(col("vec_id"))),

    // --- day-2 SEMANTIC dedup: the %10==0 batch assigned under the
    // FROZEN session quantizer and cosine-verified against the
    // persisted assignment index of history (and itself) — every
    // near-dup pair touching a new vector, history x history never
    // re-scored; the embedding-cosine leg of the day-1/day-2 shape all
    // dedup families share ---
    "semdedup_incr" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      storedIndex(s, dir, "idx_semdedup_cluster")(
          graft.scale.IndexStore.buildClusterCosine(
            emb.filter(col("vec_id") % 10 =!= 0), embCentroids(s, dir),
            threshold = 0.3))
        .probe(emb.filter(col("vec_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    }),

    // --- true winnowing (MOSS) fingerprints: window minima ---
    "fingerprint_winnow" -> ((s, dir) =>
      winnowFp(s, dir).orderBy(col("doc_id"), col("pos"))),

    // --- MOSS match stage: pairs sharing >= 2 winnow fingerprints ---
    "winnow_pairs" -> ((s, dir) =>
      TextOps.winnowPairs(T(s, dir, "documents"), minShared = 2, maxFpDf = 100,
          fingerprints = Some(winnowFp(s, dir)))
        .orderBy(col("a"), col("b"))),

    // --- day-2 MOSS matching: the %10==0 batch against the persisted
    // winnow index of history + within-batch pairs; df cap on COMBINED
    // counts, so the result equals the full rerun's new-touching pairs
    // (the oracle is the full SQL with that filter) ---
    "winnow_pairs_incr" -> ((s, dir) =>
      storedIndex(s, dir, "idx_winnow")(
          graft.scale.IndexStore.WinnowIndex(winnowIndexHist(s, dir),
            minShared = 2, k = 3, w = 4, maxFpDf = 100, "text", "doc_id"))
        .probe(T(s, dir, "documents").filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))),

    // --- corpus-wide kNN graph (cluster-restricted self-join) ---
    "knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(T(s, dir, "embeddings"), 3,
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("vec_id"), col("rank"))),

    // --- kNN graph under the auto-k + sampled-fit policy (the measured
    // linearity dial: fixed k=8 was 54 s at the 10x tiling, k grown
    // with n was 8.4 s for the same output) ---
    "knn_graph_auto" -> ((s, dir) => {
      val (nc, cents) = embAutoCentroids(s, dir)
      Similarity.knnGraph(T(s, dir, "embeddings"), 3, nc,
          centroids = Some(cents))
        .orderBy(col("vec_id"), col("rank"))
    }),

    // --- NN-descent recall audit: the cluster-restricted kNN graph vs
    // one NN-descent round (deterministic random bridges + the local
    // neighbor-of-neighbor join), both scored against brute-force truth
    // over a fixed-size node sample. The cluster graph's 2-hop closure can
    // never leave a cluster, so this measures exactly what the bridges
    // + local join buy back of the IVF restriction's lost recall —
    // candidate sets stay keyed and degree-bounded, never all-pairs ---
    "knn_graph_nnd" -> ((s, dir) => {
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
    }),

    // --- per-cluster embedding drift between the even/odd halves ---
    "emb_drift" -> ((s, dir) =>
      Similarity.clusterDrift(T(s, dir, "embeddings"), embCentroids(s, dir))
        .orderBy(col("cluster"), col("d"))),

    // --- per-node triangle counts on the kNN graph (degree-ordered
    // orientation bounds wedge enumeration at O(m^1.5)) ---
    "graph_triangles" -> ((s, dir) => {
      val edges = Similarity.knnGraph(T(s, dir, "embeddings"), 3,
          centroids = Some(embCentroids(s, dir)))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.scale.GraphOps.triangles(edges).orderBy(col("node"))
    }),

    // --- IVF recall@5 against the exact brute-force neighbors ---
    "ann_recall" -> ((s, dir) => {
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
    }),

    // --- contrastive triples: embedding-training data from the corpus ---
    "contrastive_pairs" -> ((s, dir) =>
      Similarity.contrastiveTriples(T(s, dir, "embeddings"),
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("anchor"))),

    // --- PageRank over the kNN graph: central corpus documents.
    // The edge build (not the rank loop) dominated the sf1 sweep at
    // fixed k (21x) — it rides the auto-k quantizer now ---
    "graph_pagerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (nc, cents) = embAutoCentroids(s, dir)
      val edges = Similarity.knnGraph(emb, 3, nc, centroids = Some(cents))
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      graft.scale.GraphOps.pageRank(
          emb.select(col("vec_id").as("id")), edges, 3)
        .select(col("id").as("vec_id"), col("pr_micro"))
        .orderBy(col("vec_id"))
    }),

    // --- k-core of the co-purchase graph (parts sharing an order):
    // peels occasional pairings away until only the densely co-bought
    // cluster remains; k=65 cascades for several rounds at sf0.01 ---
    "graph_kcore" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.join(li.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
        .filter(col("pk") =!= col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
      graft.scale.GraphOps.kcore(edges, k = 65, maxRounds = 8)
        .orderBy(col("node"))
    }),

    // --- as-of join: last view at or before each purchase, per user ---
    "q_asof" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      AsOfJoin.asOfBackward(purchases, views, Seq("user_id"), "t_us", "t_us",
          "event_id", Seq("event_id" -> "view_event_id",
            "t_us" -> "view_t_us", "value" -> "view_value"))
        .select(col("event_id"), col("user_id"),
          col("view_event_id").cast("long").as("view_event_id"),
          (col("t_us") - col("view_t_us")).cast("long").as("wait_us"),
          round(col("view_value"), 4).as("view_value"))
        .orderBy(col("event_id"))
    }),

    // --- forward as-of: FIRST view at or after each purchase, per user ---
    "q_asof_fwd" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
      AsOfJoin.asOfForward(purchases, views, Seq("user_id"), "t_us", "t_us",
          "event_id", Seq("event_id" -> "view_event_id",
            "t_us" -> "view_t_us", "value" -> "view_value"))
        .select(col("event_id"), col("user_id"),
          col("view_event_id").cast("long").as("view_event_id"),
          (col("view_t_us") - col("t_us")).cast("long").as("wait_us"),
          round(col("view_value"), 4).as("view_value"))
        .orderBy(col("event_id"))
    }),

    // --- hybrid retrieval: RRF fusion of BM25 and embedding cosine ---
    "hybrid_topk" -> ((s, dir) => {
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
    }),

    // --- topic labels: top TF-IDF terms per k-means embedding cluster ---
    "cluster_terms" -> ((s, dir) =>
      Curation.clusterTopTerms(T(s, dir, "documents"), T(s, dir, "embeddings"),
          centroids = Some(embCentroids(s, dir)))
        .orderBy(col("cluster"), col("rank"))),

    // --- linear quality classifier (fastText-shape deployment) ---
    "quality_logreg" -> ((s, dir) =>
      Curation.logisticQuality(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // --- sequential conversion funnel: view -> click -> purchase ---
    "q_funnel" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      Sessionize.funnel(ev, Seq("view", "click", "purchase"),
          "user_id", "t_us", "event_type")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("depth"))
        .orderBy(col("user_id"))
    }),

    // --- semi/anti joins: customers with vs. without orders, per segment ---
    "q_semi_anti" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val orders = T(s, dir, "orders")
      val withO = cust.join(orders.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "leftsemi")
      val withoutO = cust.join(orders.select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "leftanti")
      cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .join(withO.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_with_orders")), Seq("c_mktsegment"), "left")
        .join(withoutO.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_without_orders")), Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"), col("n_customers"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // --- set operations: INTERSECT / EXCEPT over yearly customer sets ---
    "q_setops" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      def buyers(yr: Int) = orders.filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey")).distinct()
      val both = buyers(1995).intersect(buyers(1996))
      val churned = buyers(1995).except(buyers(1996))
      both.select(col("o_custkey"), lit("retained").as("cohort"))
        .unionByName(churned.select(col("o_custkey"), lit("churned").as("cohort")))
        .orderBy(col("cohort"), col("o_custkey"))
    }),

    // --- CUBE grouping sets over (event_type, integer day-of-week) ---
    "q_cube" -> ((s, dir) =>
      TraceGen.eventsTable(s, dir)
        .withColumn("dow", expr("((ts div 1000) div 86400000000) % 7").cast("int"))
        .cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dow"), lit(-1)).as("dow"), col("n"))
        .orderBy(col("etype"), col("dow"))),

    // --- 7-day moving volume per event type: RANGE frame over integer
    // epoch-days (partitioned by type — never a single global window) ---
    "q_sliding" -> ((s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rangeBetween(-6, 0)
      daily.withColumn("n7", sum(col("n")).over(w))
        .orderBy(col("event_type"), col("day"))
    }),

    // --- grouping sets: rollup over (returnflag, linestatus) ---
    "q_rollup" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_items"))
        .orderBy(col("rf"), col("ls"))),

    // --- distinct aggregation: customers + revenue per order priority ---
    "q_distinct_agg" -> ((s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))),

    // --- salted skew join: events ⋈ orders on the hot user key, salted
    // 8 ways — the result is row-identical to the plain join (the salt
    // only reshapes the shuffle), which is exactly what the oracle checks ---
    "q_skew_join" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
      val ord = T(s, dir, "orders").withColumnRenamed("o_custkey", "user_id")
      SkewJoin.saltedJoin(ev, ord, Seq("user_id"), 8, col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy(col("event_type"))
    }),

    // --- range join: clicks inside the 5-min window before each purchase ---
    "q_range_join" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us").as("t"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("t_us") - 300000000L).as("w_start"), col("t_us").as("w_end"))
      val hits = graft.analysis.RangeJoin.pointInInterval(
          clicks, purchases, Seq("user_id"), "t", "w_start", "w_end",
          binWidth = 300000000L)
        .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_clicks"))
      purchases.select(col("purchase_id"))
        .join(hits, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy(col("purchase_id"))
    }),

    // --- the SQL surface: native vec_cosine via registered function ---
    "ann_topk_sql" -> ((s, dir) => {
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
    }),

    // --- merged interval coverage per user: union of event spans via the
    // running-max island scan (one keyed window, no overlap self-join) ---
    "q_interval_merge" -> ((s, dir) => {
      val iv = TraceGen.eventsTable(s, dir).select(
        col("user_id"),
        expr("ts div 1000").cast("long").as("start"),
        (expr("ts div 1000") +
          round(col("value") * 100).cast("long") * 10).as("end"))
      graft.analysis.Intervals.coverage(iv, "user_id")
        .select(col("user_id"), col("n_merged"),
          col("covered").as("covered_us"), col("max_merged"))
        .orderBy(col("user_id"))
    }),

    // --- SCD2: order-status validity intervals per customer (run
    // compression in (day, orderkey) order; open version has null end) ---
    "q_scd2" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"),
        col("o_orderstatus"), col("o_orderkey"))
      graft.analysis.Scd.type2(o, "o_custkey", "day", "o_orderstatus",
          "o_orderkey")
        .select(col("o_custkey"), col("version").cast("long").as("version"),
          col("attr").as("status"), col("valid_from").as("from_day"),
          col("valid_to").as("to_day"), col("n_rows").as("n_orders"))
        .orderBy(col("o_custkey"), col("version"))
    }),

    // --- point-in-time-correct feature join (feature-store semantics):
    // SCD2 versions of each customer's order status, probed AS OF each
    // event's observation day through the binned range join — never a
    // quadratic interval scan, never feature leakage from the future ---
    "q_pit_join" -> ((s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"),
        col("o_orderstatus"), col("o_orderkey"))
      val versions = graft.analysis.Scd.type2(o, "o_custkey", "day",
          "o_orderstatus", "o_orderkey")
        .select(col("o_custkey").as("custkey"),
          col("version").cast("long").as("version"),
          col("attr").as("status"), col("valid_from"),
          (coalesce(col("valid_to"), lit(11536L)) - 1).as("end_day"))
      val probes = TraceGen.eventsTable(s, dir).select(
        col("event_id"), col("user_id").as("custkey"),
        (lit(9131L) + expr("(ts div 1000) div 86400000000") % 2405).as("obs_day"))
      graft.analysis.RangeJoin.pointInInterval(probes, versions,
          Seq("custkey"), "obs_day", "valid_from", "end_day", binWidth = 64)
        .select(col("event_id"), col("custkey"), col("obs_day"),
          col("status"), col("version"))
        .orderBy(col("event_id"))
    }),

    // --- daily per-type counts, gap days zero-filled, with cumulative ---
    "q_gapfill" -> ((s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.GapFill.zeroFill(daily, "event_type", "day", "n")
        .select(col("event_type"), col("day"), col("n"), col("cum_n"))
        .orderBy(col("event_type"), col("day"))
    }),

    // --- blocked fuzzy self-match of part names: same last token (the
    // noun), Levenshtein <= 2 — equi-join on the block, never all-pairs ---
    "fuzzy_names" -> ((s, dir) =>
      graft.analysis.FuzzyJoin.selfPairs(T(s, dir, "part"), "p_name",
          n => element_at(split(n, " "), -1), maxDist = 2)
        .select(col("name_a"), col("name_b"),
          col("dist").cast("int").as("dist"))
        .orderBy(col("name_a"), col("name_b"))),

    // --- sorted-neighborhood linkage: the blocking-free complement of
    // fuzzy_names (one distributed sort, rank-offset equi-join) ---
    "fuzzy_sorted" -> ((s, dir) =>
      graft.analysis.FuzzyJoin.sortedNeighborPairs(
          T(s, dir, "part"), "p_name", window = 4, maxDist = 6)
        .select(col("name_a"), col("name_b"),
          col("dist").cast("int").as("dist"))
        .orderBy(col("name_a"), col("name_b"))),

    // --- LOSSLESS edit-distance self-join: q-gram count filter +
    // banded-DP verification — equals brute force (the oracle runs the
    // brute-force join), unlike fuzzy_names/fuzzy_sorted whose blocking
    // is a recall heuristic ---
    "fuzzy_exact" -> ((s, dir) =>
      graft.scale.Dedup.editDistancePairs(T(s, dir, "part"), maxDist = 2,
          textCol = "p_name", idCol = "p_partkey")
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))),

    // --- cross-table record linkage: a deterministically-perturbed
    // noisy side (first char dropped) linked back against the canonical
    // part names through the same lossless q-gram count filter ---
    "fuzzy_link" -> ((s, dir) => {
      val part = T(s, dir, "part")
      val noisy = part.select((col("p_partkey") + 1000000L).as("p_partkey"),
        expr("substr(p_name, 2)").as("p_name"))
      graft.scale.Dedup.editDistanceLink(noisy, part, maxDist = 2,
          textCol = "p_name", idCol = "p_partkey")
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    }),

    // --- day-2 member of the edit-distance family: a new batch (every
    // 10th part) joins the persisted tagged-gram prefix index of
    // history — equals the full self-join restricted to batch-touching
    // pairs (which is exactly what the oracle computes brute-force) ---
    "fuzzy_exact_incr" -> ((s, dir) => {
      val part = T(s, dir, "part")
      storedIndex(s, dir, "idx_editdist_hist")(
          graft.scale.IndexStore.buildEditDistance(
            part.filter(col("p_partkey") % 10 =!= 0), maxDist = 2,
            textCol = "p_name", idCol = "p_partkey"))
        .probe(part.filter(col("p_partkey") % 10 === 0))
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    }),

    // --- day-2 record linkage: a new noisy batch (every 7th part,
    // first char dropped, shifted ids) links against the FROZEN prefix
    // index of the canonical part table — the deploy shape where the
    // canonical side never re-grams ---
    "fuzzy_link_incr" -> ((s, dir) => {
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
    }),

    // --- z-order layout audit: Morton-bucket occupancy and per-bucket
    // dimension bounds (tight boxes = min/max pruning works) ---
    "q_zorder" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
      li.withColumn("z", graft.scale.Layout.zValue(col("x"), col("y"), 10))
        .groupBy(expr("z div 1024").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("bucket"))
    }),

    // --- global Pareto frontier of orders (price vs recency), via the
    // sorted-partition prefix-max scheme (oracle uses NOT EXISTS) ---
    "q_skyline" -> ((s, dir) => {
      val pts = T(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(round(col("o_totalprice") * 100).cast("long").as("price_c"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)").as("day"))
      graft.analysis.Skyline.skyline2D(pts, "price_c", "day")
        .orderBy(col("price_c").desc, col("day"))
    }),

    // --- distributed BPE merge training over the corpus (one corpus
    // scan, then per-iteration shuffles of the vocab table only); the
    // learned merge list is memoized per (session, sfDir) — train once,
    // encode many times, like the k-means/PQ model caches ---
    "bpe_merges" -> ((s, dir) =>
      s.createDataFrame(bpeMerges(s, dir))
        .toDF("merge_rank", "left_sym", "right_sym", "weight")
        .orderBy(col("merge_rank"))),

    // --- the encode side: apply the learned merges and report per-source
    // compression (merge chain over the DISTINCT word table only) ---
    "bpe_encode" -> ((s, dir) =>
      graft.scale.Bpe.encodeStats(T(s, dir, "documents"),
          bpeMerges(s, dir).map(m => (m._2, m._3)))
        .select(col("source"), col("n_words"), col("n_bpe_tokens"),
          col("n_char_tokens"))
        .orderBy(col("source"))),

    // --- equi-depth value-bucket boundaries per event type (rank-
    // selected in integer centi-units — no interpolation, engine-exact) ---
    "q_equidepth" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
      graft.analysis.RobustStats.equidepth(ev, "event_type", "value_c",
          "event_id")
        .select(col("event_type"), col("q"),
          col("rank_sel").cast("long").as("rank_sel"), col("boundary"))
        .orderBy(col("event_type"), col("q"))
    }),

    // --- winsorized per-type mean: clamp at the p10/p90 equidepth
    // boundaries, then an integral centi-unit mean — robust-mean
    // composition of the equidepth operator, engine-exact throughout ---
    "q_winsorize" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"), col("event_id"))
      val bounds = graft.analysis.RobustStats.equidepth(ev, "event_type",
          "value_c", "event_id")
        .groupBy(col("event_type"))
        .agg(min(when(col("q") === 1, col("boundary"))).as("lo"),
          min(when(col("q") === 9, col("boundary"))).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_type"),
          greatest(col("lo"), least(col("hi"), col("value_c"))).as("wv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("wv")).as("w_sum"))
        .select(col("event_type"), col("n"), col("w_sum"),
          expr("w_sum div n").as("w_mean_c"))
        .orderBy(col("event_type"))
    }),

    // --- lexical-vs-dense retrieval agreement: top-d intersections for
    // d = 1..5 with integer RBO weights (p=0.9 powers × LCM(1..5) in
    // micro-units — FP-free rank-biased overlap) ---
    "retrieval_overlap" -> ((s, dir) => {
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
    }),

    // --- CDC merge-apply: last-writer-wins upsert + delete-tombstone
    // materialization of "current state" from the event change log ---
    "q_merge_upsert" -> ((s, dir) => {
      val changes = TraceGen.eventsTable(s, dir).select(
        col("user_id"), expr("ts div 1000").as("seq"), col("event_id"),
        when(col("event_type") === "view", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        floor(col("value") * 100).cast("long").as("val_c"))
      graft.analysis.MergeApply.applyCdc(changes, Seq("user_id"), "seq",
          Seq("event_id"), "op")
        .select(col("user_id"), col("op"), col("seq"), col("val_c"))
        .orderBy(col("user_id"))
    }),

    // --- lag-1..6 autocovariance over zero-filled hourly counts per
    // event type — integer sufficient statistics, order-free ---
    "q_autocorr" -> ((s, dir) => {
      // memoized: lagStats references the series 4× (bounds, grid join,
      // both sides of the lag self-join) — persisting the tiny
      // aggregated table keeps the corpus scan at ONE instead of four
      val hourly = cachedDf(s, dir, "hourly_counts")(
        TraceGen.eventsTable(s, dir)
          .groupBy(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("t"))
          .agg(count(lit(1)).as("n")))
      graft.analysis.Autocorr.lagStats(hourly, "event_type", "t", "n",
          1 to 6)
        .select(col("event_type"), col("lag"), col("n"), col("sum_x"),
          col("sum_y"), col("sum_xy"), col("sum_x2"), col("sum_y2"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // --- d×d scatter (Gram) matrix of the embedding corpus in exact
    // micro-unit integers: per-partition triangle accumulation, shuffle
    // only #partitions × d(d+1)/2 partials ---
    "emb_gram" -> ((s, dir) =>
      graft.scale.LinAlg.gramMicro(T(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))),

    // --- PSI drift (the model-monitoring standard, tail-weighted where
    // TV is linear): add-one-smoothed bins over the same halves ---
    "value_psi" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000000000") % 2).cast("int").as("side"))
      graft.analysis.Drift.psiDrift(ev, "event_type", "cents", "side")
        .orderBy(col("event_type"))
    }),

    // --- Flesch-style readability in pure integer micro-units: words /
    // sentences / vowel-group syllables, scan-speed curation signal ---
    "text_readability" -> ((s, dir) =>
      TextOps.readability(T(s, dir, "documents")).orderBy(col("doc_id"))),

    // --- distribution drift: total-variation distance between the
    // even- and odd-second halves of each event type's value stream,
    // integer numerator over pooled 16-bin edges ---
    "value_drift" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000000000") % 2).cast("int").as("side"))
      graft.analysis.Drift.tvDrift(ev, "event_type", "cents", "side")
        .orderBy(col("event_type"))
    }),

    // --- rolling 7-day median of daily counts per type: selection at
    // integer rank over the frame, robust to single-day spikes ---
    "q_rolling_median" -> ((s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.RobustStats.rollingMedian(daily, "event_type",
          "day", "n", window = 7)
        .select(col("event_type"), col("day"), col("n"),
          col("roll_n"), col("roll_med"))
        .orderBy(col("event_type"), col("day"))
    }),

    // --- Benford first-digit audit of order totals (cents) ---
    "q_benford" -> ((s, dir) =>
      graft.scale.DataQuality.benford(
          T(s, dir, "orders").select(
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents")
        .orderBy(col("digit"))),

    // --- Gini concentration of order revenue: Σ rank·x over the
    // DISTRIBUTED dense ranking (assignDenseIds — never a global
    // window); G = (2·sum_rank_x/(n·sum_x)) − (n+1)/n at presentation,
    // from exact integer sufficient statistics ---
    "q_gini" -> ((s, dir) => {
      val v = T(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
      graft.ingest.Ingest.assignDenseIds(v, "rk",
          col("cents"), col("o_orderkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_x"),
          sum((col("rk") + 1) * col("cents")).as("sum_rank_x"))
    }),

    // --- quantity-weighted price percentiles: running WEIGHT crossing,
    // same histogram refinement ---
    "q_weighted_quantile" -> ((s, dir) => {
      val li = T(s, dir, "lineitem").select(
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      graft.scale.Sketches.histQuantilesWeighted(li, "cents", "qty")
        .orderBy(col("per_mille"))
    }),

    // --- per-key exact percentiles, same refinement keyed throughout ---
    "q_quantile_by_key" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      graft.scale.Sketches.histQuantilesByKey(ev, "event_type", "cents",
          bins = 64)
        .orderBy(col("event_type"), col("per_mille"))
    }),

    // --- Deequ-style data-quality gate: exact violation counts for
    // null/range/uniqueness/referential checks, one scan or shuffle
    // each, unioned into the audit report ---
    // --- functional-dependency audit: one FD that must hold (unique
    // key determines anything) and one that genuinely fails ---
    "dq_fd" -> ((s, dir) => {
      import graft.scale.DataQuality._
      report(Seq(
        functionalDependency(T(s, dir, "orders"), "o_orderkey", "o_custkey"),
        functionalDependency(T(s, dir, "lineitem"), "l_orderkey", "l_returnflag")
      )).orderBy(col("check"))
    }),

    "dq_report" -> ((s, dir) => {
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
    }),

    // --- exact global p50/p90/p99 by histogram refinement: bin-count
    // sketch (mergeable, one scan) + re-extraction of the ONE bin each
    // rank lands in — never a global sort/window over the corpus ---
    "quantile_sketch" -> ((s, dir) => {
      val cents = T(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.scale.Sketches.histQuantiles(cents, "cents")
        .orderBy(col("per_mille"))
    }),

    // --- centered covariance numerator n·S_ij − s_i·s_j, exact
    // BIGINTs over micro-scaled values (the PCA input, reproducible
    // bit-for-bit under any reduction order) ---
    "emb_cov" -> ((s, dir) =>
      graft.scale.LinAlg.covNumMicro(T(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))),

    // --- kNN classification: majority label among the 5 cosine
    // neighbors from the labeled corpus, ties by smaller label —
    // the eval-harness workload on the same ANN machinery ---
    "knn_classify" -> ((s, dir) => {
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
    }),

    // --- exact maximum-inner-product top-k (the MIPS objective) ---
    "ann_mips" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // --- C4-style duplicate-tile REMOVAL (keep one canonical copy of
    // every repeated 5-word tile; per-doc rewrite witness) ---
    "tile_dedup" -> ((s, dir) =>
      Dedup.removeDuplicateTiles(T(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // --- leakage-safe train/val/test split: the split hash is taken on
    // the near-dup component representative, so clusters never straddle
    // the boundary ---
    // --- corpus snapshot diff: synthetic snapshot B (every 13th doc
    // removed, every 7th survivor edited, every 11th cloned as new)
    // diffed against A by content hash — the incremental-reprocessing
    // gate; unchanged rows suppressed ---
    "corpus_diff" -> ((s, dir) => {
      val a = T(s, dir, "documents")
      val b = a.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000L))
      Curation.corpusDiff(a, b)
        .filter(col("status") =!= "unchanged")
        .orderBy(col("doc_id"), col("status"))
    }),

    // --- incremental aggregate maintenance: snapshot B's per-source
    // (docs, tokens) aggregate computed as snapshot A's stored
    // aggregate + the corpusDiff delta — B itself is never
    // re-aggregated by the engine; the oracle aggregates B directly,
    // so the green row PROVES the maintained aggregate is exact ---
    "incr_agg" -> ((s, dir) => {
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
    }),

    // --- cross-split n-gram contamination under the leakage-safe split:
    // pair-level leakage is 0 by construction, but common shingles still
    // cross the boundary — the memorization-eval denominator ---
    "split_ngram_overlap" -> ((s, dir) =>
      Curation.splitNgramOverlap(T(s, dir, "documents"),
          Curation.leakageSafeSplit(T(s, dir, "documents"),
            lshComponents(s, dir)))
        .orderBy(col("split"))),

    "split_safe" -> ((s, dir) =>
      Curation.leakageSafeSplit(T(s, dir, "documents"), lshComponents(s, dir))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
          sum(when(col("in_cluster"), 1L).otherwise(0L)).as("n_clustered"))
        .orderBy(col("split"))),

    // --- the leakage audit: near-dup pairs straddling the split
    // boundary under a naive per-doc hash vs the component-keyed split
    // (the latter is 0 by construction — proved, not assumed) ---
    "split_leakage" -> ((s, dir) => {
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
    }),

    // --- CUSUM change point per event type over daily volumes (exact
    // integer cross-multiplied deviation, keyed windows only) ---
    "q_changepoint" -> ((s, dir) => {
      val daily = TraceGen.eventsTable(s, dir)
        .groupBy(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.analysis.Changepoint.cusumMax(daily, "event_type", "day", "n")
        .orderBy(col("event_type"))
    }),

    // --- DAU + trailing-7-day rolling distinct actives (contribution
    // explode of the deduped user-day table — no per-day rescans) ---
    "q_rolling_active" -> ((s, dir) =>
      Sessionize.rollingActive(
          TraceGen.eventsTable(s, dir).withColumn("t_us", expr("ts div 1000")))
        .orderBy(col("day"))),

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
    "stream_guarded_endstate" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir).select(
        col("user_id"), expr("ts div 1000").as("t_us"),
        col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.guardedMatch(ev, target = "purchase",
          trigger = "click", blocker = "error", windowUs = 3600000000L,
          tsCol = "t_us")
        .select(col("k").as("user_id"), col("t").as("t_us"), col("matched"))
        .orderBy(col("user_id"), col("t_us"))
    }),

    // --- the streaming rolling-contribution emitter in batch mode: per
    // user one 'dau' row per distinct active day plus one 'rolling' row
    // per day covered by any trailing-7-day window, each exactly once
    // (the O(1)-state high-water contract); the oracle is the distinct
    // union of the per-day ranges ---
    "stream_rolling_endstate" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("t_us"))
      graft.streaming.StreamingOps.rollingContributions(ev)
        .select(col("k").as("user_id"), col("day"), col("kind"),
          col("in_order"))
        .orderBy(col("user_id"), col("day"), col("kind"))
    }),

    // --- the streaming subtree sampler in batch mode: same md5 tree-key
    // keep rule as the batch operator, so its oracle is
    // trace_sample_calls' SQL verbatim (registered as a twin) ---
    "stream_sample_endstate" -> ((s, dir) =>
      graft.streaming.StreamingOps.sampledCalls(TraceGen.callTrace(s, dir),
          2, 5)
        .select(col(TimestampNs), col(EventType), col(Name), col(Process))
        .orderBy(col(TimestampNs), col(EventType), col(Name), col(Process))),

    "stream_cdc_endstate" -> ((s, dir) => {
      val changes = T(s, dir, "events").select(
        col("user_id"),
        expr("event_id div 20").as("seq"),
        when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        floor(col("value") / 100).cast("long").as("val_c"))
      graft.streaming.StreamingOps.cdcApply(changes)
        .orderBy(col("k"))
    }),

    // --- the streaming sessionizer (session_window + watermark) run in
    // batch mode: per-user 30-min-gap sessions with event counts and
    // cent volume; the oracle replicates the PINNED merge rule (an
    // event at exactly prev+gap still merges — StreamSessionSpec) via
    // gaps-and-islands, session_end = last event + gap ---
    "stream_session_endstate" -> ((s, dir) => {
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
    }),

    // --- the streaming FIFO channel matcher (flatMapGroupsWithState
    // keyed by (src, dst); state = pending unmatched queue + next rank)
    // in batch mode: one closed micro-batch with empty initial state
    // pairs the k-th send with the k-th receive of each channel exactly
    // like the batch operator; the oracle replays the rank pairing as
    // two ROW_NUMBER windows ---
    "stream_match_endstate" -> ((s, dir) =>
      graft.streaming.StreamingComm.matchMessages(TraceGen.commTrace(s, dir))
        .orderBy(col("src"), col("dst"), col("k"))),

    // --- the stream-static MinHash-LSH candidate join (dedup-at-ingest
    // of new docs against the persisted batch band index — stateless,
    // no watermark) in batch mode: %10==0 docs are the stream, the rest
    // the index; one row per matching (band, band_key) ---
    "stream_lsh_endstate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.streaming.StreamingLsh.candidatesAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0),
          Dedup.bandTable(
            Dedup.minhashSignatures(docs.filter(col("doc_id") % 10 =!= 0))))
        .orderBy(col("doc_id"), col("index_id"), col("band"))
    }),

    // --- the stream-static Hamming candidate join (image dedup-at-ingest
    // against the persisted band table, VERIFIED in the same projection)
    // in batch mode: %10==0 image hashes stream against the index of the
    // rest; one verified row per shared band ---
    "stream_hamming_endstate" -> ((s, dir) => {
      val hashed = neardupHashes(s, dir)
      graft.streaming.StreamingLsh.hammingAgainstIndex(
          hashed.filter(col("doc_id") % 10 === 0),
          Dedup.hammingBandTable(hashed.filter(col("doc_id") % 10 =!= 0),
            bands = 8),
          radius = 6, bands = 8)
        .orderBy(col("doc_id"), col("index_id"), col("band"))
    }),

    // --- the streaming backward as-of join (flatMapGroupsWithState;
    // state = ONE right row per key) in batch mode: every purchase
    // enriched with the latest view at or before it; the oracle replays
    // the inclusive/tie rules (right before left at equal ts, right
    // ties resolve to the highest id) as a ROW_NUMBER window ---
    "stream_asof_endstate" -> ((s, dir) => {
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
    }),

    // --- the streaming funnel state machine (flatMapGroupsWithState;
    // state = times of the steps reached so far) in batch mode: per
    // user the first click, the first view STRICTLY after it, the
    // first purchase strictly after that — the oracle replays the
    // strict-progression rule as three nested min-aggregations ---
    "stream_funnel_endstate" -> ((s, dir) => {
      val ev = TraceGen.eventsTable(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("t_us"),
          col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.funnel(ev,
          Seq("click", "view", "purchase"),
          keyCol = "user_id", tsCol = "t_us", idCol = "event_id")
        .select(col("k").as("user_id"), col("depth"), col("t").as("t_us"))
        .orderBy(col("user_id"), col("depth"))
    }),

    // --- the streaming concurrency segmenter (flatMapGroupsWithState;
    // state = (last tick, open-span level) per process) in batch mode
    // over the call trace's item+ship interval deltas: each tick closes
    // the previous constant-level segment; the oracle replays the sweep
    // as a net-per-tick running sum + LEAD window ---
    "stream_conc_endstate" -> ((s, dir) => {
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
    }),

    // --- the streaming call matcher (flatMapGroupsWithState keyed by
    // process; state = the open-frame stack, O(depth)) in batch mode:
    // one closed micro-batch with empty initial state matches every
    // Enter/Leave of the balanced synthetic trace exactly like the batch
    // EventMatcher, including depth and inc/exc attribution; the oracle
    // is the trace's closed form (order spans 999000 ns, item spans
    // qty*1000-10, ship subs qty*500-100; exc = inc minus children) ---
    "stream_calls_endstate" -> ((s, dir) =>
      graft.streaming.StreamingMatcher.completedCalls(
          TraceGen.callTrace(s, dir))
        .orderBy(col("process"), col("enter_id"))),

    // --- the streaming Markov-transition state machine (one (t, id,
    // state) triple of state per key) in batch mode: per user, one
    // (from, to) step row per event after the first, all in order —
    // the oracle replays the rule as a LAG window in (t, id) order ---
    "stream_trans_endstate" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t_us"),
        col("event_id"), col("event_type"))
      graft.streaming.StreamingOps.transitions(ev, tsCol = "t_us")
        .orderBy(col("k"), col("t"), col("from_state"), col("to_state"))
    }),

    // --- the streaming interval-union state machine (one open island
    // per key) in batch mode: spans sorted per key, an island closes on
    // a strict gap; the final OPEN island per key never emits in batch
    // (in a stream it is unknowable until key timeout) — the oracle is
    // gaps-and-islands minus each key's last island ---
    "stream_interval_endstate" -> ((s, dir) => {
      val t_us = unix_micros(col("ts").cast("timestamp"))
      val sp = T(s, dir, "events").select(
        col("user_id").as("key"),
        t_us.as("start"),
        (t_us + floor(col("value") * 1000).cast("long") + 1).as("end"))
      graft.streaming.StreamingOps.intervalUnion(sp)
        .orderBy(col("k"), col("start"))
    }),

    // --- the streaming windowed top-k (chained watermarked aggs + the
    // k-bounded native heap aggregate) in batch mode: the oracle
    // replays the heap's (weight DESC, key DESC) order as ROW_NUMBER ---
    "stream_topk_endstate" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"),
        col("ts").cast("timestamp").as("event_time"),
        floor(col("value")).cast("long").as("weight"))
      graft.streaming.StreamingSketches.windowTopK(ev, k = 5,
          window = "6 hours", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("rank"), col("key"), col("weight"))
        .orderBy(col("window_start"), col("rank"))
    }),

    // --- the streaming DAU counter (dropDuplicatesWithinWatermark on
    // (user, window) chained into a windowed count — state one row per
    // ACTIVE pair, watermark-pruned) in batch mode: plain per-window
    // COUNT(DISTINCT) ---
    "stream_active_endstate" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(
        col("user_id"), col("ts").cast("timestamp").as("event_time"))
      graft.streaming.StreamingOps.windowedActive(ev, window = "1 day")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("active"))
        .orderBy(col("window_start"))
    }),

    // --- the streaming per-window count-min cells (O(depth·width) state
    // per in-flight window, watermark-expired) in batch mode: doc feed
    // with event_time = to_timestamp(doc_id), 10-minute windows; the
    // oracle recomputes the identical md5 cells per window bucket ---
    "stream_cms_endstate" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(
        to_timestamp(col("doc_id")).as("event_time"), col("text"))
      graft.streaming.StreamingSketches.cmsCells(docs,
          window = "10 minutes", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("seed").cast("long").as("seed"), col("bucket"), col("cell"))
        .orderBy(col("window_start"), col("seed"), col("bucket"))
    }),

    // --- the streaming per-window distinct-count registers (64 registers
    // per (lang, window), merged by MAX — lossless) in batch mode: same
    // doc feed; the oracle recomputes register = max rho per bucket ---
    "stream_hll_endstate" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(
        to_timestamp(col("doc_id")).as("event_time"),
        col("lang"), col("text"))
      graft.streaming.StreamingSketches.hllRegisters(docs,
          window = "10 minutes", watermark = "0 seconds")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("lang"), col("bucket"),
          col("reg").cast("long").as("reg"))
        .orderBy(col("window_start"), col("lang"), col("bucket"))
    }),

    // --- the streaming PER-KEY windowed TV-drift monitor (one O(bins)
    // row of state per (key, window), watermark-expired) in batch mode:
    // per event_type vs the uniform reference, same integer TV numerator
    // as stream_drift_tv ---
    "stream_kdrift_endstate" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("ts"), col("event_type"),
        floor(col("value")).cast("long").as("v"))
      graft.streaming.StreamingOps.keyedWindowedDrift(ev, "event_type",
          Seq(1L, 1L, 1L, 1L), window = "6 hours", watermark = "0 seconds",
          lo = 0L, width = 200L, timeCol = "ts")
        .select(col("event_type"),
          unix_timestamp(col("window_start")).as("window_start"),
          col("n_obs"), col("tv_num"))
        .orderBy(col("event_type"), col("window_start"))
    }),

    // --- windowed TV drift vs a uniform reference histogram, through
    // the streaming operator's own binning/agg code path ---
    "stream_drift_tv" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(col("ts"),
        floor(col("value")).cast("long").as("v"))
      graft.streaming.StreamingOps.windowedDrift(ev, Seq(1L, 1L, 1L, 1L),
          window = "6 hours", watermark = "0 seconds", lo = 0L, width = 200L,
          timeCol = "ts")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("n_obs"), col("tv_num"))
        .orderBy(col("window_start"))
    }),

    // --- matryoshka-style truncation audit: recall@5 of cosine ranking
    // on the first 16 of 64 dims vs the full-dimension neighbors — the
    // "can we serve at quarter cost" measurement, same integer-hits
    // shape as ann_pq_recall ---
    "ann_trunc_recall" -> ((s, dir) => {
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
    }),

    // --- ANALYZE-style per-column statistics (rows/nulls/exact NDV/
    // min/max), one scan + one keyed agg — the CBO-feed / data-contract
    // profile ---
    "column_profile" -> ((s, dir) =>
      graft.scale.DataQuality.columnProfile(T(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("column_name")))
,
    // --- bottom-up (caller-attribution) profile: exclusive time of each
    // function split by WHO CALLED IT — the view that tells you which
    // call site to fix; one self-join on parent_event_id over Enter rows
    // of the shared enriched cache ---
    "trace_callers" -> ((s, dir) =>
      Profiles.callersProfile(callEnriched(s, dir))
        .orderBy(col(Name), col("caller"))),

    // --- day-2 incremental dedup: the new batch (doc_id ≥ 400) dedups
    // against the persisted band index of the historical corpus without
    // re-hashing it; result = the full run's pairs touching a new doc ---
    "minhash_incremental" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedIndex(s, dir, "idx_minhash_400")(
          graft.scale.IndexStore.buildMinhashLsh(docs.filter(col("doc_id") < 400)))
        .probe(docs.filter(col("doc_id") >= 400))
        .orderBy(col("a"), col("b"))
    }),

    // ================= day-3: INDEX MAINTENANCE =================
    // The `*_day3` rows close the loop the `*_incr` rows leave open:
    // day-1 state is built and saved, the day-2 batch is ABSORBED via
    // IndexStore.append (load v1 → append → save v2 → reload), and the
    // same batch the sibling row probes now probes the APPENDED store.
    // Each oracle is its sibling's SQL verbatim — the green row proves
    // probe-after-append == probe-after-full-rebuild of day-1 ∪ day-2.
    "minhash_day3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_minhash_day3")(
          graft.scale.IndexStore.buildMinhashLsh(
            docs.filter(col("doc_id") < 350)))(
          docs.filter(col("doc_id") >= 350 && col("doc_id") < 400))
        .probe(docs.filter(col("doc_id") >= 400))
        .orderBy(col("a"), col("b"))
    }),

    // --- frozen-order family: day-2 prefixes rank under the day-1 df
    // order (batch df extends it for unseen shingles) and the appended
    // dfTab carries exactly that extension, so day-3 shares a total
    // order with every indexed doc — the losslessness precondition ---
    "jaccard_prefix_day3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_jp_day3")({
          val (dfT, dI) = Dedup.jaccardPrefixIndex(
            docs.filter(col("doc_id") % 10 >= 2), 3, 1, 5)
          graft.scale.IndexStore.JaccardPrefixIndex(dfT, dI, 3, 1, 5,
            "text", "doc_id")
        })(docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    }),

    // --- the Ed-Join twin of jaccard_prefix_day3: tagged-gram df
    // extension, same shared-total-order argument ---
    "fuzzy_exact_day3" -> ((s, dir) => {
      val part = T(s, dir, "part")
      storedAppendedIndex(s, dir, "idx_editdist_day3")(
          graft.scale.IndexStore.buildEditDistance(
            part.filter(col("p_partkey") % 10 >= 2), maxDist = 2,
            textCol = "p_name", idCol = "p_partkey"))(
          part.filter(col("p_partkey") % 10 === 1))
        .probe(part.filter(col("p_partkey") % 10 === 0))
        .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
        .orderBy(col("a"), col("b"))
    }),

    // --- per-doc fingerprints: append = union; the maxFpDf cap stays
    // probe-time over the GROWN combined counts ---
    "winnow_pairs_day3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_winnow_day3")(
          graft.scale.IndexStore.WinnowIndex(
            winnowFp(s, dir).filter(col("doc_id") % 10 >= 2)
              .select(col("doc_id"), col("fingerprint")).distinct(),
            minShared = 2, k = 3, w = 4, maxFpDf = 100, "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("a"), col("b"))
    }),

    // --- chunk-hash SET: append = union + distinct ---
    "cdc_dedup_day3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_cdc_day3")(
          graft.scale.IndexStore.CdcIndex(
            TextOps.cdcIndex(docs.filter(col("doc_id") % 10 >= 2)), 8, 6,
            "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    }),

    // --- shingle SET: append = union + distinct ---
    "dup_spans_removed_day3" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      storedAppendedIndex(s, dir, "idx_shingle_day3")(
          graft.scale.IndexStore.ShingleIndex(
            Dedup.shingleIndex(docs.filter(col("doc_id") % 10 >= 2)), 3,
            "text", "doc_id"))(
          docs.filter(col("doc_id") % 10 === 1))
        .probe(docs.filter(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    }),

    // --- Hamming day-3: history splits at doc_id 250 so every day-1 id
    // precedes every day-2 id, and only the batch's INDEX-NOVEL
    // fingerprints append (the dedup-ingest policy the store documents)
    // — together those make appended reps equal the full-history uniq's
    // (min over day-1 occurrences IS the global min when day-2 ids are
    // all larger), so the appended store is row-identical to the
    // sibling's full-history build ---
    "image_neardup_day3" -> ((s, dir) => {
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
    }),

    // --- deterministic mixture-weighted epoch schedule (smooth weighted
    // round-robin): src0 4×, src1 2×, everything else 1× — exact
    // integer fraction ordering, global position via the distributed
    // dense-id sort ---
    "epoch_order" -> ((s, dir) =>
      Curation.epochOrder(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2))
        .orderBy(col("pos"))),

    // --- shard-level epoch schedule: the same smooth weighted
    // round-robin over PACKED SHARDS (what a dataloader actually opens) ---
    "epoch_shards" -> ((s, dir) =>
      Curation.epochShards(T(s, dir, "documents"),
          Seq("src0" -> 4, "src1" -> 2), docsPerShard = 8)
        .orderBy(col("pos"))),

    // --- the full dataloader manifest: per-source token budgets pick the
    // pool (src0 squeezed to 300, everyone else 800), survivors pack into
    // 8-doc shards, the smooth weighted round-robin orders them ---
    "budgeted_shards" -> ((s, dir) =>
      Curation.budgetedShards(T(s, dir, "documents"),
          Seq("src0" -> 300L), defaultBudget = 800L,
          weights = Seq("src0" -> 4, "src1" -> 2), docsPerShard = 8)
        .orderBy(col("pos"))),

    // --- per-function DURATION-DISTRIBUTION drift between two runs
    // (same split convention as trace_multirun) — catches regressions
    // that leave the mean alone (bimodality, tail growth), integer TV
    // numerator over pooled bins ---
    "trace_dur_drift" -> ((s, dir) => {
      val durs = callEnriched(s, dir).filter(col(EventType) === Enter)
        .select(col(Name), col(TimeInc).cast("long").as("dur"),
          ((col(EventId) / lit(1000000L)).cast("long") % 2).cast("int")
            .as("run"))
      graft.analysis.Drift.tvDrift(durs, Name, "dur", "run")
        .orderBy(col(Name))
    }),

    // --- retrieval eval: MRR@10 and same-label hits of the cosine
    // ranking against the labeled corpus (1e6 div rank keeps the
    // reciprocal rank integer-exact) ---
    "retrieval_mrr" -> ((s, dir) => {
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
    }),

    // --- join-skew diagnosis: exact p50/p90/p99 of rows-per-join-key
    // via the distributed histogram refinement (never a global sort) ---
    "q_skew_report" -> ((s, dir) => {
      val counts = T(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).cast("long").as("rows_per_key"))
      graft.scale.Sketches.histQuantiles(counts, "rows_per_key")
        .orderBy(col("per_mille"))
    }),

    // --- which sources carry the duplication: per-source near-dup
    // cluster membership and loser share (micro-unit integer rate) ---
    "dedup_rate_by_source" -> ((s, dir) =>
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
        .orderBy(col("source"))),

    // --- IVF tuning curve: recall@5 vs nprobe over the SAME memoized
    // quantizer fit — the probes-vs-recall report that picks the
    // serving configuration from data (lsh_tuning's ANN sibling) ---
    "ann_probe_sweep" -> ((s, dir) => {
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
    }),

    // --- collocation mining: top bigrams by count with micro-unit PMI
    // (per-row ln on identical integer ratios — engine-exact); bigram
    // and unigram counts are two keyed aggs + one join, never all-pairs ---
    "colloc_pmi" -> ((s, dir) => {
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
    }),

    // --- tokenizer fertility per language: subword-ish tokens per
    // whitespace word in micro-units — the mixture-planning metric ---
    "token_fertility" -> ((s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("ws"),
          size(TextOps.bpeishTokens(col("text"))).cast("long").as("bp"))
        .groupBy(col("lang"))
        .agg(sum(col("ws")).cast("long").as("ws_tokens"),
          sum(col("bp")).cast("long").as("bpeish_tokens"))
        .withColumn("fertility_micro",
          expr("bpeish_tokens * 1000000 div ws_tokens"))
        .orderBy(col("lang"))),

    // --- is the quality score meaningful? decile-calibration report:
    // per quality decile (dense ranks, no global window) the doc count,
    // near-dup membership, and token mass — a good score should
    // concentrate duplication in the bottom deciles ---
    "quality_calibration" -> ((s, dir) => {
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
    }),

    // --- CEP-lite guarded sequence: purchases attributed to a click
    // within 1 h unless an error intervened — one keyed window, running
    // strict-past maxima, no self-join ---
    "q_guarded_match" -> ((s, dir) =>
      Sessionize.guardedMatch(
          TraceGen.eventsTable(s, dir)
            .withColumn("t_us", expr("ts div 1000")),
          target = "purchase", trigger = "click", blocker = "error",
          windowUs = 3600000000L)
        .orderBy(col("user_id"))),

    // --- embedding-space health: per-label L2 norm stats in micro-unit
    // integers (per-row double sqrt is IEEE-deterministic; the cross-row
    // SUM stays integer, so order-free) ---
    "emb_norms" -> ((s, dir) => {
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
    })
  )

  // ----------------------------------------------------------------- oracle

  private val callCte = TraceGen.callTraceSqlCte
  private val commCte = TraceGen.commTraceSqlCte

  /** The `*_day3` rows' oracles are their `*_incr` siblings' SQL
    * VERBATIM: both probe the same batch against the same effective
    * history (day-1 ∪ day-2) — the sibling via a from-scratch index
    * build, the day-3 row via IndexStore.append — so an identical
    * hash-checked result is precisely the probe-after-append ==
    * probe-after-rebuild property. */
  private val day3OracleTwin = Map(
    "minhash_day3" -> "minhash_incremental",
    "jaccard_prefix_day3" -> "jaccard_prefix_incr",
    "fuzzy_exact_day3" -> "fuzzy_exact_incr",
    "winnow_pairs_day3" -> "winnow_pairs_incr",
    "cdc_dedup_day3" -> "cdc_dedup_incr",
    "dup_spans_removed_day3" -> "dup_spans_removed_incr",
    "image_neardup_day3" -> "image_neardup_incr")

  /** The streaming subtree sampler's batch-mode oracle is the batch
    * operator's SQL VERBATIM: both apply the identical md5 tree-key keep
    * rule to the identical canonical event set, so a hash-identical
    * result pins streaming/batch parity against the external engine. */
  private val streamOracleTwin = Map(
    "stream_sample_endstate" -> "trace_sample_calls")

  def oracleSql: Map[String, String] =
    oracleSqlBase ++
      (day3OracleTwin ++ streamOracleTwin).map {
        case (k, sib) => k -> oracleSqlBase(sib) }

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "trace_match" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, t1 AS matching_event_id, t1 AS matching_ts FROM ord
        |  UNION ALL SELECT t0, t1, t1 FROM item
        |  UNION ALL SELECT s0, s1, s1 FROM item
        |) ORDER BY event_id""".stripMargin),

    "trace_depth" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, CAST(0 AS INT) AS depth, CAST(NULL AS BIGINT) AS parent_event_id FROM ord
        |  UNION ALL SELECT t0, 1, ok * 1000000 FROM item
        |  UNION ALL SELECT s0, 2, t0 FROM item
        |) ORDER BY event_id""".stripMargin),

    "trace_inc" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS event_id, CAST(999000 AS BIGINT) AS time_inc FROM ord
        |  UNION ALL SELECT t0, qty * 1000 - 10 FROM item
        |  UNION ALL SELECT s0, qty * 500 - 100 FROM item
        |) ORDER BY event_id""".stripMargin),

    "trace_exc" -> (callCte +
      """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child FROM item GROUP BY ok)
        |SELECT * FROM (
        |  SELECT o.t0 AS event_id,
        |         CAST(999000 - COALESCE(s.child, 0) AS BIGINT) AS time_exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL SELECT t0, qty * 500 + 90 FROM item
        |  UNION ALL SELECT s0, qty * 500 - 100 FROM item
        |) ORDER BY event_id""".stripMargin),

    "trace_flat_profile" -> (callCte + excByNameProcSql +
      """SELECT name, ROUND(AVG(CAST(sum_exc AS DOUBLE)), 4) AS mean_exc
        |FROM pp GROUP BY name ORDER BY name""".stripMargin),

    "trace_duration_pctl" -> (callCte +
      """, durs AS (
        |  SELECT name, CAST(t1 - t0 AS BIGINT) AS dur, t0 AS id FROM ord
        |  UNION ALL SELECT name, CAST(t1 - t0 AS BIGINT), t0 FROM item
        |  UNION ALL SELECT ship_name, CAST(s1 - s0 AS BIGINT), s0 FROM item),
        |r AS (
        |  SELECT name, dur,
        |         ROW_NUMBER() OVER (PARTITION BY name ORDER BY dur, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM durs)
        |SELECT name, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = (n + 1) // 2 THEN dur END) AS p50_ns,
        |       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN dur END) AS p90_ns,
        |       MAX(CASE WHEN rn = n THEN dur END) AS max_ns
        |FROM r GROUP BY name ORDER BY name""".stripMargin),

    "trace_flat_profile_pp" -> (callCte + excByNameProcSql +
      "SELECT name, process, sum_exc FROM pp ORDER BY name, process"),

    "trace_load_imbalance" -> (callCte + excByNameProcSql +
      """, agg AS (
        |  SELECT name, ROUND(MAX(CAST(sum_exc AS DOUBLE)) / AVG(CAST(sum_exc AS DOUBLE)), 6) AS imbalance,
        |         ROUND(AVG(CAST(sum_exc AS DOUBLE)), 4) AS mean_exc
        |  FROM pp GROUP BY name),
        |top AS (
        |  SELECT name, process AS top_process FROM pp
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY name ORDER BY sum_exc DESC, process) = 1)
        |SELECT a.name, a.imbalance, a.mean_exc, t.top_process
        |FROM agg a JOIN top t ON a.name = t.name ORDER BY a.name""".stripMargin),

    "trace_rank_outliers" -> (callCte + excByNameProcSql +
      """, v AS (SELECT name, process, sum_exc AS time_exc FROM pp),
        |r AS (
        |  SELECT name, time_exc,
        |         ROW_NUMBER() OVER (PARTITION BY name
        |           ORDER BY time_exc, process) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM v),
        |med AS (SELECT name, time_exc AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT v.name, v.process, v.time_exc, m.med,
        |         ABS(v.time_exc - m.med) AS dev
        |  FROM v JOIN med m USING (name)),
        |rd AS (
        |  SELECT name, process, dev,
        |         ROW_NUMBER() OVER (PARTITION BY name
        |           ORDER BY dev, process) AS rn,
        |         COUNT(*) OVER (PARTITION BY name) AS n
        |  FROM d),
        |mad AS (SELECT name, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
        |SELECT d.name, d.process, d.time_exc, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (name)
        |WHERE d.dev > md.mad * 3 ORDER BY d.name, d.process""".stripMargin),

    "comm_matrix_over_time" -> (commCte +
      """, ext AS (
        |  SELECT MIN(timestamp_ns) AS lo, MAX(timestamp_ns) AS hi FROM comm)
        |SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(((timestamp_ns - e.lo) * 20) // (e.hi - e.lo + 1) AS INT)
        |         AS bin,
        |       CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |FROM comm CROSS JOIN ext e
        |WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "dup_positions" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_abtest" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM events GROUP BY 1),
        |v AS (
        |  SELECT user_id, converted,
        |         CAST(CAST(concat('0x',
        |             substr(md5('5:' || CAST(user_id AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 2 AS INT) AS variant
        |  FROM pu)
        |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(converted) AS BIGINT) AS n_converted,
        |       CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT)
        |         AS conv_micro
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "pack_efficiency" ->
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
        |FROM agg ORDER BY shard""".stripMargin,

    "semdedup_sweep" -> (kmeansCte() +
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

    "boilerplate_tiles" ->
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
        |ORDER BY c.source, c.tile""".stripMargin,

    "q_lag_features" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, t_us,
        |         CAST(COUNT(*) OVER w AS BIGINT) AS n_prev7,
        |         CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
        |           AS cents_prev7,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY t_us DESC, event_id DESC) AS rn
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |               RANGE BETWEEN 604800000000 PRECEDING
        |                         AND 1 PRECEDING))
        |SELECT user_id, n_prev7, cents_prev7
        |FROM f WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "comm_inflight" -> (commCte +
      """, ext AS (
        |  SELECT MIN(timestamp_ns) AS lo, MAX(timestamp_ns) AS hi FROM comm),
        |b AS (
        |  SELECT CAST(((timestamp_ns - e.lo) * 50) // (e.hi - e.lo + 1) AS INT)
        |           AS bin,
        |         CAST(SUM(CASE WHEN name IN ('MpiSend', 'MpiIsend')
        |                       THEN 1 ELSE -1 END) AS BIGINT) AS net
        |  FROM comm CROSS JOIN ext e
        |  WHERE name IN ('MpiSend', 'MpiIsend', 'MpiRecv', 'MpiIrecv')
        |  GROUP BY 1)
        |SELECT bin, net,
        |       CAST(SUM(net) OVER (ORDER BY bin) AS BIGINT) AS inflight
        |FROM b ORDER BY bin""".stripMargin),

    "q_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM ud),
        |isl AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
        |        FROM g GROUP BY user_id, grp),
        |lg AS (SELECT user_id, MAX(len) AS streak_len FROM isl GROUP BY 1)
        |SELECT streak_len, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin,

    "trace_heatmap" -> (callCte +
      """, ext AS (
        |  SELECT MIN(t0) AS lo, MAX(t1) AS hi FROM ord),
        |wdt AS (
        |  SELECT lo, GREATEST((hi - lo + 49) // 50, 1) AS w FROM ext),
        |pre AS (
        |  SELECT s.process, s.t0, s.t1, w.lo, w.w,
        |         (s.t0 - w.lo) // w.w AS b0,
        |         LEAST((s.t1 - 1 - w.lo) // w.w, 49) AS b1
        |  FROM ord s CROSS JOIN wdt w),
        |b AS (
        |  SELECT process, t0, t1, lo, w,
        |         unnest(generate_series(b0, b1)) AS bin
        |  FROM pre),
        |busy AS (
        |  SELECT bin, process, SUM(
        |           LEAST(t1, lo + (bin + 1) * w)
        |           - GREATEST(t0, lo + bin * w)) AS busy
        |  FROM b
        |  WHERE LEAST(t1, lo + (bin + 1) * w) > GREATEST(t0, lo + bin * w)
        |  GROUP BY 1, 2)
        |SELECT busy.bin, w.lo + busy.bin * w.w AS bin_start, busy.process,
        |       CAST(busy.busy AS BIGINT) AS busy
        |FROM busy CROSS JOIN wdt w
        |ORDER BY busy.bin, busy.process""".stripMargin),

    "trace_imbalance_time" -> (callCte +
      """, ext AS (
        |  SELECT MIN(t0) AS lo, MAX(t1) AS hi,
        |         COUNT(DISTINCT process) AS np
        |  FROM ord),
        |wdt AS (
        |  SELECT lo, np, GREATEST((hi - lo + 49) // 50, 1) AS w FROM ext),
        |pre AS (
        |  SELECT s.process, s.t0, s.t1, w.lo, w.w,
        |         (s.t0 - w.lo) // w.w AS b0,
        |         LEAST((s.t1 - 1 - w.lo) // w.w, 49) AS b1
        |  FROM ord s CROSS JOIN wdt w),
        |b AS (
        |  SELECT process, t0, t1, lo, w,
        |         unnest(generate_series(b0, b1)) AS bin
        |  FROM pre),
        |busy AS (
        |  SELECT bin, process, SUM(
        |           LEAST(t1, lo + (bin + 1) * w)
        |           - GREATEST(t0, lo + bin * w)) AS busy
        |  FROM b
        |  WHERE LEAST(t1, lo + (bin + 1) * w) > GREATEST(t0, lo + bin * w)
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT bin, MAX(busy) AS max_busy, SUM(busy) AS total_busy
        |  FROM busy GROUP BY 1)
        |SELECT ab.bin, w.lo + ab.bin * w.w AS bin_start,
        |       CAST(COALESCE(p.max_busy, 0) AS BIGINT) AS max_busy,
        |       CAST(COALESCE(p.total_busy, 0) AS BIGINT) AS total_busy,
        |       CASE WHEN COALESCE(p.total_busy, 0) = 0 THEN 0.0
        |            ELSE ROUND(CAST(p.max_busy AS DOUBLE) * w.np
        |                       / p.total_busy, 6) END AS imbalance
        |FROM (SELECT unnest(generate_series(0, 49)) AS bin) ab
        |CROSS JOIN wdt w
        |LEFT JOIN per p ON p.bin = ab.bin
        |ORDER BY ab.bin""".stripMargin),

    "trace_idle_time" -> (callCte +
      """, idle AS (
        |  SELECT process, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS s FROM item WHERE name = 'item_R'
        |  GROUP BY process)
        |SELECT p.process, CAST(COALESCE(i.s, 0) AS BIGINT) AS idle_time
        |FROM (SELECT DISTINCT process FROM ord) p
        |LEFT JOIN idle i ON p.process = i.process ORDER BY p.process""".stripMargin),

    "trace_time_profile" -> (callCte + timeProfileSql),

    "trace_multirun" -> (callCte +
      """, ev AS (
        |  SELECT ok, process, name,
        |         999000 - COALESCE((SELECT CAST(SUM(qty * 1000 - 10) AS BIGINT) FROM item i WHERE i.ok = o.ok), 0) AS exc
        |  FROM ord o
        |  UNION ALL SELECT ok, process, name, qty * 500 + 90 FROM item
        |  UNION ALL SELECT ok, process, ship_name, qty * 500 - 100 FROM item),
        |pp AS (
        |  SELECT CAST(ok % 2 AS INT) AS run, name, process, SUM(exc) AS s
        |  FROM ev GROUP BY 1, 2, 3)
        |SELECT run, name, ROUND(AVG(CAST(s AS DOUBLE)), 4) AS mean_exc
        |FROM pp GROUP BY run, name ORDER BY run, name""".stripMargin),

    "trace_cct" -> (callCte +
      """SELECT * FROM (
        |  SELECT DISTINCT name AS path, 0 AS depth, name FROM ord
        |  UNION
        |  SELECT DISTINCT 'order_' || prio || '->' || name, 1, name FROM item
        |  UNION
        |  SELECT DISTINCT 'order_' || prio || '->' || name || '->' || ship_name, 2, ship_name
        |  FROM item
        |) ORDER BY path""".stripMargin),

    // exc per path is relationally known: order exc = span − Σ item
    // spans; item exc = item span − ship span; ship exc = ship span
    "trace_cct_profile" -> (callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |paths AS (
        |  SELECT o.name AS path, 999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.qty * 500 - 100 FROM item i)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |       CAST(SUM(exc) AS BIGINT) AS time_exc
        |FROM paths GROUP BY 1 ORDER BY 1""".stripMargin),

    "trace_cct_rollup" -> (callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |occ AS (
        |  SELECT o.name AS path, o.name AS name, 0 AS depth,
        |         999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name, i.name, 1,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.ship_name, 2, i.qty * 500 - 100 FROM item i),
        |p AS (SELECT path, name, depth, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |             CAST(SUM(exc) AS BIGINT) AS own_exc
        |      FROM occ GROUP BY 1, 2, 3),
        |s2 AS (SELECT path, name, depth, n_calls, own_exc,
        |              own_exc AS subtree_exc
        |       FROM p WHERE depth = 2),
        |c2 AS (SELECT substr(path, 1, length(path) - length(name) - 2) AS pp,
        |              SUM(subtree_exc) AS s FROM s2 GROUP BY 1),
        |s1 AS (SELECT p.path, p.name, p.depth, p.n_calls, p.own_exc,
        |              p.own_exc + COALESCE(c2.s, 0) AS subtree_exc
        |       FROM p LEFT JOIN c2 ON c2.pp = p.path WHERE p.depth = 1),
        |c1 AS (SELECT substr(path, 1, length(path) - length(name) - 2) AS pp,
        |              SUM(subtree_exc) AS s FROM s1 GROUP BY 1),
        |s0 AS (SELECT p.path, p.name, p.depth, p.n_calls, p.own_exc,
        |              p.own_exc + COALESCE(c1.s, 0) AS subtree_exc
        |       FROM p LEFT JOIN c1 ON c1.pp = p.path WHERE p.depth = 0)
        |SELECT path, name, CAST(depth AS INT) AS depth, n_calls, own_exc,
        |       CAST(subtree_exc AS BIGINT) AS subtree_exc
        |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |      UNION ALL SELECT * FROM s2)
        |ORDER BY path""".stripMargin),

    "trace_cct_diff" -> (callCte +
      """, osum AS (SELECT ok, SUM(qty * 1000 - 10) AS child FROM item GROUP BY ok),
        |paths AS (
        |  SELECT o.ok, o.name AS path, 999000 - COALESCE(s.child, 0) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT i.ok, 'order_' || i.prio || '->' || i.name,
        |         (i.qty * 1000 - 10) - (i.qty * 500 - 100) FROM item i
        |  UNION ALL
        |  SELECT i.ok, 'order_' || i.prio || '->' || i.name || '->' || i.ship_name,
        |         i.qty * 500 - 100 FROM item i)
        |SELECT path,
        |       CAST(SUM(CASE WHEN ok % 2 = 0 THEN exc ELSE 0 END) AS BIGINT) AS exc_run0,
        |       CAST(SUM(CASE WHEN ok % 2 = 1 THEN exc ELSE 0 END) AS BIGINT) AS exc_run1,
        |       CAST(SUM(CASE WHEN ok % 2 = 1 THEN exc ELSE -exc END) AS BIGINT) AS delta_exc
        |FROM paths GROUP BY 1 ORDER BY 1""".stripMargin),

    "trace_chrome" -> (callCte +
      """SELECT * FROM (
        |  SELECT name, 'B' AS ph, CAST(t0 AS DOUBLE) / 1000 AS ts, process AS pid FROM ord
        |  UNION ALL SELECT name, 'E', CAST(t1 AS DOUBLE) / 1000, process FROM ord
        |  UNION ALL SELECT name, 'B', CAST(t0 AS DOUBLE) / 1000, process FROM item
        |  UNION ALL SELECT name, 'E', CAST(t1 AS DOUBLE) / 1000, process FROM item
        |  UNION ALL SELECT ship_name, 'B', CAST(s0 AS DOUBLE) / 1000, process FROM item
        |  UNION ALL SELECT ship_name, 'E', CAST(s1 AS DOUBLE) / 1000, process FROM item
        |) ORDER BY ts, ph, name, pid""".stripMargin),

    "q_topk_agg" ->
      """SELECT event_type, CAST(rn AS INT) AS rank, val_c, event_id FROM (
        |  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS val_c,
        |         event_id,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY CAST(FLOOR(value * 100) AS BIGINT) DESC,
        |                    event_id DESC) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin,

    "sample_per_key" ->
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
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "trace_pareto" -> (callCte + excByNameProcSql +
      """, prof AS (SELECT name, CAST(SUM(sum_exc) AS BIGINT) AS exc
        |           FROM pp GROUP BY 1),
        |t AS (SELECT CAST(SUM(exc) AS BIGINT) AS tot FROM prof),
        |c AS (SELECT name, exc,
        |             CAST(SUM(exc) OVER (ORDER BY exc DESC, name) AS BIGINT)
        |               AS cum_exc
        |      FROM prof)
        |SELECT c.name, c.exc, c.cum_exc,
        |       (c.cum_exc - c.exc) * 10 < t.tot * 9 AS in_p90_set
        |FROM c CROSS JOIN t ORDER BY c.name""".stripMargin),

    "trace_gaps" -> (callCte +
      """, g AS (
        |  SELECT process,
        |         LEAD(t0) OVER (PARTITION BY process ORDER BY t0) - t1 AS gap
        |  FROM ord)
        |SELECT process,
        |       CAST(COUNT(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps,
        |       CAST(COALESCE(SUM(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |         AS idle_gap_total,
        |       CAST(COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |         AS max_gap
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    "trace_chrome_roundtrip" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process FROM ord
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    // ship spans sit strictly inside their item span, so the overlap
    // truth is the ship spans themselves (one segment each)
    "trace_overlap" -> (callCte +
      """SELECT process,
        |       CAST(SUM(s1 - s0) AS BIGINT) AS overlap_total,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM item GROUP BY 1 ORDER BY 1""".stripMargin),

    // exact-recovery truth: aligning the skewed twin back must land on
    // the original relational event set, timestamp for timestamp
    "trace_align" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process FROM ord
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    // a kept order carries ALL its events (order + item + ship rows) —
    // the tree key is the order's own t0 on every row
    "trace_sample_calls" -> (callCte +
      """, keep AS (
        |  SELECT ok FROM ord
        |  WHERE CAST(concat('0x', substr(md5(
        |          '7:' || CAST(process AS VARCHAR) || ':' || CAST(t0 AS VARCHAR)),
        |          1, 15)) AS BIGINT) % 5 < 2)
        |SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process
        |  FROM ord JOIN keep USING (ok)
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord JOIN keep USING (ok)
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item JOIN keep USING (ok)
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item JOIN keep USING (ok)
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    // same relational truth as the Chrome round trip: a lossless
    // write→read loop must reproduce exactly the canonical event set
    "trace_otf2_roundtrip" -> (callCte +
      """SELECT * FROM (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, process FROM ord
        |  UNION ALL SELECT t1, 'Leave', name, process FROM ord
        |  UNION ALL SELECT t0, 'Enter', name, process FROM item
        |  UNION ALL SELECT t1, 'Leave', name, process FROM item
        |  UNION ALL SELECT s0, 'Enter', ship_name, process FROM item
        |  UNION ALL SELECT s1, 'Leave', ship_name, process FROM item
        |) ORDER BY timestamp_ns, event_type, name, process""".stripMargin),

    "nsight_unpivot" -> (callCte +
      """, renum AS (
        |  SELECT name, t0, t1,
        |         CAST(DENSE_RANK() OVER (ORDER BY process * 10 + 3) - 1 AS INT) AS p
        |  FROM item),
        |ev AS (
        |  SELECT t0 AS timestamp_ns, 'Enter' AS event_type, name, p FROM renum
        |  UNION ALL SELECT t1, 'Leave', name, p FROM renum)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY timestamp_ns, event_type, name, p) - 1 AS BIGINT) AS event_id,
        |       timestamp_ns, event_type, name, p AS process, CAST(0 AS INT) AS thread
        |FROM ev ORDER BY event_id""".stripMargin),

    "comm_matrix" -> (commCte +
      """SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "comm_distance" -> (commCte +
      """, cm AS (
        |  SELECT process AS sender, attr_receiver AS receiver,
        |         CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |  GROUP BY 1, 2)
        |SELECT CAST(ABS(sender - receiver) AS INT) AS distance,
        |       CAST(SUM(volume) AS BIGINT) AS volume,
        |       CAST(COUNT(*) AS BIGINT) AS n_channels
        |FROM cm GROUP BY 1 ORDER BY distance""".stripMargin),

    "comm_matrix_count" -> (commCte +
      """SELECT process AS sender, attr_receiver AS receiver,
        |       CAST(COUNT(*) AS BIGINT) AS volume
        |FROM comm WHERE name IN ('MpiSend', 'MpiIsend')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "msg_match" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, event_id AS send_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id AS recv_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT s.src, s.dst, CAST(s.k AS INT) AS k,
        |       s.send_event_id, r.recv_event_id, s.send_ts, r.recv_ts,
        |       CAST(r.recv_ts - s.send_ts AS BIGINT) AS latency_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |ORDER BY s.src, s.dst, k""".stripMargin),

    "comm_wait" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT r.dst AS process, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN s.send_ts > r.recv_ts THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_late_sends,
        |       CAST(SUM(CASE WHEN s.send_ts > r.recv_ts
        |                     THEN s.send_ts - r.recv_ts ELSE 0 END) AS BIGINT)
        |         AS total_wait_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "comm_wait_classes" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv'))
        |SELECT s.src, s.dst, CAST(COUNT(*) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN r.recv_ts < s.send_ts THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_late_sender,
        |       CAST(SUM(CASE WHEN r.recv_ts < s.send_ts
        |                     THEN s.send_ts - r.recv_ts ELSE 0 END)
        |         AS BIGINT) AS late_sender_wait_ns,
        |       CAST(SUM(CASE WHEN r.recv_ts >= s.send_ts THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_late_receiver,
        |       CAST(SUM(CASE WHEN r.recv_ts >= s.send_ts
        |                     THEN r.recv_ts - s.send_ts ELSE 0 END)
        |         AS BIGINT) AS late_receiver_transit_ns
        |FROM sends s JOIN recvs r ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "comm_protocol_switch" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, attr_msg_length AS bytes,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |mm AS (
        |  SELECT s.src, s.dst, s.bytes * 10000000 + s.k AS bucket,
        |         (r.recv_ts - s.send_ts) // 1000000 AS lat_ms
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k),
        |r2 AS (
        |  SELECT src, dst, bucket, lat_ms,
        |         ROW_NUMBER() OVER (PARTITION BY src, dst ORDER BY bucket) AS rr,
        |         SUM(lat_ms) OVER (PARTITION BY src, dst ORDER BY bucket
        |                           ROWS UNBOUNDED PRECEDING) AS cum,
        |         COUNT(*) OVER (PARTITION BY src, dst) AS m,
        |         SUM(lat_ms) OVER (PARTITION BY src, dst) AS t
        |  FROM mm),
        |sc AS (SELECT src, dst, bucket, ABS(m * cum - rr * t) AS score, m, t
        |       FROM r2),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src, dst
        |           ORDER BY score DESC, bucket) AS rn FROM sc)
        |SELECT src, dst,
        |       CAST(bucket // 10000000 AS BIGINT) AS threshold_bytes,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(m AS BIGINT) AS n_msgs,
        |       CAST(t AS BIGINT) AS lat_ms_total
        |FROM best WHERE rn = 1 ORDER BY src, dst""".stripMargin),

    "comm_unmatched" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |lone AS (
        |  SELECT s.src, s.dst, 'send' AS side FROM sends s
        |  WHERE NOT EXISTS (SELECT 1 FROM recvs r
        |    WHERE r.src = s.src AND r.dst = s.dst AND r.k = s.k)
        |  UNION ALL
        |  SELECT r.src, r.dst, 'recv' FROM recvs r
        |  WHERE NOT EXISTS (SELECT 1 FROM sends s
        |    WHERE s.src = r.src AND s.dst = r.dst AND s.k = r.k))
        |SELECT src, dst, side, CAST(COUNT(*) AS BIGINT) AS n_unmatched
        |FROM lone GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "comm_fit" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, attr_msg_length AS bytes,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |m AS (
        |  SELECT s.src, s.dst, s.bytes,
        |         (r.recv_ts - s.send_ts) // 1000000 AS lat_ms
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k)
        |SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(bytes) AS BIGINT) AS sum_x,
        |       CAST(SUM(lat_ms) AS BIGINT) AS sum_y,
        |       CAST(SUM(bytes * lat_ms) AS BIGINT) AS sum_xy,
        |       CAST(SUM(bytes * bytes) AS BIGINT) AS sum_x2
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "comm_latency_pctl" -> (commCte +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id AS recv_event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |p AS (
        |  SELECT CAST(s.src AS VARCHAR) || '>' || CAST(s.dst AS VARCHAR) AS pair,
        |         CAST(r.recv_ts - s.send_ts AS BIGINT) AS lat, r.recv_event_id AS id
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k),
        |r2 AS (
        |  SELECT pair, lat,
        |         ROW_NUMBER() OVER (PARTITION BY pair ORDER BY lat, id) AS rn,
        |         COUNT(*) OVER (PARTITION BY pair) AS n
        |  FROM p)
        |SELECT pair, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(CASE WHEN rn = (n + 1) // 2 THEN lat END) AS p50_ns,
        |       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN lat END) AS p90_ns,
        |       MAX(CASE WHEN rn = n THEN lat END) AS max_ns
        |FROM r2 GROUP BY pair ORDER BY pair""".stripMargin),

    "comm_stall_chain" -> (commCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |late AS (
        |  SELECT r.event_id AS mid, s.src, s.dst, s.send_ts, r.recv_ts
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |  WHERE s.send_ts > r.recv_ts),
        |pred AS (
        |  SELECT m.mid,
        |         (SELECT p.mid FROM late p
        |          WHERE p.dst = m.src AND p.recv_ts < m.recv_ts
        |          ORDER BY p.recv_ts DESC, p.mid DESC LIMIT 1) AS pred_mid
        |  FROM late m),
        |root AS (SELECT mid FROM late ORDER BY recv_ts DESC, mid DESC LIMIT 1),
        |chain AS (
        |  SELECT 0 AS hop, mid FROM root
        |  UNION ALL
        |  SELECT c.hop + 1, p.pred_mid FROM chain c JOIN pred p ON p.mid = c.mid
        |  WHERE p.pred_mid IS NOT NULL)
        |SELECT CAST(c.hop AS BIGINT) AS hop, l.src, l.dst, l.send_ts, l.recv_ts,
        |       CAST(l.send_ts - l.recv_ts AS BIGINT) AS wait_ns
        |FROM chain c JOIN late l ON l.mid = c.mid ORDER BY hop""".stripMargin),

    "trace_critical_path" -> (commCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sends AS (
        |  SELECT process AS src, attr_receiver AS dst,
        |         timestamp_ns AS send_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend')),
        |recvs AS (
        |  SELECT process AS dst, attr_receiver AS src,
        |         timestamp_ns AS recv_ts, event_id,
        |         ROW_NUMBER() OVER (PARTITION BY process, attr_receiver
        |           ORDER BY timestamp_ns, event_id) AS k
        |  FROM comm WHERE name IN ('MpiRecv', 'MpiIrecv')),
        |late AS (
        |  SELECT r.event_id AS mid, s.src, s.dst, s.send_ts, r.recv_ts
        |  FROM sends s JOIN recvs r
        |    ON s.src = r.src AND s.dst = r.dst AND s.k = r.k
        |  WHERE s.send_ts > r.recv_ts),
        |procmin AS (
        |  SELECT process, MIN(timestamp_ns) AS proc_t0 FROM comm GROUP BY process),
        |pred AS (
        |  SELECT m.mid,
        |         (SELECT p.mid FROM late p
        |          WHERE p.dst = m.src AND p.send_ts < m.send_ts
        |          ORDER BY p.send_ts DESC, p.mid DESC LIMIT 1) AS pred_mid
        |  FROM late m),
        |root AS (SELECT mid FROM late ORDER BY send_ts DESC, mid DESC LIMIT 1),
        |chain AS (
        |  SELECT 0 AS hop, mid FROM root
        |  UNION ALL
        |  SELECT c.hop + 1, p.pred_mid FROM chain c JOIN pred p ON p.mid = c.mid
        |  WHERE p.pred_mid IS NOT NULL),
        |seg AS (
        |  SELECT c.hop * 2 AS seq, 'wait' AS kind, l.dst AS process,
        |         l.recv_ts AS t0_ns, l.send_ts AS t1_ns
        |  FROM chain c JOIN late l ON l.mid = c.mid
        |  UNION ALL
        |  SELECT c.hop * 2 + 1, 'compute', l.src,
        |         COALESCE(pl.send_ts, pm.proc_t0), l.send_ts
        |  FROM chain c JOIN late l ON l.mid = c.mid
        |  LEFT JOIN pred p ON p.mid = c.mid
        |  LEFT JOIN late pl ON pl.mid = p.pred_mid
        |  JOIN procmin pm ON pm.process = l.src)
        |SELECT CAST(seq AS BIGINT) AS seq, kind, process,
        |       t0_ns, t1_ns, CAST(t1_ns - t0_ns AS BIGINT) AS dur_ns
        |FROM seg ORDER BY seq""".stripMargin),

    "comm_by_process" -> (commCte +
      """, cm AS (
        |  SELECT process AS sender, attr_receiver AS receiver,
        |         CAST(SUM(attr_msg_length) AS BIGINT) AS volume
        |  FROM comm WHERE name IN ('MpiSend', 'MpiIsend') GROUP BY 1, 2),
        |s AS (SELECT sender AS process, CAST(SUM(volume) AS BIGINT) AS sent FROM cm GROUP BY 1),
        |r AS (SELECT receiver AS process, CAST(SUM(volume) AS BIGINT) AS received FROM cm GROUP BY 1)
        |SELECT COALESCE(s.process, r.process) AS process,
        |       COALESCE(sent, 0) AS sent, COALESCE(received, 0) AS received
        |FROM s FULL OUTER JOIN r ON s.process = r.process ORDER BY 1""".stripMargin),

    "comm_over_time" -> (commCte +
      """, ext AS (SELECT CAST(MIN(timestamp_ns) AS DOUBLE) lo,
        |                 CAST(MAX(timestamp_ns) AS DOUBLE) hi FROM comm),
        |binned AS (
        |  SELECT CAST(LEAST(FLOOR((CAST(timestamp_ns AS DOUBLE) - lo) / ((hi - lo) / 50)), 49) AS INT) AS bin,
        |         attr_msg_length AS sz
        |  FROM comm, ext WHERE name IN ('MpiSend', 'MpiIsend')),
        |agg AS (SELECT bin, CAST(SUM(sz) AS BIGINT) AS volume FROM binned GROUP BY 1)
        |SELECT g.i AS bin, COALESCE(a.volume, 0) AS volume
        |FROM generate_series(0, 49) g(i) LEFT JOIN agg a ON g.i = a.bin
        |ORDER BY 1""".stripMargin),

    "comm_structure" -> (commCte +
      """, ext AS (SELECT CAST(MIN(timestamp_ns) AS DOUBLE) lo,
        |                 CAST(MAX(timestamp_ns) AS DOUBLE) hi,
        |                 MAX(process) + 1 AS nranks FROM comm),
        |pairs AS (
        |  SELECT CAST(LEAST(FLOOR((CAST(timestamp_ns AS DOUBLE) - lo)
        |                          / ((hi - lo) / 20)), 19) AS INT) AS bin,
        |         process AS s, attr_receiver AS r, nranks,
        |         COUNT(*) AS n, SUM(attr_msg_length) AS b
        |  FROM comm, ext WHERE name IN ('MpiSend', 'MpiIsend')
        |  GROUP BY 1, 2, 3, 4),
        |agg AS (
        |  SELECT bin,
        |         CAST(SUM(n) AS BIGINT) AS n_msgs,
        |         CAST(SUM(b) AS BIGINT) AS bytes,
        |         CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_senders,
        |         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_receivers,
        |         CAST(MAX(n) AS BIGINT) AS max_pair_msgs,
        |         CAST(SUM(CASE WHEN s = r THEN n ELSE 0 END) AS BIGINT)
        |           AS self_msgs,
        |         CAST(SUM(CASE WHEN LEAST(ABS(s - r), nranks - ABS(s - r)) = 1
        |                       THEN n ELSE 0 END) AS BIGINT) AS ring_msgs
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(g.i AS INT) AS bin,
        |       COALESCE(n_msgs, 0) AS n_msgs, COALESCE(bytes, 0) AS bytes,
        |       COALESCE(n_pairs, 0) AS n_pairs,
        |       COALESCE(n_senders, 0) AS n_senders,
        |       COALESCE(n_receivers, 0) AS n_receivers,
        |       COALESCE(max_pair_msgs, 0) AS max_pair_msgs,
        |       COALESCE(self_msgs, 0) AS self_msgs,
        |       COALESCE(ring_msgs, 0) AS ring_msgs
        |FROM generate_series(0, 19) g(i) LEFT JOIN agg ON g.i = agg.bin
        |ORDER BY 1""".stripMargin),

    "msg_histogram" -> (commCte +
      """, sz AS (SELECT CAST(attr_msg_length AS DOUBLE) AS v FROM comm
        |          WHERE name IN ('MpiSend', 'MpiIsend')),
        |ext AS (SELECT MIN(v) lo, MAX(v) hi FROM sz),
        |binned AS (
        |  SELECT CAST(LEAST(FLOOR((v - lo) / ((hi - lo) / 20)), 19) AS INT) AS bin
        |  FROM sz, ext),
        |agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS count FROM binned GROUP BY 1)
        |SELECT g.i AS bin, COALESCE(a.count, 0) AS count
        |FROM generate_series(0, 19) g(i) LEFT JOIN agg a ON g.i = a.bin
        |ORDER BY 1""".stripMargin),

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |       CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS sum_disc_price,
        |       ROUND(AVG(l_quantity), 4) AS avg_qty,
        |       CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_topk" ->
      """SELECT l_orderkey, CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name, CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, t,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e),
        |r AS (
        |  SELECT user_id, session_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |           ORDER BY t, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id, session_id) AS n
        |  FROM s),
        |fe AS (
        |  SELECT user_id, session_id,
        |         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        |  FROM r GROUP BY 1, 2)
        |SELECT fe.entry_type, r.event_type AS exit_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM r JOIN fe USING (user_id, session_id)
        |WHERE r.rn = r.n GROUP BY 1, 2
        |ORDER BY entry_type, exit_type""".stripMargin,

    "q_dwell" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |s AS (
        |  SELECT user_id, t,
        |         SUM(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_us,
        |       CAST(CASE WHEN COUNT(*) = 1 THEN 1 ELSE 0 END AS INT) AS bounce
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_user_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM tu GROUP BY 1),
        |ov AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT o.type_a, o.type_b, o.n_common, ta.n AS n_a, tb.n AS n_b
        |FROM ov o JOIN tot ta ON ta.event_type = o.type_a
        |JOIN tot tb ON tb.event_type = o.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "q_daily_anomaly" ->
      """WITH v AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY n, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM v),
        |med AS (SELECT event_type, n AS med FROM r WHERE rn = (cnt + 1) // 2),
        |d AS (
        |  SELECT v.event_type, v.day, v.n, m.med, ABS(v.n - m.med) AS dev
        |  FROM v JOIN med m USING (event_type)),
        |rd AS (
        |  SELECT event_type, day, dev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY dev, day) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM rd WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, d.day, d.n, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (event_type)
        |WHERE d.dev > md.mad * 3 ORDER BY d.event_type, d.day""".stripMargin,

    "q_pareto" ->
      """WITH per AS (
        |  SELECT user_id,
        |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_c
        |  FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM per),
        |r AS (
        |  SELECT monetary_c,
        |         ROW_NUMBER() OVER (ORDER BY monetary_c DESC, user_id) - 1 AS rk
        |  FROM per),
        |d AS (
        |  SELECT CAST((10 * rk) // n AS INT) AS decile,
        |         CAST(COUNT(*) AS BIGINT) AS n_users,
        |         CAST(SUM(monetary_c) AS BIGINT) AS volume_c
        |  FROM r CROSS JOIN nn GROUP BY 1)
        |SELECT decile, n_users, volume_c,
        |       CAST(SUM(volume_c) OVER (ORDER BY decile) AS BIGINT)
        |         AS cum_volume_c
        |FROM d ORDER BY decile""".stripMargin,

    "q_rfm" ->
      """WITH per AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_t, COUNT(*) AS freq,
        |         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_c
        |  FROM events GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM per),
        |r AS (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (ORDER BY last_t DESC, user_id) - 1 AS rk_r,
        |    ROW_NUMBER() OVER (ORDER BY freq DESC, user_id) - 1 AS rk_f,
        |    ROW_NUMBER() OVER (ORDER BY monetary_c DESC, user_id) - 1 AS rk_m
        |  FROM per)
        |SELECT user_id,
        |  CAST(5 - (5 * rk_r) // n AS INT) AS r_score,
        |  CAST(5 - (5 * rk_f) // n AS INT) AS f_score,
        |  CAST(5 - (5 * rk_m) // n AS INT) AS m_score
        |FROM r CROSS JOIN nn ORDER BY user_id""".stripMargin,

    "q_gap_histogram" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT CAST(LENGTH(CAST(gap AS VARCHAR)) AS INT) AS digits,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       MIN(gap) AS min_gap, MAX(gap) AS max_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY digits""".stripMargin,

    "q_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS from_state
        |  FROM events),
        |c AS (
        |  SELECT from_state, event_type AS to_state, COUNT(*) AS n
        |  FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS row_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_state, c.to_state, CAST(c.n AS BIGINT) AS n, t.row_total
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,

    "q_transitions3" ->
      """WITH s AS (
        |  SELECT event_type AS s1,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS s2,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS s3
        |  FROM events)
        |SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM s WHERE s3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY s1, s2, s3""".stripMargin,

    "q_winsor" ->
      """WITH v AS (
        |  SELECT event_id, event_type,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |r AS (
        |  SELECT event_type, value_c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY value_c, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |bounds AS (
        |  SELECT event_type, MAX(n) AS n,
        |         MAX(CASE WHEN rn = (n + 9) // 10 THEN value_c END) AS lo,
        |         MAX(CASE WHEN rn = n + 1 - (n + 9) // 10 THEN value_c END) AS hi
        |  FROM r GROUP BY 1),
        |c AS (
        |  SELECT r.event_type, b.n, b.lo, b.hi,
        |         GREATEST(b.lo, LEAST(b.hi, r.value_c)) AS cv
        |  FROM r JOIN bounds b USING (event_type))
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       MAX(lo) AS lo, MAX(hi) AS hi,
        |       CAST(SUM(cv) AS BIGINT) AS winsor_sum,
        |       CAST(SUM(cv) // MAX(n) AS BIGINT) AS winsor_mean
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_outliers" ->
      """WITH v AS (
        |  SELECT event_id, event_type,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |r AS (
        |  SELECT event_type, value_c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY value_c, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |med AS (
        |  SELECT event_type, value_c AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT v.event_id, v.event_type, v.value_c, m.med,
        |         ABS(v.value_c - m.med) AS dev
        |  FROM v JOIN med m USING (event_type)),
        |rd AS (
        |  SELECT event_id, event_type, dev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY dev, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.event_id, d.value_c, d.med, md.mad, d.dev
        |FROM d JOIN mad md USING (event_type)
        |WHERE d.dev > md.mad * 5 ORDER BY d.event_id""".stripMargin,

    "q_concurrency" ->
      """WITH iv AS (
        |  SELECT CAST(user_id % 16 AS INT) AS process,
        |         epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 10 AS e
        |  FROM events),
        |d AS (
        |  SELECT process, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT process, e, CAST(-1 AS BIGINT) FROM iv),
        |g AS (SELECT process, t, SUM(delta) AS net FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT process, t,
        |         SUM(net) OVER (PARTITION BY process ORDER BY t) AS level,
        |         LEAD(t) OVER (PARTITION BY process ORDER BY t) AS nxt
        |  FROM g)
        |SELECT process, CAST(level AS BIGINT) AS level,
        |       CAST(SUM(nxt - t) AS BIGINT) AS total_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments
        |FROM c WHERE nxt IS NOT NULL
        |GROUP BY 1, 2 ORDER BY process, level""".stripMargin,

    "q_survival" ->
      """WITH lt AS (
        |  SELECT user_id,
        |         MAX(epoch_us(ts) // 86400000000)
        |           - MIN(epoch_us(ts) // 86400000000) AS age
        |  FROM events GROUP BY 1),
        |e AS (SELECT age, CAST(COUNT(*) AS BIGINT) AS n_ended
        |      FROM lt GROUP BY 1)
        |SELECT CAST(age AS BIGINT) AS age, n_ended,
        |       CAST(SUM(n_ended) OVER (ORDER BY age DESC
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        |FROM e ORDER BY age""".stripMargin,

    "q_basket_rules" ->
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |            FROM lineitem),
         |n AS (SELECT COUNT(DISTINCT b) AS nb FROM bi),
         |sup AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS sup FROM bi GROUP BY 1),
         |p AS (
         |  SELECT x.i AS a, y.i AS b, CAST(COUNT(*) AS BIGINT) AS sup_ab
         |  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT p.a, p.b, p.sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
         |       CAST(p.sup_ab * 1000000 // sa.sup AS BIGINT) AS conf_ab_micro,
         |       CAST(p.sup_ab * 1000000 // sb.sup AS BIGINT) AS conf_ba_micro,
         |       CAST(p.sup_ab * n.nb * 1000000 // (sa.sup * sb.sup) AS BIGINT)
         |         AS lift_micro
         |FROM p JOIN sup sa ON sa.i = p.a JOIN sup sb ON sb.i = p.b
         |CROSS JOIN n
         |ORDER BY p.a, p.b""".stripMargin,

    // brute-force (unpruned) itemset counting — equality with the
    // engine's Apriori plan proves the level-wise pruning lossless
    "basket_itemsets" ->
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
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_cohort_ltv" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |         CAST(ROUND(value * 100) AS BIGINT) AS value_c
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
        |       FROM c GROUP BY 1),
        |pa AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS age,
        |         CAST(SUM(e.value_c) AS BIGINT) AS revenue
        |  FROM e JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(pa.cohort_day AS BIGINT) AS cohort_day,
        |       CAST(pa.age AS BIGINT) AS age, pa.revenue, sz.n_users,
        |       CAST(SUM(pa.revenue) OVER (PARTITION BY pa.cohort_day
        |         ORDER BY pa.age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_revenue
        |FROM pa JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, age""".stripMargin,

    "q_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1),
        |m AS (
        |  SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
        |         COUNT(*) AS n_active
        |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_day, n_active AS cohort_size FROM m
        |      WHERE day_offset = 0)
        |SELECT CAST(m.cohort_day AS BIGINT) AS cohort_day,
        |       CAST(m.day_offset AS BIGINT) AS day_offset,
        |       CAST(m.n_active AS BIGINT) AS n_active,
        |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |       ROUND(CAST(m.n_active AS DOUBLE) / s.cohort_size, 4) AS retention
        |FROM m JOIN s USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  ROUND(CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), ' +')), 4) AS avg_token_len,
        |  ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / GREATEST(length(text), 1), 4) AS alpha_ratio,
        |  ROUND(CAST(len(regexp_split_to_array(trim(text), ' +')) - 1 AS DOUBLE)
        |        / GREATEST(length(text), 1), 4) AS space_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"SELECT doc_id, $qualitySql AS quality FROM documents ORDER BY doc_id",

    "text_entropy" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |g AS (SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM b),
        |cnt AS (SELECT doc_id, substr(text, i, 1) AS c, COUNT(*) AS cnt
        |        FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
        |       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
        |       CAST(SUM(cnt * CAST(ROUND(ln(cnt) * 1000000) AS BIGINT)) AS BIGINT)
        |         AS ent_ulog
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin,

    // planted motif: occurrences o=0..4 start at series position 200·o and
    // cover 50 leaves; leaf i's Enter has event_id 2i+1 by construction
    "trace_pattern" ->
      """SELECT CAST(o.generate_series AS INT) AS occurrence,
        |       CAST(2 * (200 * o.generate_series + j.generate_series) + 1 AS BIGINT) AS event_id
        |FROM generate_series(0, 4) o, generate_series(0, 49) j
        |ORDER BY occurrence, event_id""".stripMargin,

    // independent implementation: the engine assembles windows with an
    // ordered collect_list frame + VecDot; DuckDB recomputes each window
    // as a theta-join on the offset and aggregates the squared deltas.
    // All values are integers, so dist2 is engine-exact.
    "trace_pattern_scan" ->
      """WITH pts AS (
        |  SELECT p.generate_series AS p, i.generate_series AS i,
        |    CASE WHEN p.generate_series = 1 AND i.generate_series BETWEEN 100 AND 115
        |           THEN ((i.generate_series - 100) * 37) % 83 * 10 + 100
        |         WHEN p.generate_series = 1 AND i.generate_series BETWEEN 300 AND 315
        |           THEN ((i.generate_series - 300) * 37) % 83 * 10 + 100
        |         WHEN p.generate_series = 3 AND i.generate_series BETWEEN 50 AND 65
        |           THEN ((i.generate_series - 50) * 37) % 83 * 10 + 100
        |         ELSE CAST(concat('0x', substr(md5('m:' || p.generate_series || ':' || i.generate_series), 1, 15)) AS BIGINT) % 900 + 1
        |    END AS v
        |  FROM generate_series(0, 3) p, generate_series(0, 511) i),
        |q AS (SELECT j.generate_series AS j,
        |             (j.generate_series * 37) % 83 * 10 + 100 AS qv
        |      FROM generate_series(0, 15) j),
        |prof AS (
        |  SELECT pts.p AS process, pts.i - q.j AS start,
        |         SUM((pts.v - q.qv) * (pts.v - q.qv)) AS dist2
        |  FROM pts JOIN q ON pts.i - q.j BETWEEN 0 AND 496
        |  GROUP BY 1, 2 HAVING COUNT(*) = 16)
        |SELECT process, start, CAST(dist2 AS BIGINT) AS dist2
        |FROM prof ORDER BY dist2, process, start LIMIT 25""".stripMargin,

    // bpeish tokens = alnum runs + each non-space/non-alnum char as its own
    // token (RE2 has no lookarounds, so the oracle counts the two classes)
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
        |    + length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS INT)
        |    AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "shard_manifest" ->
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
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // prefix-sum replicated as a window cumsum; each doc joins the
    // generate_series of the examples it overlaps, per-example overlap
    // lengths sum to the fill
    "pack_contexts" ->
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
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    // epoch_order's smooth weighted round-robin as the stream order,
    // then the same cumsum + generate_series pack; first/last doc are
    // arg-min/-max by stream position
    "pack_mixture" ->
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
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    // same prefix sum as pack_contexts; a boundary row per document
    // start, positioned inside its example
    "pack_boundaries" ->
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
        |FROM c WHERE n > 0 ORDER BY 1, 2""".stripMargin,

    // best-fit-decreasing replayed as a recursive CTE: per source, items
    // in (n DESC, id) order; the state row carries the open-bin
    // remainder list — tightest fit = list_min of the fitting
    // remainders, lowest bin id on ties = first list position; a full
    // bin stays in the list (keeps creation-order ids) but a 0 remainder
    // can never fit an item again
    "pack_bestfit" ->
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
        |FROM st WHERE rn > 0 ORDER BY source, bin_id, chunk_key""".stripMargin,

    "text_langid" ->
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
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "langid_confusion" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "doc_fingerprint" -> (shinglesCte +
      """, hashed AS (
        |  SELECT DISTINCT doc_id,
        |         CAST(concat('0x', substr(md5('0:' || shingle), 1, 15)) AS BIGINT) AS h
        |  FROM sh)
        |SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS INT) AS pos,
        |       h AS fingerprint
        |FROM hashed QUALIFY pos <= 8 ORDER BY doc_id, pos""".stripMargin),

    "gopher_rules" ->
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
        |FROM m ORDER BY doc_id""".stripMargin,

    "distinct_ngrams" ->
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
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "mix_plan" ->
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
        |FROM w ORDER BY source""".stripMargin,

    "soft_dedup" -> (shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |df AS (SELECT shingle, COUNT(*) AS df FROM dsh GROUP BY 1)
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(f.df) AS BIGINT) AS sum_df,
        |       CAST(SUM(f.df) * 1000000 // COUNT(*) AS BIGINT) AS mean_df_micro,
        |       CAST(1000000000000 // (SUM(f.df) * 1000000 // COUNT(*)) AS BIGINT)
        |         AS weight_micro
        |FROM dsh d JOIN df f USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "tfidf_topterms" ->
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
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS representative,
        |       CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY representative""".stripMargin,

    "zipf_fit" ->
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
        |FROM xy GROUP BY 1 ORDER BY 1""".stripMargin,

    "source_crossent" ->
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
        |ORDER BY src_a, src_b""".stripMargin,

    "doc_novelty" -> (shinglesCte +
      """, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM dsh GROUP BY 1)
        |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new
        |FROM dsh d JOIN first f USING (shingle)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),

    "vocab_growth" -> (shinglesCte +
      """, first AS (
        |  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |b AS (
        |  SELECT first_doc // 50 AS bucket, COUNT(*) AS new_terms
        |  FROM first GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(new_terms AS BIGINT) AS new_terms,
        |       CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS cum_terms
        |FROM b ORDER BY bucket""".stripMargin),

    "minhash_sig" -> (shinglesCte +
      """, hashed AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
        |         CAST(concat('0x', substr(md5(shingle), 17, 14)) AS BIGINT) AS h2
        |  FROM sh)
        |SELECT doc_id, seed, MIN(h1 + seed * h2) AS minhash
        |FROM hashed, generate_series(0, 15) g(seed)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "lsh_tuning" -> (shinglesCte +
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

    "minhash_pairs" -> (shinglesCte +
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

    "source_profile" ->
      (s"""WITH q AS (SELECT source, lang, $qualitySql AS quality,
        |  len(regexp_split_to_array(trim(text), ' +')) AS toks FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |       ROUND(CAST(SUM(CAST(ROUND(quality * 10000, 0) AS BIGINT)) AS DOUBLE)
        |             / 10000.0 / COUNT(*), 6) AS mean_quality,
        |       ROUND(CAST(SUM(toks) AS DOUBLE) / COUNT(*), 4) AS mean_tokens
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin),

    "cms_topk" ->
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
        |GROUP BY 1, 2 ORDER BY exact_count DESC, token""".stripMargin,

    "hll_distinct" ->
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
        |FROM exact e JOIN est s ON e.lang = s.lang ORDER BY e.lang""".stripMargin,

    "dup_source_matrix" -> (shinglesCte + lshPairsCte +
      """SELECT LEAST(da.source, db.source) AS src_lo,
        |       GREATEST(da.source, db.source) AS src_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM prs p
        |JOIN documents da ON da.doc_id = p.a
        |JOIN documents db ON db.doc_id = p.b
        |WHERE da.source != db.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "dup_cross_source" -> (shinglesCte +
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

    "q_pivot" ->
      """SELECT source,
        |       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // components via transitive closure: min reachable id per node
    "dedup_components" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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

    // identical to dedup_components: the oracle is the FULL
    // recomputation; the engine's day-2 merge must match it exactly
    "dedup_components_incr" -> (shinglesCte
        .replaceFirst("WITH ", "WITH RECURSIVE ") + lshPairsCte +
      """, cedges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
        |reach(node, label) AS (
        |  SELECT x, x FROM cedges
        |  UNION
        |  SELECT e.x, r.label FROM cedges e JOIN reach r ON r.node = e.y)
        |SELECT node, MIN(label) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin),

    "lsh_recall" -> (shinglesCte + lshPairsCte +
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

    "dedup_cluster_sizes" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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

    "dedup_retained" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      lshLosersCte +
      """SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
        |ORDER BY doc_id""".stripMargin),

    "dedup_retained_best" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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

    "pq_codes" -> (pqCte() +
      "SELECT vec_id, code0, code1, code2, code3 FROM codes ORDER BY vec_id"),

    "ann_pq" -> {
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
    },

    "ann_pq_recall" -> {
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
    },

    "ann_ivfpq" -> {
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
    },

    "text_repetition" ->
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
        |FROM ta t LEFT JOIN ba b USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_logprob" ->
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ccnet_buckets" ->
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pair_align_span" -> (
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

    "lsh_precision" -> (shinglesCte + lshPairsCte +
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

    "minhash_estimate" -> (shinglesCte + lshPairsCte +
      """SELECT p.a, p.b,
        |  ROUND(AVG(CAST(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END
        |            AS DOUBLE)), 4) AS est_jaccard
        |FROM prs p
        |JOIN sig x ON x.doc_id = p.a
        |JOIN sig y ON y.doc_id = p.b AND y.seed = x.seed
        |GROUP BY 1, 2 ORDER BY a, b""".stripMargin),

    "text_pii" ->
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
         |FROM planted ORDER BY doc_id""".stripMargin,

    "sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |           AS BIGINT) < ${Curation.rateThreshold(0.2)}
         |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |             AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,

    "sample_mix" -> {
      val cases = MixRates
        .map { case (l, r) => s"WHEN '$l' THEN ${Curation.rateThreshold(r)}" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |           AS BIGINT) < CASE lang $cases END
         |ORDER BY doc_id""".stripMargin
    },

    "sample_temperature" ->
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
        |ORDER BY doc_id""".stripMargin,

    "quality_quantiles" ->
      s"""WITH q AS (SELECT lang, $qualitySql AS quality FROM documents)
         |SELECT lang,
         |  ROUND(quantile_cont(quality, 0.25), 4) AS p25,
         |  ROUND(quantile_cont(quality, 0.5), 4) AS p50,
         |  ROUND(quantile_cont(quality, 0.75), 4) AS p75,
         |  ROUND(quantile_cont(quality, 0.9), 4) AS p90
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "chunk_docs" ->
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
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // independent implementation: the engine rolls the gear hash in one
    // linear pass per row (custom expression); DuckDB rebuilds every
    // length-8 window by a positional self-join and aggregates
    // gv * 2^(offset). All terms are integers < 2^38 — engine-exact.
    "cdc_chunks" ->
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
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "cdc_dedup" -> CdcDedupSql,

    // the day-2 incremental probe against the frozen history chunk
    // store equals the full rerun restricted to the batch (history
    // membership OR batch-internal distinct-doc count >= 2 covers every
    // way the corpus-wide count reaches 2)
    "cdc_dedup_incr" -> CdcDedupSql.replace(
      "FROM chunks c JOIN hd USING (chunk_md5)",
      "FROM chunks c JOIN hd USING (chunk_md5)\nWHERE c.doc_id % 10 = 0"),

    "vocab_top" ->
      """SELECT lang, CAST(rn AS INT) AS rn, tok, c FROM (
        |  SELECT lang, tok, c, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY c DESC, tok) AS rn
        |  FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), ' +'))
        |                AS tok FROM documents)
        |        GROUP BY 1, 2))
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,

    "decontaminate" -> (shinglesCte +
      """, bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |shared AS (SELECT doc_id, COUNT(*) AS c
        |           FROM dsh JOIN bsh USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(s.c, 0) AS BIGINT) AS n_shared_shingles,
        |       CAST(CASE WHEN COALESCE(s.c, 0) >= 2 THEN 1 ELSE 0 END AS INT)
        |         AS contaminated
        |FROM documents d LEFT JOIN shared s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "decontaminate_bloom" -> (shinglesCte +
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

    "pack_batches" ->
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
        |ORDER BY doc_id""".stripMargin,

    "docs_curated" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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

    "pipeline_funnel" -> (shinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
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

    "simhash" ->
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
        |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,

    // brute-force Hamming <= 3 join over distinct signatures — provably
    // equal to the engine's 8-band Hamming-LSH (radius < bands)
    "simhash_neardup" ->
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
        |ORDER BY a, b""".stripMargin,

    // day-2 twin: per-side distinct signatures (history %10!=0, new
    // %10=0), brute-force Hamming <= 3 over the combined node set
    // restricted to pairs touching a new node
    "simhash_neardup_incr" ->
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
        |ORDER BY a, b""".stripMargin,

    "ngram_jaccard" -> (shinglesCte +
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

    "dedup_containment" -> (shinglesCte +
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

    // same 60-bit shingle hash as the engine (shared collisions keep the
    // compare bit-identical); prefix filtering is an engine-side pruning
    // only — the oracle verifies over ALL co-shingled pairs
    "jaccard_prefix" -> (shinglesCte +
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

    // the incremental path is EXACT (verification is order-independent),
    // so its oracle is the full brute-force threshold join restricted to
    // pairs touching a new-batch (doc_id % 10 = 0) document
    "jaccard_prefix_incr" -> (shinglesCte +
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
        |ORDER BY a, b""".stripMargin),

    "sample_budget" ->
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
         |ORDER BY doc_id""".stripMargin,

    "q_domain_cap" ->
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents)
         |SELECT source, rn, doc_id, quality FROM (
         |  SELECT source, doc_id, quality,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id) AS INT) AS rn
         |  FROM q)
         |WHERE rn <= 20 ORDER BY source, rn""".stripMargin,

    "ann_topk" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // engine-exact bitext scoring: per-component micro-quantization
    // (floor(x·10⁶) as BIGINT) makes dot/norms order-free integers; the
    // cosine is then ONE fixed IEEE expression (mul, sqrt, div, floor —
    // all correctly rounded) over identical integer inputs, so it is
    // bit-identical to Spark's VecDotMicro/VecNorm2Micro path. The
    // margin is the TRUE unshifted ratio with sign-explicit division
    // (|num| // |den| is trunc==floor; signs applied outside).
    "xlingual_margin" -> (xlingualScoredCte +
      """best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY margin_micro DESC, dst_id) AS rn FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rn = 1 AND margin_micro > 1050000
        |ORDER BY src_id""".stripMargin),

    "xlingual_mutual" -> (xlingualScoredCte +
      """best AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY src_id
        |          ORDER BY margin_micro DESC, dst_id) AS rf,
        |        ROW_NUMBER() OVER (PARTITION BY dst_id
        |          ORDER BY margin_micro DESC, src_id) AS rb FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rf = 1 AND rb = 1 AND margin_micro > 1000000
        |ORDER BY src_id""".stripMargin),

    // kmeansCte supplies e/c5/assign (the session quantizer); the scored
    // CTE supplies mm (brute-force margins); probes at rn <= 2 mirror
    // kmeansProbe's (distance, j) order
    "xlingual_cand_recall" -> (kmeansCte() + ", " +
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

    // day-1 stats from the restricted reference run (en % 10 != 0 via
    // candRestrict), then the NEW batch scored against the frozen
    // per-dst stats with fresh src-side neighborhoods — the
    // mineAgainstIndex formula relationally
    "xlingual_day2" -> (xlingualScoredCte("AND a.vec_id % 10 != 0") +
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

    "xlingual_margin_cand" -> (xlingualScoredCte("AND b.label = a.label") +
      """best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
        |           ORDER BY margin_micro DESC, dst_id) AS rn FROM mm)
        |SELECT src_id, dst_id, s AS sim_micro, margin_micro
        |FROM best WHERE rn = 1 AND margin_micro > 1050000
        |ORDER BY src_id""".stripMargin),

    // the engine packs codes in a codegen'd loop; DuckDB re-derives
    // them per (vec, dim). Identical IEEE double expression + LEAST
    // clamp → identical codes; distances are pure integers.
    "sq8_codes" ->
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
        |ORDER BY vec_id, dim""".stripMargin,

    "ann_sq8" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_topk_l2" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_filtered" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_hourly" ->
      """SELECT event_type,
        |       CAST(epoch_us(ts) // 3600000000 % 24 AS INT) AS hour,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin,

    "rp_reduce" ->
      """WITH planes AS (
        |  SELECT p.generate_series AS p, d.generate_series AS d,
        |         CAST(CAST('0x' || substring(md5(p.generate_series || ':' || d.generate_series), 1, 15) AS BIGINT)
        |              AS DOUBLE) / 576460752303423488 - 1.0 AS v
        |  FROM generate_series(0, 15) p, generate_series(0, 63) d)
        |SELECT e.vec_id, CAST(pl.p AS INT) AS d,
        |       ROUND(SUM(e.embedding[pl.d + 1] * pl.v), 4) AS v
        |FROM embeddings e, planes pl
        |GROUP BY e.vec_id, pl.p ORDER BY e.vec_id, pl.p""".stripMargin,

    "ann_hamming" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_hamming_rerank" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_ivf" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "kmeans_assign" -> (kmeansCte() +
      "SELECT vec_id, cluster FROM assign ORDER BY vec_id"),

    // greedy k-center per cluster, two selection rounds unrolled; all
    // distances are micro-integer-exact (floor(x·1e6) components, sums
    // ≤ ~2e13 — exact in doubles), so argmax + min-id tie-break is
    // bit-identical to the engine's struct-max
    "diverse_kcenter" -> (kmeansCte() +
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

    // distance by the ann_topk_l2 dots convention (NOT list_distance's
    // sqrt path) so the 4dp round sees the same double as the engine
    "emb_outliers" -> (kmeansCte() +
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

    // join keys are the engine's 60-bit integer hashes: h1 = md5-60 of
    // w1; bh = xor(h1, rot30(md5-60 of w2)) — one md5 per token, the
    // mix replicated exactly, so collisions are shared and the score is
    // bit-comparable while everything keys on BIGINTs
    "text_logprob2" ->
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
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_nb_classify" -> (NbCteSql +
      """SELECT a.doc_id, a.pred, d.lang,
        |       CAST(CASE WHEN a.pred = d.lang THEN 1 ELSE 0 END AS INT)
        |         AS correct,
        |       CAST(a.score_m AS BIGINT) AS score_m,
        |       CAST(a.margin_m AS BIGINT) AS margin_m
        |FROM ag a JOIN documents d USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    // batch-materialized twin of the streaming NB classifier: same CTE
    // chain plus the 10 s event-time window derived from doc_id
    "stream_nb_endstate" -> (NbCteSql +
      """SELECT (a.doc_id // 10) * 10 AS window_start, a.doc_id,
        |       t.t AS n_tokens, a.pred,
        |       CAST(a.score_m AS BIGINT) AS score_m,
        |       CAST(a.margin_m AS BIGINT) AS margin_m
        |FROM ag a JOIN tt t USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin),

    "ann_ivf_learned" -> (kmeansCte() +
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

    // ann_ivf_disk is the SAME search over the on-disk layout — one
    // oracle, two execution paths (in-memory vs partition-pruned scan)
    "ann_ivf_disk" -> (kmeansCte() +
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

    "ann_ivf_probe2" -> (kmeansCte() +
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

    "emb_neardup" ->
      """SELECT a, b, sim FROM (
        |  SELECT x.vec_id AS a, y.vec_id AS b,
        |         ROUND(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                                      CAST(y.embedding AS DOUBLE[])), 4) AS sim
        |  FROM embeddings x JOIN embeddings y
        |    ON x.label = y.label AND x.vec_id < y.vec_id)
        |WHERE sim >= 0.3 ORDER BY a, b""".stripMargin,

    "lsh_buckets" ->
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
        |FROM dots GROUP BY 1 ORDER BY vec_id""".stripMargin,

    "multimodal_features" ->
      """WITH luma AS (
        |  SELECT doc_id, SUM(ascii(text[i])) AS s
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |        FROM documents) GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(640 + length(text) % 640 AS INT) AS width,
        |       CAST(360 + length(text) % 360 AS INT) AS height,
        |       CAST(1 + length(text) % 16 AS INT) AS n_frames,
        |       ROUND(CAST(l.s AS DOUBLE) / length(text) / 255, 6) AS mean_luma,
        |       CAST((1 + length(text) % 16 + 1) // 2 AS INT) AS n_sampled
        |FROM documents d JOIN luma l ON d.doc_id = l.doc_id ORDER BY d.doc_id""".stripMargin,

    "dup_spans" -> (shinglesCte +
      """, docfreq AS (
        |  SELECT shingle, COUNT(DISTINCT doc_id) AS ndocs FROM sh GROUP BY 1)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |       CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_spans,
        |       ROUND(CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 4) AS dup_ratio
        |FROM sh s JOIN docfreq d USING (shingle)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    "dup_spans_maximal" ->
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
        |FROM reg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dup_spans_removed" -> dupSpansRemovedSql(""),

    // the day-2 incremental clean of the %10==0 batch against the
    // frozen history shingle set EQUALS the full rerun restricted to
    // the batch (set membership + batch-internal df >= 2 covers every
    // way the corpus-wide distinct-doc count reaches 2), so the oracle
    // is the full-corpus pipeline filtered to the batch
    "dup_spans_removed_incr" -> dupSpansRemovedSql(
      "WHERE t1.doc_id % 10 = 0 "),

    "dsir_weights" -> (dsirCte +
      """SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
        |       ROUND(SUM(c * w), 4) AS log_ratio
        |FROM db JOIN bw USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "dsir_resample" -> (dsirCte +
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

    "bm25_topk" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // default = auto-k (mirrors the Spark default); fixed-k is the twin
    "semdedup" -> (kmeansCteAuto().replaceFirst("WITH ", "WITH RECURSIVE ") +
      SemDedupTailSql),

    "semdedup_fixedk" -> (kmeansCte().replaceFirst("WITH ", "WITH RECURSIVE ") +
      SemDedupTailSql),

    // day-2 twin: cluster-restricted cosine pairs where at least one
    // side is in the new batch, under the same session quantizer
    "semdedup_incr" -> (kmeansCte() +
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

    "fingerprint_winnow" -> (winnowCte +
      """SELECT DISTINCT doc_id, CAST(k % 1048576 AS BIGINT) AS pos,
        |       CAST(k // 1048576 AS BIGINT) AS fingerprint
        |FROM wmin WHERE pos <= GREATEST(nsh - 3, 1)
        |ORDER BY doc_id, pos""".stripMargin),

    "winnow_pairs" -> (winnowCte +
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

    // full winnow pipeline restricted to pairs TOUCHING the %10==0
    // batch — what the combined-count day-2 cap provably equals
    "winnow_pairs_incr" -> (winnowCte +
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
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b""".stripMargin),

    "knn_graph" -> (kmeansCte() + KnnGraphTailSql),

    "knn_graph_auto" -> (kmeansCteAuto() + KnnGraphTailSql),

    // the full NN-descent round replicated relationally: cluster-kNN ∪
    // deterministic random bridges -> reverse cap -> 2-hop closure ->
    // re-score -> top-3; recall of both graphs vs brute force over the
    // fixed-size (count-derived modulus) sample, in integer micro-units
    "knn_graph_nnd" -> (kmeansCteAuto() +
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

    "emb_drift" -> (kmeansCte() +
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

    "graph_triangles" -> (kmeansCte() +
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

    "ann_recall" -> (kmeansCte() +
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

    // independent implementation check: DuckDB's native ASOF JOIN vs. the
    // engine's union+window formulation (no ts ties in events at any sf,
    // so the ASOF tie rule cannot diverge)
    // explicit windowed as-of (NOT DuckDB's native ASOF JOIN, whose pick
    // among right rows sharing the minimal timestamp is unspecified):
    // the rank order encodes the engine's documented tie-break — backward
    // resolves equal timestamps to the HIGHEST right id
    "q_asof" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS t, value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.event_id AS pid, v.event_id AS vid, v.t AS vt, v.value,
        |             ROW_NUMBER() OVER (PARTITION BY p.event_id
        |               ORDER BY v.t DESC, v.event_id DESC) AS rn
        |      FROM p JOIN v ON p.user_id = v.user_id AND v.t <= p.t)
        |SELECT p.event_id, p.user_id,
        |       CAST(j.vid AS BIGINT) AS view_event_id,
        |       CAST(p.t - j.vt AS BIGINT) AS wait_us,
        |       ROUND(j.value, 4) AS view_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.pid
        |ORDER BY p.event_id""".stripMargin,

    // forward direction: equal timestamps match, ties to the SMALLEST
    // right id (AsOfJoin.asOfForward's documented tie-break)
    "q_asof_fwd" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, epoch_us(ts) AS t, value
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.event_id AS pid, v.event_id AS vid, v.t AS vt, v.value,
        |             ROW_NUMBER() OVER (PARTITION BY p.event_id
        |               ORDER BY v.t ASC, v.event_id ASC) AS rn
        |      FROM p JOIN v ON p.user_id = v.user_id AND v.t >= p.t)
        |SELECT p.event_id, p.user_id,
        |       CAST(j.vid AS BIGINT) AS view_event_id,
        |       CAST(j.vt - p.t AS BIGINT) AS wait_us,
        |       ROUND(j.value, 4) AS view_value
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.pid
        |ORDER BY p.event_id""".stripMargin,

    "hybrid_topk" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "cluster_terms" -> (kmeansCte() +
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

    "quality_logreg" ->
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
        |FROM z ORDER BY doc_id""".stripMargin,

    // pixel(i) = (seed*31 + i*7) % 256 over an (8 + seed%5) x (6 + seed%4)
    // raster, seed = doc_id % 50; the oracle recomputes the 8x8 sample
    // grid, floor-mean threshold, and 32-bit half packing directly
    "image_phash" ->
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
        |ORDER BY h.doc_id""".stripMargin,

    // NEAR-dup twin of image_phash: variant = (doc_id // 50) % 2 replaces
    // raw pixel 0 with (seed*31 + 128) % 256 (a planted perturbation that
    // flips 0-6 hash bits, measured over all 50 groups); the oracle
    // recomputes the perturbed hashes, collapses to distinct, and does
    // the brute-force Hamming <= 6 join that the engine's 8-band
    // Hamming-LSH provably reproduces (radius 6 < 8 bands = lossless)
    "image_neardup" ->
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
        |ORDER BY a, b""".stripMargin,

    // day-2 twin: per-side distinct hashes (history %10!=0, new %10=0),
    // brute-force Hamming <= 6 over the combined node set restricted to
    // pairs touching a new node — what the engine's band-index join
    // provably reproduces (radius < bands)
    "image_neardup_incr" ->
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
        |ORDER BY a, b""".stripMargin,

    // pixel(i) = (doc_id*31 + i*7) % 256 over a (8 + id%5) x (6 + id%4)
    // raster — the oracle recomputes what the PGM decoder must extract
    "image_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, SUM((d.doc_id * 31 + i.i * 7) % 256) AS pxsum
        |  FROM dims d JOIN generate_series(0, 107) i(i) ON i.i < d.w * d.h
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       ROUND(pxsum * 1.0 / (w * h) / 255, 6) AS mean_luma
        |FROM px ORDER BY doc_id""".stripMargin,

    // resized pixel (x,y) samples source index sy*w + sx with the same
    // integral truncation the engine uses; value = (id*31 + idx*7) % 256
    "image_resize" ->
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
        |FROM px ORDER BY doc_id""".stripMargin,

    "pprof_flat" ->
      """WITH s AS (
        |  SELECT 'leaf_' || (doc_id % 5) AS leaf, 10 + doc_id % 7 AS v,
        |         3 AS d
        |  FROM documents
        |  UNION ALL
        |  SELECT 'work_' || (doc_id % 3), 1 + doc_id % 4, 2 FROM documents)
        |SELECT leaf AS leaf_function, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |       CAST(SUM(v) AS BIGINT) AS total,
        |       CAST(MAX(d) AS INT) AS max_depth
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "pprof_diff" ->
      """WITH s AS (
        |  SELECT 'leaf_' || (doc_id % 5) AS leaf_function,
        |         10 + doc_id % 7 AS v, CAST(doc_id % 2 AS INT) AS side
        |  FROM documents)
        |SELECT leaf_function,
        |       CAST(SUM(CASE WHEN side = 0 THEN v ELSE 0 END) AS BIGINT)
        |         AS before_total,
        |       CAST(SUM(CASE WHEN side = 1 THEN v ELSE 0 END) AS BIGINT)
        |         AS after_total,
        |       CAST(SUM(CASE WHEN side = 1 THEN v ELSE 0 END)
        |          - SUM(CASE WHEN side = 0 THEN v ELSE 0 END) AS BIGINT)
        |         AS delta
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "pprof_folded" ->
      """WITH s AS (
        |  SELECT 'main;work_' || (doc_id % 3) || ';leaf_' || (doc_id % 5)
        |           AS stack_folded,
        |         10 + doc_id % 7 AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'main;work_' || (doc_id % 3), 1 + doc_id % 4 FROM documents)
        |SELECT stack_folded, CAST(SUM(v) AS BIGINT) AS total,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "video_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + (doc_id % 3) * 2 AS w, 4 + (doc_id % 2) * 2 AS h,
        |         3 + doc_id % 4 AS n
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         SUM((d.doc_id * 13 + f.f * 5 + i.i * 3) % 256) AS luma_sum,
        |         COUNT(DISTINCT f.f) AS n_sampled
        |  FROM dims d
        |  JOIN generate_series(0, 6) f(f) ON f.f < d.n AND f.f % 2 = 0
        |  JOIN generate_series(0, 47) i(i) ON i.i < d.w * d.h
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        |       CAST(d.n AS INT) AS n_frames,
        |       CAST(p.n_sampled AS INT) AS n_sampled,
        |       CAST(p.luma_sum AS BIGINT) AS luma_sum
        |FROM dims d JOIN px p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // |sample(i)| = (seed*37 + i*11) % 8192, +20000 in regions r where
    // (seed*7 + r*3 + seed*r) % 19 < 6 (r = i*8//n), over n = 50+seed%37
    // mono frames, seed = doc_id % 40; frame j = i*32 // n, bit j set
    // iff the frame's floor-mean |amplitude| beats the overall floor-mean
    // per-frame 8x8 aHash recomputed from the luma formula, frame set
    // per doc (variant=1 drops base frame 0), tokens hashed with the
    // engine's md5-60 family, brute-force set-Jaccard at tau=2/3
    "video_neardup" ->
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
        |ORDER BY a, b""".stripMargin,

    // identical to video_neardup restricted to pairs touching a new
    // (%10==0) video — what the engine's frozen-index day-2 join must
    // reproduce exactly
    "video_neardup_incr" ->
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
        |ORDER BY a, b""".stripMargin,

    "audio_fingerprint" ->
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
        |FROM fps f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin,

    // brute-force Hamming <= 6 over the distinct 64-bit DIFFERENCE
    // fingerprints — what the engine's lossless banding (radius < bands)
    // provably reproduces; bit j compares frames j and j+1 by the exact
    // cross-multiplied rational s_j/c_j > s_{j+1}/c_{j+1}
    "audio_neardup" ->
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
        |ORDER BY a, b""".stripMargin,

    // day-2 twin: per-side distinct fingerprints (history %10!=0, new
    // %10=0), brute-force Hamming <= 6 over the combined node set
    // restricted to pairs touching a new node — what the engine's
    // band-index join provably reproduces (radius < bands)
    "audio_neardup_incr" ->
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
        |ORDER BY a, b""".stripMargin,

    "audio_features" ->
      """WITH dims AS (SELECT doc_id, 50 + doc_id % 37 AS n FROM documents),
        |sm AS (
        |  SELECT d.doc_id, d.n,
        |         SUM(ABS((d.doc_id * 37 + i.i * 11) % 65536 - 32768)) AS abs_sum
        |  FROM dims d JOIN generate_series(0, 86) i(i) ON i.i < d.n
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(1 AS INT) AS n_channels,
        |       CAST(8000 AS INT) AS sample_rate, CAST(n AS INT) AS n_samples,
        |       CAST(abs_sum AS BIGINT) AS abs_sum,
        |       CAST(abs_sum * 1000000 // (n * 32768) AS BIGINT) AS mean_abs_micro
        |FROM sm ORDER BY doc_id""".stripMargin,

    "contrastive_pairs" -> (kmeansCte() +
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

    // same knn CTE as knn_graph (rank <= 3), then 3 unrolled FIXED-POINT
    // PageRank stages (micro-units, integer division — exact in both
    // engines, no FP sum-order noise)
    "graph_pagerank" -> (kmeansCteAuto() +
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

    // peeling as a recursive CTE over the symmetric co-purchase edge
    // list — each iteration's working table is the surviving graph,
    // per-endpoint degrees come from two window counts, and the
    // iteration cap (not convergence) defines the result, so the engines
    // agree even if the fixpoint lands earlier
    "graph_kcore" ->
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
        |FROM ae WHERE iter = 8 GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(
        |         regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |         ' +', ' ', 'g'))) AS norm_md5,
        |       CAST(length(trim(regexp_replace(
        |         regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |         ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_weighted" -> (
      s"""WITH q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
        |k AS (
        |  SELECT doc_id, quality,
        |         ROUND(-ln((CAST(concat('0x', substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |                         AS BIGINT) + 1) / 1152921504606846976.0)
        |               / quality, 6) AS es_key
        |  FROM q WHERE quality > 0)
        |SELECT doc_id, quality, es_key FROM k
        |ORDER BY es_key, doc_id LIMIT 50""".stripMargin),

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |              MIN(CASE WHEN e.t > s1.t1 THEN e.t END) AS t2
        |       FROM s1 LEFT JOIN e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |              MIN(CASE WHEN e.t > s2.t2 THEN e.t END) AS t3
        |       FROM s2 LEFT JOIN e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3,
        |       CAST(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |          + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
        |FROM s3 ORDER BY user_id""".stripMargin,

    "q_semi_anti" ->
      """SELECT c.c_mktsegment,
        |       CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                                  WHERE o.o_custkey = c.c_custkey)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        |       CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |                                      WHERE o.o_custkey = c.c_custkey)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
        |FROM customer c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_setops" ->
      """WITH b95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE EXTRACT(year FROM o_orderdate) = 1995),
        |b96 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE EXTRACT(year FROM o_orderdate) = 1996)
        |SELECT o_custkey, 'retained' AS cohort
        |FROM (SELECT o_custkey FROM b95 INTERSECT SELECT o_custkey FROM b96)
        |UNION ALL
        |SELECT o_custkey, 'churned' AS cohort
        |FROM (SELECT o_custkey FROM b95 EXCEPT SELECT o_custkey FROM b96)
        |ORDER BY cohort, o_custkey""".stripMargin,

    "q_cube" ->
      """WITH e AS (SELECT event_type,
        |                  CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow
        |           FROM events)
        |SELECT COALESCE(event_type, 'ALL') AS etype,
        |       COALESCE(dow, -1) AS dow, CAST(COUNT(*) AS BIGINT) AS n
        |FROM e GROUP BY CUBE (event_type, dow)
        |ORDER BY etype, dow""".stripMargin,

    "q_sliding" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |                  CAST(COUNT(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, n,
        |       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7
        |FROM d ORDER BY event_type, day""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_distinct_agg" ->
      """SELECT o_orderpriority,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_skew_join" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events e JOIN orders o ON e.user_id = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // independent implementation: DuckDB plans the raw BETWEEN theta join,
    // the engine uses the binned equi-join decomposition
    "q_range_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS te
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, COUNT(*) AS n
        |      FROM p JOIN c ON c.user_id = p.user_id
        |        AND c.t BETWEEN p.te - 300000000 AND p.te
        |      GROUP BY 1)
        |SELECT p.purchase_id, CAST(COALESCE(j.n, 0) AS BIGINT) AS n_clicks
        |FROM p LEFT JOIN j USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    "ann_topk_sql" ->
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
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + CAST(ROUND(value * 100) AS BIGINT) * 10 AS e
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, e,
        |         CASE WHEN MAX(e) OVER pw IS NULL OR s > MAX(e) OVER pw
        |              THEN 1 ELSE 0 END AS newi
        |  FROM iv
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl AS (
        |  SELECT user_id, s, e,
        |         SUM(newi) OVER (PARTITION BY user_id ORDER BY s, e
        |                         ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |g AS (SELECT user_id, island, MIN(s) AS s, MAX(e) AS e,
        |             COUNT(*) AS ns
        |      FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_merged,
        |       CAST(SUM(e - s) AS BIGINT) AS covered_us,
        |       CAST(MAX(ns) AS BIGINT) AS max_merged
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scd2" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
        |         o_orderstatus, o_orderkey FROM orders),
        |f AS (
        |  SELECT o_custkey, day, o_orderstatus, o_orderkey,
        |         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
        |              WHEN NOT (o_orderstatus IS NOT DISTINCT FROM
        |                        LAG(o_orderstatus) OVER w) THEN 1
        |              ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)),
        |v AS (
        |  SELECT o_custkey, day, o_orderstatus,
        |         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey
        |                        ROWS UNBOUNDED PRECEDING) AS version
        |  FROM f),
        |g AS (SELECT o_custkey, version, MIN(o_orderstatus) AS status,
        |             MIN(day) AS from_day, CAST(COUNT(*) AS BIGINT) AS n_orders
        |      FROM v GROUP BY 1, 2)
        |SELECT o_custkey, CAST(version AS BIGINT) AS version, status, from_day,
        |       LEAD(from_day) OVER (PARTITION BY o_custkey ORDER BY version)
        |         AS to_day,
        |       n_orders
        |FROM g ORDER BY o_custkey, version""".stripMargin,

    "q_pit_join" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
        |         o_orderstatus, o_orderkey FROM orders),
        |f AS (
        |  SELECT o_custkey, day, o_orderstatus, o_orderkey,
        |         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
        |              WHEN NOT (o_orderstatus IS NOT DISTINCT FROM
        |                        LAG(o_orderstatus) OVER w) THEN 1
        |              ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)),
        |v AS (
        |  SELECT o_custkey, day, o_orderstatus,
        |         SUM(chg) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey
        |                        ROWS UNBOUNDED PRECEDING) AS version
        |  FROM f),
        |g AS (SELECT o_custkey, version, MIN(o_orderstatus) AS status,
        |             MIN(day) AS from_day FROM v GROUP BY 1, 2),
        |ver AS (
        |  SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
        |         status, from_day,
        |         COALESCE(LEAD(from_day) OVER (PARTITION BY o_custkey
        |                                       ORDER BY version), 11536) AS to_day
        |  FROM g),
        |p AS (SELECT event_id, user_id AS custkey,
        |             9131 + (epoch_us(ts) // 86400000000) % 2405 AS obs_day
        |      FROM events)
        |SELECT p.event_id, p.custkey, p.obs_day, ver.status, ver.version
        |FROM p JOIN ver ON p.custkey = ver.custkey
        |               AND p.obs_day >= ver.from_day
        |               AND p.obs_day < ver.to_day
        |ORDER BY p.event_id""".stripMargin,

    "q_gapfill" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
        |      FROM d GROUP BY 1),
        |g AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS day FROM b),
        |f AS (SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
        |      FROM g LEFT JOIN d ON g.event_type = d.event_type
        |                        AND g.day = d.day)
        |SELECT event_type, day, n,
        |       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day)
        |            AS BIGINT) AS cum_n
        |FROM f ORDER BY 1, 2""".stripMargin,

    "fuzzy_names" ->
      """WITH nm AS (SELECT DISTINCT p_name AS name,
        |                   string_split(p_name, ' ')[-1] AS block
        |            FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM nm a JOIN nm b ON a.block = b.block AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2""".stripMargin,

    "fuzzy_sorted" ->
      """WITH nm AS (SELECT DISTINCT p_name AS name FROM part),
        |r AS (SELECT name, ROW_NUMBER() OVER (ORDER BY name) - 1 AS rk
        |      FROM nm),
        |p AS (SELECT a.name AS name_a, b.name AS name_b
        |      FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT name_a, name_b,
        |       CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 6
        |ORDER BY 1, 2""".stripMargin,

    "fuzzy_link" ->
      """WITH n AS (SELECT p_partkey + 1000000 AS a,
        |                  substr(p_name, 2) AS sa FROM part)
        |SELECT n.a, p.p_partkey AS b,
        |       CAST(levenshtein(n.sa, p.p_name) AS INT) AS dist
        |FROM n JOIN part p
        |  ON abs(length(n.sa) - length(p.p_name)) <= 2
        |WHERE levenshtein(n.sa, p.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin,

    "fuzzy_exact" ->
      """SELECT a.p_partkey AS a, b.p_partkey AS b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin,

    // the full brute-force self-join restricted to batch-touching pairs
    "fuzzy_exact_incr" ->
      """SELECT a.p_partkey AS a, b.p_partkey AS b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |  AND (a.p_partkey % 10 = 0 OR b.p_partkey % 10 = 0)
        |ORDER BY 1, 2""".stripMargin,

    "fuzzy_link_incr" ->
      """WITH n AS (SELECT p_partkey + 1000000 AS a,
        |                  substr(p_name, 2) AS sa FROM part
        |           WHERE p_partkey % 7 = 0)
        |SELECT n.a, p.p_partkey AS b,
        |       CAST(levenshtein(n.sa, p.p_name) AS INT) AS dist
        |FROM n JOIN part p
        |  ON abs(length(n.sa) - length(p.p_name)) <= 2
        |WHERE levenshtein(n.sa, p.p_name) <= 2
        |ORDER BY 1, 2""".stripMargin,

    "q_zorder" -> {
      val terms = (0 until 10).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH xy AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
         |            FROM lineitem),
         |zz AS (SELECT x, y, ($terms) AS z FROM xy)
         |SELECT z // 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |       MIN(x) AS min_x, MAX(x) AS max_x,
         |       MIN(y) AS min_y, MAX(y) AS max_y
         |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_skyline" ->
      """WITH p AS (
        |  SELECT DISTINCT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
        |         CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
        |  FROM orders WHERE o_totalprice > 400000)
        |SELECT price_c, day FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c >= a.price_c AND b.day >= a.day
        |    AND (b.price_c > a.price_c OR b.day > a.day))
        |ORDER BY price_c DESC, day""".stripMargin,

    "bpe_merges" -> bpeOracleSql(8),

    "bpe_encode" -> (bpeOracleChain(8, withFinalVocab = true) +
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

    "q_equidepth" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |         event_id FROM events),
        |r AS (
        |  SELECT event_type, v,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |x AS (SELECT event_type, v, rn, n,
        |             UNNEST(generate_series(1, 9)) AS q FROM r)
        |SELECT event_type, CAST(q AS INT) AS q,
        |       CAST(rn AS BIGINT) AS rank_sel, v AS boundary
        |FROM x WHERE rn = (q * n + 9) // 10
        |ORDER BY 1, 2""".stripMargin,

    "q_winsorize" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |         event_id FROM events),
        |r AS (
        |  SELECT event_type, v,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |b AS (
        |  SELECT event_type,
        |         MIN(CASE WHEN rn = (1 * n + 9) // 10 THEN v END) AS lo,
        |         MIN(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS hi
        |  FROM r GROUP BY 1),
        |w AS (
        |  SELECT e.event_type, GREATEST(b.lo, LEAST(b.hi, e.v)) AS wv
        |  FROM e JOIN b USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(wv) AS BIGINT) AS w_sum,
        |       CAST(SUM(wv) // COUNT(*) AS BIGINT) AS w_mean_c
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // same BM25 + cosine ranking CTEs as hybrid_topk, truncated at 5,
    // then per-depth intersection counts with integer RBO weights
    "retrieval_overlap" ->
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
        |ORDER BY 1, 2""".stripMargin,

    "q_merge_upsert" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS seq, event_id,
        |         CASE event_type WHEN 'view' THEN 'I'
        |                         WHEN 'error' THEN 'D'
        |                         ELSE 'U' END AS op,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS val_c
        |  FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY seq DESC, event_id DESC) AS rn FROM c)
        |SELECT user_id, op, seq, val_c FROM r
        |WHERE rn = 1 AND op != 'D' ORDER BY user_id""".stripMargin,

    "q_autocorr" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS t,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, MIN(t) AS lo, MAX(t) AS hi
        |      FROM d GROUP BY 1),
        |g AS (SELECT event_type, UNNEST(generate_series(lo, hi)) AS t FROM b),
        |f AS (SELECT g.event_type, g.t, COALESCE(d.n, 0) AS n
        |      FROM g LEFT JOIN d ON g.event_type = d.event_type
        |                        AND g.t = d.t),
        |l AS (SELECT UNNEST([1, 2, 3, 4, 5, 6]) AS lag),
        |j AS (SELECT f.event_type, l.lag, f.n AS x, f2.n AS y
        |      FROM f CROSS JOIN l
        |      JOIN f f2 ON f2.event_type = f.event_type
        |               AND f2.t = f.t + l.lag)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(x) AS BIGINT) AS sum_x,
        |       CAST(SUM(y) AS BIGINT) AS sum_y,
        |       CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |       CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |       CAST(SUM(y * y) AS BIGINT) AS sum_y2
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "emb_gram" ->
      """WITH e AS (SELECT vec_id, embedding,
        |                  UNNEST(generate_series(1, len(embedding))) AS i
        |           FROM embeddings),
        |x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                  AS BIGINT) AS v
        |      FROM e)
        |SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS s
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "value_psi" ->
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
        |FROM p GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "text_readability" ->
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
        |FROM m ORDER BY doc_id""".stripMargin,

    "value_drift" ->
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
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "q_rolling_median" ->
      """WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, day, n,
        |         list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
        |                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS f
        |  FROM d)
        |SELECT event_type, day, n, CAST(len(f) AS BIGINT) AS roll_n,
        |       f[CAST((len(f) + 1) // 2 AS INT)] AS roll_med
        |FROM r ORDER BY 1, 2""".stripMargin,

    "q_benford" ->
      """WITH v AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x
        |           FROM orders WHERE o_totalprice > 0),
        |d AS (SELECT CAST(substr(CAST(x AS VARCHAR), 1, 1) AS INT) AS digit,
        |             CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
        |SELECT digit, n, n * 1000000 // tot AS share_micro
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,

    "q_gini" ->
      """WITH v AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |                  o_orderkey FROM orders),
        |r AS (SELECT cents,
        |             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk
        |      FROM v)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS sum_x,
        |       CAST(SUM(rk * cents) AS BIGINT) AS sum_rank_x
        |FROM r""".stripMargin,

    "q_weighted_quantile" ->
      """WITH v AS (SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x,
        |                  CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
        |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(SUM(wt) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM q CROSS JOIN b),
        |byv AS (SELECT x, CAST(SUM(wt) AS BIGINT) AS vw FROM v GROUP BY 1),
        |run AS (SELECT x, vw,
        |               CAST(SUM(vw) OVER (ORDER BY x) AS BIGINT) AS cw
        |        FROM byv)
        |SELECT CAST(t.pm AS INT) AS per_mille, t.n AS total_weight,
        |       CAST(t.lo + ((((r2.x - t.lo) * 1024) // t.w) * t.w) // 1024
        |            AS BIGINT) AS est,
        |       r2.x AS exact,
        |       CAST(ABS(r2.x - (t.lo + ((((r2.x - t.lo) * 1024) // t.w) * t.w)
        |            // 1024)) AS BIGINT) AS abs_err
        |FROM t JOIN run r2 ON r2.cw >= t.r AND r2.cw - r2.vw < t.r
        |ORDER BY 1""".stripMargin,

    "q_quantile_by_key" ->
      """WITH v AS (SELECT event_type AS k,
        |                  CAST(FLOOR(value * 100) AS BIGINT) AS x FROM events),
        |b AS (SELECT k, MIN(x) AS lo, MAX(x) AS hi,
        |             CAST(COUNT(*) AS BIGINT) AS n,
        |             MAX(x) - MIN(x) + 1 AS w FROM v GROUP BY 1),
        |q AS (SELECT UNNEST([500, 900, 990]) AS pm),
        |t AS (SELECT k, pm, (pm * n + 999) // 1000 AS r, lo, w, n
        |      FROM b CROSS JOIN q),
        |srt AS (SELECT k, x,
        |               ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) AS rn
        |        FROM v)
        |SELECT t.k AS event_type, CAST(t.pm AS INT) AS per_mille, t.n AS n,
        |       CAST(t.lo + ((((s.x - t.lo) * 64) // t.w) * t.w) // 64
        |            AS BIGINT) AS est,
        |       s.x AS exact,
        |       CAST(ABS(s.x - (t.lo + ((((s.x - t.lo) * 64) // t.w) * t.w) // 64))
        |            AS BIGINT) AS abs_err
        |FROM t JOIN srt s ON s.k = t.k AND s.rn = t.r
        |ORDER BY 1, 2""".stripMargin,

    "dq_fd" ->
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
        |) ORDER BY "check"""".stripMargin,

    "dq_report" ->
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
        |) ORDER BY "check"""".stripMargin,

    "quantile_sketch" ->
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
        |ORDER BY 1""".stripMargin,

    "emb_cov" ->
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
        |ORDER BY g.i, g.j""".stripMargin,

    "knn_classify" ->
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
        |WHERE p.rn = 1 ORDER BY p.query_id""".stripMargin,

    "ann_mips" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "tile_dedup" ->
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
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_diff" ->
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
        |ORDER BY doc_id, status""".stripMargin,

    // the oracle aggregates snapshot B DIRECTLY; the engine maintains
    // A's aggregate incrementally through the diff — equality is the
    // proof the maintenance algebra is exact
    "incr_agg" ->
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
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "split_ngram_overlap" -> (splitAssignCte +
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

    "split_safe" -> (splitAssignCte +
      """SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(d.text), ' +'))) AS BIGINT)
        |         AS n_tokens,
        |       CAST(SUM(CASE WHEN a.in_cluster THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_clustered
        |FROM assign a JOIN documents d USING (doc_id)
        |GROUP BY a.split ORDER BY a.split""".stripMargin),

    "split_leakage" -> (splitAssignCte +
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

    "q_changepoint" ->
      """WITH v AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, day,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS r,
        |         SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS cum,
        |         COUNT(*) OVER (PARTITION BY event_type) AS m,
        |         SUM(n) OVER (PARTITION BY event_type) AS t
        |  FROM v),
        |s2 AS (
        |  SELECT event_type, day, ABS(m * cum - r * t) AS score, m, t,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY ABS(m * cum - r * t) DESC, day) AS rn
        |  FROM sc)
        |SELECT event_type, day AS change_bucket,
        |       CAST(score AS BIGINT) AS score,
        |       CAST(m AS BIGINT) AS n_buckets, CAST(t AS BIGINT) AS total
        |FROM s2 WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + i AS day
        |  FROM ud, generate_series(0, 6) g(i)),
        |roll AS (
        |  SELECT c.day, CAST(COUNT(*) AS BIGINT) AS rolling_active
        |  FROM contrib c JOIN days d USING (day) GROUP BY 1)
        |SELECT day, dau, rolling_active
        |FROM dau JOIN roll USING (day) ORDER BY day""".stripMargin,

    // the streaming FIFO channel matcher replayed as two ranked windows:
    // in one closed micro-batch each side orders by (ts, id) per channel
    // and pairs positionally — the k-th send with the k-th receive
    "stream_match_endstate" -> (commCte +
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

    // the stream-static LSH join: new-doc band keys against the batch
    // band index — one row per matching (band, band_key)
    "stream_lsh_endstate" -> (shinglesCte + lshPairsCte +
      """SELECT x.doc_id AS doc_id, y.doc_id AS index_id,
        |       CAST(x.band AS INT) AS band
        |FROM band x JOIN band y
        |  ON x.band = y.band AND x.band_key = y.band_key
        |WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 != 0
        |ORDER BY doc_id, index_id, band""".stripMargin),

    // the stream-static Hamming join: new image hashes band-join the
    // batch band table and verify in the same projection (radius 6 of
    // 8 bands) — one verified row per shared band
    "stream_hamming_endstate" ->
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
        |ORDER BY doc_id, index_id, band""".stripMargin,

    // the streaming cdc state machine applies changes in (seq, op, v)
    // order, keeping strict ascents: end state = max tuple, stale =
    // duplicates of an applied tuple
    // the guard state machine replayed as two strictly-past windows:
    // lt/lb = latest trigger/blocker before the target in (t, id) order
    "stream_guarded_endstate" ->
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
        |FROM w WHERE event_type = 'purchase' ORDER BY 1, 2""".stripMargin,

    // the high-water emitter's output set: one dau row per distinct
    // active day, one rolling row per day covered by any trailing-7-day
    // range (distinct union of the per-day ranges); in-order batch
    // replay produces no late rows
    "stream_rolling_endstate" ->
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
        |ORDER BY 1, 2, 3""".stripMargin,

    "stream_cdc_endstate" ->
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
        |ORDER BY b.k""".stripMargin,

    "stream_session_endstate" ->
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
        |ORDER BY user_id, start_us""".stripMargin,

    // the as-of state machine's batch replay: latest view at or before
    // each purchase (inclusive), right ties to the highest event id
    "stream_asof_endstate" ->
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
        |ORDER BY p.event_id""".stripMargin,

    // the funnel state machine's strict progression: first click, first
    // view strictly after it, first purchase strictly after that
    "stream_funnel_endstate" ->
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
        |ORDER BY user_id, depth""".stripMargin,

    // the concurrency segmenter's sweep: net delta per (process, tick),
    // running-sum level, each tick closing the segment it opens at LEAD
    "stream_conc_endstate" -> (callCte +
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

    // the streaming call matcher's batch replay against the synthetic
    // trace's closed form: event ids double as timestamps (callCte),
    // item exc = inc - sub inc = qty*500 + 90, order exc = 999000 minus
    // the sum of its items' incs
    "stream_calls_endstate" -> (callCte +
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

    // the transition state machine's batch replay: LAG in (t, id) order
    // per key; in-order replay emits no disordered steps
    "stream_trans_endstate" ->
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
        |ORDER BY k, t, from_state, to_state""".stripMargin,

    // the interval-union state machine's batch replay: gaps-and-islands
    // (strict gap closes, running-max end) MINUS each key's final island
    // — in batch the open island never emits (no key timeout fires)
    "stream_interval_endstate" ->
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
        |ORDER BY k, "start"""".stripMargin,

    // the streaming windowed top-k heap's batch replay: weight rollup
    // per (6h window, key), rank by (weight DESC, key DESC) — the
    // native heap aggregate's deterministic tie order (q_topk_agg)
    "stream_topk_endstate" ->
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
        |ORDER BY window_start, rank""".stripMargin,

    // the streaming DAU counter's batch replay
    "stream_active_endstate" ->
      """SELECT epoch_us(ts) // 1000000 // 86400 * 86400 AS window_start,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the streaming per-window CMS cells' batch replay: identical md5
    // cell arithmetic to cms_topk, bucketed into 10-minute windows of
    // the doc_id-derived event time
    "stream_cms_endstate" ->
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
        |FROM seeded GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the streaming per-window distinct-count registers' batch replay:
    // identical md5 register arithmetic to hll_distinct, per window
    "stream_hll_endstate" ->
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
        |FROM hashed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the streaming per-key windowed TV drift's batch replay: per
    // event_type, same uniform-reference integer numerator as
    // stream_drift_tv
    "stream_kdrift_endstate" ->
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
        |FROM g ORDER BY event_type, window_start""".stripMargin,

    "stream_drift_tv" ->
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
        |FROM g ORDER BY window_start""".stripMargin,

    "ann_trunc_recall" ->
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
        |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin,

    "column_profile" -> Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      .map(c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  ROUND(CAST(MIN($c) AS DOUBLE), 4) AS min_v,
           |  ROUND(CAST(MAX($c) AS DOUBLE), 4) AS max_v
           |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "trace_callers" -> (callCte +
      """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child
        |           FROM item GROUP BY ok),
        |calls AS (
        |  SELECT o.name AS name, '<root>' AS caller,
        |         CAST(999000 - COALESCE(s.child, 0) AS BIGINT) AS exc
        |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
        |  UNION ALL
        |  SELECT i.name, 'order_' || i.prio, CAST(qty * 500 + 90 AS BIGINT)
        |  FROM item i
        |  UNION ALL
        |  SELECT i.ship_name, i.name, CAST(qty * 500 - 100 AS BIGINT)
        |  FROM item i)
        |SELECT name, caller, CAST(COUNT(*) AS BIGINT) AS n_calls,
        |       CAST(SUM(exc) AS BIGINT) AS exc_sum
        |FROM calls GROUP BY 1, 2 ORDER BY name, caller""".stripMargin),

    "minhash_incremental" -> (shinglesCte + lshPairsCte +
      """SELECT a, b FROM prs
        |WHERE a >= 400 OR b >= 400 ORDER BY a, b""".stripMargin),

    "epoch_order" ->
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
        |FROM k ORDER BY pos""".stripMargin,

    "epoch_shards" ->
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
        |FROM k ORDER BY pos""".stripMargin,

    "budgeted_shards" ->
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
         |FROM k ORDER BY pos""".stripMargin,

    "trace_dur_drift" -> (callCte +
      """, durs AS (
        |  SELECT name, CAST(999000 AS BIGINT) AS dur, ok % 2 AS run FROM ord
        |  UNION ALL SELECT name, CAST(qty * 1000 - 10 AS BIGINT), ok % 2
        |  FROM item
        |  UNION ALL SELECT ship_name, CAST(qty * 500 - 100 AS BIGINT), ok % 2
        |  FROM item),
        |b AS (SELECT name, MIN(dur) AS lo, MAX(dur) - MIN(dur) + 1 AS w
        |      FROM durs GROUP BY 1),
        |bn AS (SELECT d.name, ((d.dur - b.lo) * 16) // b.w AS bin, d.run
        |       FROM durs d JOIN b ON d.name = b.name),
        |c AS (SELECT name, bin,
        |             CAST(SUM(CASE WHEN run = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |             CAST(SUM(CASE WHEN run = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM bn GROUP BY 1, 2),
        |t AS (SELECT name, CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY 1)
        |SELECT c.name, t.n1, t.n2,
        |       CAST(SUM(ABS(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS tv_num
        |FROM c JOIN t ON c.name = t.name
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),

    "retrieval_mrr" ->
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
        |FROM j GROUP BY 1, 2 ORDER BY query_id""".stripMargin,

    "q_skew_report" ->
      """WITH v AS (SELECT CAST(COUNT(*) AS BIGINT) AS x
        |           FROM lineitem GROUP BY l_orderkey),
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
        |ORDER BY 1""".stripMargin,

    "dedup_rate_by_source" -> (splitAssignCte +
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
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "ann_probe_sweep" -> (kmeansCte() +
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

    "colloc_pmi" ->
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
        |ORDER BY b.c_xy DESC, b.bigram LIMIT 50""".stripMargin,

    "token_fertility" ->
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
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "quality_calibration" -> (splitAssignCte +
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
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_guarded_match" ->
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
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_targets,
        |       CAST(SUM(CASE WHEN lt IS NOT NULL AND t - lt <= 3600000000
        |                          AND (lb IS NULL OR lb <= lt)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "emb_norms" ->
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
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin
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

  /** Shared oracle CTE: per-(name,process) exclusive-time sums of the call
    * trace. */
  private def excByNameProcSql: String =
    """, osum AS (SELECT ok, CAST(SUM(qty * 1000 - 10) AS BIGINT) AS child FROM item GROUP BY ok),
      |ev AS (
      |  SELECT o.process, o.name, 999000 - COALESCE(s.child, 0) AS exc
      |  FROM ord o LEFT JOIN osum s ON o.ok = s.ok
      |  UNION ALL SELECT process, name, qty * 500 + 90 FROM item
      |  UNION ALL SELECT process, ship_name, qty * 500 - 100 FROM item),
      |pp AS (
      |  SELECT name, process, CAST(SUM(exc) AS BIGINT) AS sum_exc
      |  FROM ev GROUP BY 1, 2)
      |""".stripMargin

  /** Oracle for A8 on the call trace: 50 equal bins over the full extent,
    * interval-overlap inclusive time, direct-child subtraction per bin,
    * idle remainder, <0.01 threshold — mirroring pipit/trace.py:633-764. */
  private def timeProfileSql: String =
    """, ev AS (
      |  SELECT t0 AS id, CAST(NULL AS BIGINT) AS parent, name,
      |         CAST(t0 AS DOUBLE) AS d0, CAST(t1 AS DOUBLE) AS d1 FROM ord
      |  UNION ALL SELECT t0, ok * 1000000, name, CAST(t0 AS DOUBLE), CAST(t1 AS DOUBLE) FROM item
      |  UNION ALL SELECT s0, t0, ship_name, CAST(s0 AS DOUBLE), CAST(s1 AS DOUBLE) FROM item),
      |ext AS (
      |  SELECT CAST(MIN(t0) AS DOUBLE) AS lo, CAST(MAX(t1) AS DOUBLE) AS hi,
      |         CAST(COUNT(DISTINCT process) AS DOUBLE) AS nproc FROM ord),
      |binned AS (
      |  SELECT e.id, e.parent, e.name, g.i AS bin,
      |         LEAST(e.d1, lo + (g.i + 1) * (hi - lo) / 50)
      |           - GREATEST(e.d0, lo + g.i * (hi - lo) / 50) AS inc
      |  FROM ev e, ext, generate_series(0, 49) g(i)
      |  WHERE e.d1 > lo + g.i * (hi - lo) / 50
      |    AND e.d0 < lo + (g.i + 1) * (hi - lo) / 50),
      |csum AS (
      |  SELECT parent, bin, SUM(inc) AS s FROM binned
      |  WHERE parent IS NOT NULL GROUP BY 1, 2),
      |exc AS (
      |  SELECT b.bin, b.name, b.inc - COALESCE(c.s, 0) AS e
      |  FROM binned b LEFT JOIN csum c ON b.id = c.parent AND b.bin = c.bin),
      |perbin AS (SELECT bin, name, SUM(e) AS t FROM exc GROUP BY 1, 2),
      |busy AS (SELECT bin, SUM(t) AS bt FROM perbin GROUP BY 1),
      |idle AS (
      |  SELECT g.i AS bin, 'idle_time' AS name,
      |         (hi - lo) / 50 * nproc - COALESCE(b.bt, 0) AS t
      |  FROM generate_series(0, 49) g(i) CROSS JOIN ext
      |  LEFT JOIN busy b ON g.i = b.bin)
      |SELECT bin, name, ROUND(CASE WHEN t < 0.01 THEN 0 ELSE t END, 2) AS time
      |FROM (SELECT * FROM perbin UNION ALL SELECT * FROM idle)
      |ORDER BY bin, name""".stripMargin

  /** Oracle CTE replicating [[graft.scale.Similarity.kmeansFit]]: the
    * deterministic Lloyd iterations unroll as CTE stages (assignment by
    * euclidean distance with ties to the lowest cluster, per-dimension
    * means, empty clusters keep their centroid); `assign` is the final
    * nearest-centroid assignment. */
  /** Shared Naive-Bayes oracle CTE chain (train on the %5≠0 split,
    * score the %5=0 holdout, argmax in `ag`; `tt` holds per-doc token
    * totals) — mirrors `TextOps.naiveBayesModel/Classify`'s sparse
    * integer-micro decomposition. Appended tails select from ag/tt. */
  private val NbCteSql: String =
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

  /** Shared oracle tail: within-cluster cosine near-dup pairs →
    * recursive components → (vec_id, cluster, is_dup, retained);
    * appended after a kmeans CTE chain ending in `assign`. */
  private val SemDedupTailSql: String =
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

  /** Shared oracle tail: within-cluster top-3 cosine neighbors per
    * vector; appended after a kmeans CTE chain ending in `assign`. */
  private val KnnGraphTailSql: String =
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

  /** [[kmeansCte]] with the cluster count and fit sample CHOSEN BY THE
    * DATA, mirroring `Similarity.autoClusters` + `kmeansFitSampled`:
    * `kk` computes k = max(2, ⌈n/target⌉) and the sample modulus
    * m = max(1, n ∕∕ (k·factor)); the Lloyd iterations run over the
    * md5-hash-sampled `es`, the final `assign` over the full corpus. */
  /** Full-corpus CDC dedup oracle (chunks, per-hash distinct-doc
    * counts, per-doc share stats) — shared by cdc_dedup and the
    * day-2 cdc_dedup_incr (full SQL + batch filter). */
  private val CdcDedupSql: String =
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

  private def kmeansCteAuto(target: Int = 64, factor: Int = 20,
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

  private def kmeansCte(k: Int = 8, iters: Int = 5, dim: Int = 64): String = {
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

  /** Shared oracle expression: [[graft.scale.TextOps.qualityScore]] as a
    * single-line DuckDB expression over a `text` column (single line so it
    * embeds inside stripMargin templates). */
  private def qualitySql: String =
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

  private def lshPairsCte: String =
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
  private def splitAssignCte: String =
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
  private def lshLosersCte: String = lshPairsCte +
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

  private def shinglesCte: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, toks,
      |          unnest(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
      |        FROM t))
      |""".stripMargin
}
