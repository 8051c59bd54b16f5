package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Profiles
import graft.demo.TraceGen
import graft.enrich.Metrics
import graft.model.Schemas._
import graft.registry._
import graft.scale.{Bitext, Dedup, Multimodal, Similarity, TextOps}

/** Driver contract: one query per implemented operator (SURVEY.md §2 +
  * scale extensions), each with a DuckDB oracle over the same parquet
  * tables. [[queries]] and [[oracleSql]] are both derived from one list
  * of [[graft.registry.Case]] values, one file per family under
  * `graft/registry`; this object keeps that list's order and the
  * artifact store the queries share.
  */
object SparkEntry {

  /** Flagship: full enrichment spine (match → inc/exc → profile) on the
    * sf0.001 call trace. */
  def entry(spark: SparkSession): DataFrame =
    Profiles.flatProfile(TraceGen.callTrace(spark, "/root/testdata/sf0.001"))

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------ session artifacts

  /** How a memoized artifact holds resources, which decides how it is
    * released: a persisted DataFrame is unpersisted (unless its context
    * is already stopped, when the blocks die with the executors), a
    * scratch directory is deleted recursively, a driver-side value is
    * simply dropped. A scratch directory also records the bytes its
    * build wrote — the bench emits these next to the build seconds so
    * real IO variance on the scratch mount (observed: otf2_export
    * 4.6 → 16.7 s between runs with no code change) is distinguishable
    * from plan changes. */
  private sealed trait Hold
  private case object DriverValue extends Hold
  private final case class Persisted(df: DataFrame) extends Hold
  private final case class ScratchDir(path: String, bytes: Long) extends Hold

  /** One memoized artifact: its value, the SELF seconds its build took,
    * and how it holds resources. */
  private final case class Artifact(value: Any, seconds: Double, hold: Hold)

  /** The artifact store: every shared build of the registry (enriched
    * trace, persisted intermediate tables, driver-side fits, on-disk
    * exports and indexes), keyed (session, sfDir, key). A key names one
    * artifact of one type; it is also the artifact's name in
    * [[artifactBreakdown]] (the bench's `setup_breakdown`). Build once
    * per key, share across every query that reads it — the Spark
    * equivalent of the reference's in-place column memoization
    * (pipit/trace.py:111,202): "enrich once, analyze many times", "train
    * the index once, query it many times". Eviction ([[clearCaches]],
    * application end) and the test hooks all read this one map. */
  private val store =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), Artifact]()

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

  /** The memo every artifact goes through: on the first call for
    * (s, dir, key) run `build` — timed as self time, with the session's
    * application-end cleanup and the JVM shutdown hook installed — and
    * store its value and hold; later calls return the stored value. A
    * build that throws stores nothing. */
  private def memo[A](s: SparkSession, dir: String, key: String)
                     (build: => (A, Hold)): A =
    store.getOrElseUpdate((s, dir, key), {
      registerCleanup(s)
      shutdownHook
      nestedChildTime.set(0.0 :: nestedChildTime.get)
      val t0 = System.nanoTime()
      try {
        val (value, hold) = build
        Artifact(value, (System.nanoTime() - t0) / 1e9 - nestedChildTime.get.head,
          hold)
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
    }).value.asInstanceOf[A]

  /** A driver-side artifact (a model fit, or a tuple of lazy DataFrames
    * that share one internal build): nothing to release. */
  private def driverValue[A](s: SparkSession, dir: String, key: String)
                            (build: => A): A =
    memo(s, dir, key)((build, DriverValue))

  /** A persisted intermediate DataFrame: results consumed by several
    * queries are computed once, persisted and materialized — the batch
    * analogue of materializing a shared pipeline stage. */
  private[graft] def cachedDf(s: SparkSession, dir: String, key: String)
                             (build: => DataFrame): DataFrame =
    memo(s, dir, key) {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize; later queries read the cache only
      (df, Persisted(df))
    }

  /** An on-disk artifact: `write` fills a fresh scratch directory and
    * returns the value queries use. The path is disambiguated by
    * (key, full-dir md5, process, session): hashCode collisions or a
    * concurrent JVM/session on the same dir must never share (and
    * overwrite) one directory mid-read. */
  private def onDisk[A](s: SparkSession, dir: String, key: String)
                       (write: String => A): A =
    memo(s, dir, key) {
      val dirTag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val path = s"$scratchRoot/graft_${key}_${dirTag}_" +
        s"${ProcessHandle.current.pid}_${System.identityHashCode(s)}"
      val value = write(path)
      (value, ScratchDir(path, dirBytes(new java.io.File(path))))
    }

  /** Root for session-scoped artifact directories: prefer the tmpfs
    * mount when present so repeated bench sweeps measure the format and
    * the plan (partition pruning is a directory-structure property,
    * identical on tmpfs), not disk contention from co-resident IO. */
  private lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir", "/tmp")
  }
  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def release(hold: Hold): Unit = hold match {
    case Persisted(df) => if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
    case ScratchDir(path, _) => deleteRecursively(new java.io.File(path))
    case DriverValue => ()
  }
  private def evict(owned: SparkSession => Boolean): Unit =
    for (k <- store.keys if owned(k._1); a <- store.remove(k)) release(a.hold)
  private def held(s: SparkSession): Seq[(String, Artifact)] =
    store.iterator.collect { case ((ss, _, k), a) if ss == s => (k, a) }.toSeq

  /** Drop every memoized artifact held for `s` and release it: persisted
    * DataFrames are unpersisted (executor storage freed), scratch
    * directories deleted, fits and their build times dropped. Call when
    * a session is done with a dataset (or stopping) in a long-lived
    * driver — without eviction the process-global store would pin
    * storage memory and scratch space for sessions/datasets that are
    * never queried again. The same release runs for every artifact of a
    * SparkContext at application end; a JVM shutdown hook deletes what
    * scratch directories remain in processes that never stop Spark. */
  def clearCaches(s: SparkSession): Unit = evict(_ == s)

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
            evict(_.sparkContext eq sc)
            cleanupHooked.remove(sc) // don't pin the dead SparkContext
          }
        })
      true
    })
  }
  // backstop for processes that never call spark.stop() (test harnesses):
  // the scratch directories still held are removed when the JVM exits;
  // executor storage goes with the JVM, so nothing is unpersisted here
  private lazy val shutdownHook: Unit =
    sys.addShutdownHook {
      store.values.map(_.hold).foreach {
        case d: ScratchDir => release(d)
        case _ => ()
      }
    }: Unit

  /** Per-artifact build seconds recorded so far for `s`. */
  private[graft] def artifactBreakdown(s: SparkSession): Map[String, Double] =
    held(s).groupMapReduce(_._1)(_._2.seconds)(_ + _)

  /** Bytes written by the on-disk artifact builds held for `s`. */
  private[graft] def artifactIoBytes(s: SparkSession): Map[String, Long] =
    held(s).collect { case (k, Artifact(_, _, ScratchDir(_, b))) => (k, b) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Test hook: number of memoized artifacts currently held for `s`. */
  private[graft] def cachedEntryCount(s: SparkSession): Int = held(s).size

  /** Test hook: on-disk scratch directories currently held for `s` —
    * EntrySmokeSpec proves clearCaches removes them. */
  private[graft] def scratchLivePaths(s: SparkSession): Seq[String] =
    held(s).collect { case (_, Artifact(_, _, ScratchDir(p, _))) => p }

  // ---------------------------------------------------- the shared builds

  /** Fully-enriched call trace (match + depth + inc + exc): every trace
    * query below consumes the same persisted DataFrame instead of
    * re-running the matcher. The matcher emits matching/depth/parent AND
    * time_inc/time_exc in its single pass, so full enrichment is one
    * shuffle + one mapPartitions. */
  private[graft] def callEnriched(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "enriched_events")(
      Metrics.calcExcMetrics(TraceGen.callTrace(s, dir), Seq(TimestampNs)))

  /** Deterministic quantizers per (session, sfDir): nine ANN / dedup /
    * graph queries fit the SAME default k-means (and PQ codebooks) on
    * the same embeddings table — fit once, share everywhere (which is
    * how an IVF deployment actually runs). */
  private[graft] def embCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    driverValue(s, dir, "kmeans_fit")(Similarity.kmeansFit(T(s, dir, "embeddings")))
  /** The AUTO-policy quantizer (k = ceil(n/64), Lloyd on the md5-hash
    * sample) shared by the kNN-graph consumers (semdedup,
    * graph_pagerank, knn_graph_nnd, knn_graph_auto — auto-k is the
    * DEFAULT since the sf1 sweep measured fixed-k at 15–36x sf0.1→sf1 vs
    * 3.2x for k∝n); the oracle recomputes k and the sample modulus from
    * the data, so memoization changes timing only. */
  private[graft] def embAutoCentroids(s: SparkSession, dir: String): (Int, Array[Array[Double]]) =
    driverValue(s, dir, "kmeans_auto_fit") {
      val emb = T(s, dir, "embeddings")
      val n = emb.count()
      val k = Similarity.autoClusters(n, 64)
      (k, Similarity.kmeansFitSampled(emb, k, n))
    }
  private[graft] def embSq8(s: SparkSession, dir: String): (Array[Double], Array[Double]) =
    driverValue(s, dir, "sq8_fit")(Similarity.sq8Fit(T(s, dir, "embeddings")))
  private[graft] def embCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    driverValue(s, dir, "pq_fit")(Similarity.pqFit(T(s, dir, "embeddings")))
  private[graft] def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    driverValue(s, dir, "bpe_merges")(
      graft.scale.Bpe.learnMerges(T(s, dir, "documents")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq)

  /** Memoized MinHash signature table — five queries (minhash_sig,
    * lsh_tuning, minhash_pairs, minhash_estimate, dup_cross_source) and
    * the LSH component build all start from the identical signatures;
    * the shingle→md5→min pipeline is the dominant cost, so build once. */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def lshComponents(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "lsh_components")(
      Dedup.connectedComponents(lshPairsAll(s, dir)))
  /** Day-1 component labels of the HISTORICAL corpus (doc_id % 10 != 0)
    * — the persisted labeling the day-2 incremental component merge
    * starts from, memoized like the other day-2 index artifacts; its
    * edge set is the shared [[lshPairsAll]] restricted to history. */
  private[graft] def lshComponentsHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "lsh_components_hist")(
      Dedup.connectedComponents(lshPairsAll(s, dir)
        .filter(col("a") % 10 =!= 0 && col("b") % 10 =!= 0)))
  /** Shared shingle-pair statistics (r11): the inverted-index pair join
    * with per-pair (inter, sza, szb) that both `ngram_jaccard` and
    * `dedup_containment` threshold differently — one expensive build,
    * two cheap consumers. */
  private[graft] def shinglePairStats(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "shingle_pair_stats")(
      Dedup.shinglePairStats(T(s, dir, "documents"), 3, "text", "doc_id",
        maxShingleDf = 1000))

  /** Shared basket-analysis intermediates (r11): the distinct
    * (basket, item) table and the frequent-pair support table are the
    * expensive aggregations both `q_basket_rules` and `basket_itemsets`
    * start from — compute once per (session, sf), share (the
    * minhash_sigs / bm25_scores convention). */
  private[graft] def basketBi(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "basket_bi")(
      graft.analysis.Basket.basketItems(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey"))
  private[graft] def basketPairSup(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "basket_pair_sup")(
      graft.analysis.Basket.pairSupports(basketBi(s, dir), minSupport = 2L))

  private[graft] def bitextScored(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bitext_scored")(
      Bitext.scoredPairs(T(s, dir, "embeddings"), T(s, dir, "documents"),
        "en", "de"))
  /** One shared (uni, bi) model build — the two sides come from the
    * same training scan; memoizing the TUPLE (lazily, unpersisted)
    * keeps the token pipeline single-built while cachedDf persists and
    * times each consumed side. */
  private def bigramModelShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    driverValue(s, dir, "bigram_model")(TextOps.bigramModel(
      T(s, dir, "documents").filter(col("doc_id") % 5 === 0)))
  private[graft] def bigramUni(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bigram_uni")(bigramModelShared(s, dir)._1)
  private[graft] def bigramBi(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bigram_bi")(bigramModelShared(s, dir)._2)
  private[graft] def winnowFp(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "winnow_fp")(
      TextOps.winnowFingerprint(T(s, dir, "documents")))
  private[graft] def simhashTab(s: SparkSession, dir: String): DataFrame =
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
  private def jpIndexShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    driverValue(s, dir, "jp_index")(Dedup.jaccardPrefixIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0), 3, 1, 5))
  private[graft] def jpIndexDf(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "jp_index_df")(jpIndexShared(s, dir)._1)
  private[graft] def shingleIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "shingle_index_hist")(Dedup.shingleIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)))
  private[graft] def winnowIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "winnow_index_hist")(
      winnowFp(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("fingerprint")).distinct())
  private[graft] def cdcIndexHist(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "cdc_index_hist")(TextOps.cdcIndex(
      T(s, dir, "documents").filter(col("doc_id") % 10 =!= 0)))
  private[graft] def jpIndexDocs(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "jp_index_docs")(jpIndexShared(s, dir)._2)
  /** Planted perceptual hashes of the image_neardup fixture (payload
    * synthesis + real PGM decode), shared by the batch and day-2 image
    * near-dup queries. */
  private[graft] def neardupHashes(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def audioDiffHashes(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def videoTokenDocs(s: SparkSession, dir: String): DataFrame =
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
  private[graft] def bitextIndexDf(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bitext_index_df")(Bitext.indexTable(
      T(s, dir, "embeddings"),
      T(s, dir, "documents")
        .filter(col("lang") =!= "en" || col("doc_id") % 10 =!= 0),
      "en", "de"))
  private[graft] def langidPred(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "langid_pred")({
      val docs = T(s, dir, "documents")
      TextOps.languageId(docs,
        TextOps.learnLanguageProfiles(docs.filter(col("doc_id") % 5 === 0)))
    })
  /** On-disk IVF index per (session, sfDir): written once to scratch,
    * then every ann_ivf_disk run searches it with partition pruning —
    * "build the index once, serve queries from it", the deployment shape
    * [[Similarity.writeIvfIndex]] documents. */
  private[graft] def ivfIndexPath(s: SparkSession, dir: String): String =
    onDisk(s, dir, "ivf_disk_index") { path =>
      Similarity.writeIvfIndex(T(s, dir, "embeddings"), path, embCentroids(s, dir))
      path
    }

  /** PERSISTED day-2 indexes per (session, sfDir, key): the family
    * handle is built once, `save`d to scratch, and reloaded through
    * [[graft.scale.IndexStore.load]] — so every `*_incr` oracle row
    * exercises the exact enforced-contract path a day-2 user calls
    * (build → save → load → probe, parameters riding the store's
    * `_meta`), not the raw incremental functions the store wraps. The
    * probe output is identical either way (load hands back the same
    * tables through a parquet round trip), so the oracle hashes pin the
    * user-facing API. */
  private[graft] def storedIndex(s: SparkSession, dir: String, key: String)
      (build: => graft.scale.IndexStore.DedupIndex)
      : graft.scale.IndexStore.DedupIndex =
    onDisk(s, dir, key) { path =>
      build.save(path)
      graft.scale.IndexStore.load(s, path)
    }
  /** Day-3 index per (session, sfDir, key): day-1 state is built and
    * `save`d, then the day-2 batch is absorbed through
    * [[graft.scale.IndexStore.append]] — load(v1) → append → save(v2) →
    * load(v2), the operational day-N maintenance contract — and the
    * `*_day3` queries probe the RELOADED v2 handle. Their oracles are
    * their `*_incr` siblings' SQL verbatim: the probe after append must
    * be pair-set-identical to the probe against a from-scratch build of
    * day-1 ∪ day-2, which is exactly what the sibling row runs. */
  private[graft] def storedAppendedIndex(s: SparkSession, dir: String, key: String)
      (buildDay1: => graft.scale.IndexStore.DedupIndex)
      (day2: => DataFrame): graft.scale.IndexStore.DedupIndex =
    onDisk(s, dir, key) { path =>
      buildDay1.save(s"$path/v1")
      graft.scale.IndexStore.append(s, s"$path/v1", day2, s"$path/v2")
    }

  /** Gzip Chrome-JSONL export of the call trace, written once per
    * (session, sf) — the stored interchange artifact the round-trip
    * query re-ingests. Gzip cuts the dominant cost of the text format
    * (bytes parsed) ~10x; the READ side is what a consumer pays
    * repeatedly, so the round-trip query reads this artifact instead of
    * re-serializing the whole trace in-plan every run. */
  private[graft] def chromeExportPath(s: SparkSession, dir: String): String =
    onDisk(s, dir, "chrome_export") { path =>
      graft.ingest.ChromeWriter.write(callEnriched(s, dir), path,
        codec = Some("gzip"))
      path
    }

  /** On-disk OTF2 export per (session, sfDir): the call trace written
    * once as a real OTF2 archive ([[graft.ingest.Otf2Writer]]), which
    * `trace_otf2_roundtrip` then re-ingests through the binary reader —
    * the full write→bytes→read interchange loop under the oracle gate. */
  private[graft] def otf2ExportPath(s: SparkSession, dir: String): String =
    onDisk(s, dir, "otf2_export") { path =>
      graft.ingest.Otf2Writer.save(TraceGen.callTrace(s, dir), path)
      path
    }

  /** Shared BM25 score table for the first-5-docs query suite: bm25_topk
    * and hybrid_topk rank the SAME scores at different k — score once,
    * rank many (the index-reuse shape of a deployed retrieval stack). */
  private[graft] def bm25Scores5(s: SparkSession, dir: String): DataFrame =
    cachedDf(s, dir, "bm25_scores_q5")({
      val docs = T(s, dir, "documents")
      TextOps.bm25Scores(docs, docs.filter(col("doc_id") < 5))
    })

  // --------------------------------------------------------------- registry

  /** The registry's families, in the order of the operator index
    * (docs/OPERATORS.md, generated from their files by
    * tools/gen_operators_md.py). */
  private[graft] lazy val families: Seq[Family] = Seq(
    RelationalCases, TraceIngestCases, TraceCases, CommCases, DedupCases,
    SimilarityCases, TextCases, MultimodalCases, GraphCases,
    EventStreamCases, DataQualityCases)

  /** Every registry query with its oracle, family by family. */
  private[graft] lazy val cases: Seq[Case] = Case.concat(families)

  /** Query name → its plan over an sf directory. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.iterator.map(c => c.name -> c.run).toMap

  /** Query name → the DuckDB SQL that recomputes its answer. */
  lazy val oracleSql: Map[String, String] =
    cases.iterator.map(c => c.name -> c.oracle).toMap
}
