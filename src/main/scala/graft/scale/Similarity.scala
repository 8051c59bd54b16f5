package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * - brute-force cosine top-k: exact baseline. The query side is small →
  *   broadcast; the corpus side streams — one scan, no shuffle of the
  *   corpus. Dot products are codegen'd `aggregate`/`zip_with` expressions
  *   (no UDF; stays inside whole-stage codegen).
  * - bucketed (IVF-style) variant: restrict the search to a coarse
  *   partition (a cluster/bucket id column — any coarse quantizer works);
  *   at 100 TB this turns a full-corpus scan into a partition-pruned one
  *   when the bucket column is also the storage partition key.
  * - cosine near-dup pairs: all pairs above a threshold within buckets
  *   (never unrestricted all-pairs).
  */
object Similarity {

  /** Size gate for fanning out the corpus side of the brute-force
    * scans: a dot product per (row, query) is cheap relative to moving
    * the row, so below one scan-split's worth of corpus (~64 MB, half
    * the default `spark.sql.files.maxPartitionBytes`) the round-robin
    * exchange is pure tax — r11's driver sweep measured the
    * unconditional fan-out at 0.60×/0.73× on ann_topk/ann_ivf over the
    * 0.8 MB sf0.1 corpus. Any corpus past this gate arrives multi-split
    * on a production layout, so the partition-count gate already makes
    * fanOut a no-op there; this constant only suppresses the
    * small-corpus tax. */
  private[scale] val BruteForceFanOutMinBytes: Long = 64L << 20

  /** Embedding dimension of `vecCol`: the explicit `dim` if given, else
    * the size of the first non-null vector, else 0 (empty or all-null
    * input — callers return an empty result instead of crashing). */
  private[scale] def inferDim(vectors: DataFrame, vecCol: String,
                              dim: Int): Int =
    if (dim > 0) dim
    else vectors.select(size(col(vecCol)).as("d")).filter(col("d").isNotNull)
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Cosine similarity between two array<float|double> columns, computed in
    * double precision by the codegen'd [[graft.functions.VecCosine]]
    * expression (the `aggregate(zip_with(...))` composition of built-ins is
    * CodegenFallback — interpreted lambdas per element — and ~100× slower). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VecMath.cosine(a, b)

  /** Exact top-k neighbors for each query vector (brute force).
    * `queries` is expected to be small (it is broadcast). Ties broken by
    * ascending corpus id for determinism. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // fanOut: the corpus side of the broadcast nested loop carries all
    // the dot-product CPU; a single-split scan serializes it (r11)
    val c = graft.util.ScanParallelism.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")),
      minBytes = BruteForceFanOutMinBytes)
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Brute-force top-k at AUDIT scale: the same exact scan as
    * [[bruteForceTopK]], but scored in micro-integer cosine (the
    * engine-exact convention — ties break identically in any engine)
    * and reduced by the map-side-bounded [[graft.functions.TopKLongs]]
    * heap aggregate instead of a window: the exchange carries k rows
    * per (query, partition), never the |queries|·|corpus| pair table
    * through a partition sort. That difference is what lets a
    * 20%-of-corpus recall audit (the [[knnGraph]] ground truth) run at
    * 10× data without the window's quadratic shuffle — measured 205 s →
    * seconds at the sf1 tiling. Ties: (score DESC, neighbor id ASC),
    * via the heap's lexicographic (ord, payload) max with payload =
    * −id. Returns (query_id, neighbor_id, s_micro), top-k per query. */
  def bruteForceTopKMicro(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          fanOutMinBytes: Long = BruteForceFanOutMinBytes)
      : DataFrame = {
    import graft.functions.VecMath.{dotMicro, norm2Micro}
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm2Micro(col(vecCol)).as("na2"))
    val c = graft.util.ScanParallelism.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        norm2Micro(col(vecCol)).as("nb2")),
      minBytes = fanOutMinBytes)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        when(col("na2") === 0L || col("nb2") === 0L, lit(0L))
          .otherwise(floor(
            dotMicro(col("qvec"), col("cvec")).cast(DoubleType) * lit(1000000d) /
              sqrt(col("na2").cast(DoubleType) * col("nb2").cast(DoubleType))))
          .as("s"),
        col("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKLongs.topK(k, col("s"), -col("neighbor_id"))
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.payload")).as("neighbor_id"),
        col("t.ord").as("s_micro"))
  }

  /** Maximum-inner-product top-k (MIPS) — recommendation/retrieval
    * ranking where vectors are NOT length-normalized and cosine is the
    * wrong objective. Same broadcast-scan shape as [[bruteForceTopK]]
    * with the codegen'd dot product as the score. (The classic
    * norm-augmentation reduction — append √(M²−‖x‖²) so MIPS becomes
    * cosine over d+1 dims — is what feeds an ANN index; the exact scan
    * here IS that objective without the transform, and serves as the
    * recall oracle for an augmented index.) */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
               idCol: String = "vec_id", vecCol: String = "embedding",
               excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VecMath
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = graft.util.ScanParallelism.fanOut(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")),
      minBytes = BruteForceFanOutMinBytes)
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("ip", VecMath.dot(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("ip"), 4).as("ip"))
  }

  /** Binary-quantized top-k: pack sign bits once per vector
    * ([[graft.functions.VecSignPack]], 32× compression) and rank by
    * Hamming distance — XOR + popcount per candidate, the cheapest
    * first-pass scan for a huge corpus (binary quantization as in
    * modern vector stores). Distances are integers, so the ranking is
    * bit-identical in any engine — no FP rounding conventions needed.
    * Ties broken by ascending corpus id. At scale the packed corpus is
    * 1/32 the read volume of the float embeddings, and the scan stays
    * one codegen'd projection + broadcast join, never a corpus shuffle. */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VecBits
    val q = queries.select(col(idCol).as("query_id"),
      VecBits.signPack(col(vecCol)).as("qbits"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      VecBits.signPack(col(vecCol)).as("cbits"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("hamming", VecBits.hamming(col("qbits"), col("cbits")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
  }

  /** Two-stage retrieval: Hamming first pass over the packed bits keeps
    * `candidates` per query (cheap, integer-exact), then only those are
    * re-scored with exact cosine — the standard coarse-then-rerank
    * pipeline. Rerank sorts on the ROUNDED similarity with id tie-break
    * so the final order is engine-stable. Cost at scale: one packed-scan
    * + k·|queries| exact dot products, instead of |corpus|·|queries|. */
  def hammingRerank(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    candidates: Int = 20, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val cand = hammingTopK(corpus, queries, candidates, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    // the candidate list is (queries × candidates)-sized: broadcast it
    // (with the query vectors attached) against the corpus, so the
    // rerank is one more corpus-side broadcast-hash probe — the corpus
    // is never shuffled
    val scored = broadcast(cand.join(broadcast(qv), Seq("query_id")))
      .join(cv, Seq("neighbor_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IVF-style bucketed top-k: same as [[bruteForceTopK]] but only corpus
    * vectors in the same coarse bucket as the query are scored. */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                   bucketCol: String = "label", idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      col(bucketCol).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col(bucketCol).as("bucket"))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** The plane-p, dim-d component of the deterministic random-hyperplane
    * family: uniform in [-1, 1) from the first 15 hex digits of
    * md5("p:d") — the same value any SQL engine computes, so LSH buckets
    * are oracle-replicable. */
  private[scale] def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59) - 1.0
  }

  /** Random-hyperplane LSH bucket ids: `numPlanes` sign bits → bucket in
    * [0, 2^numPlanes). Candidate near-dups share a bucket.
    *
    * The planes are deterministic (md5-derived), so they are materialized
    * ONCE on the driver (numPlanes × dim doubles) and embedded as array
    * literals; each sign bit is one codegen'd [[graft.functions.VecDot]]
    * over the embedding — a single fused scan, no explode, no interpreted
    * `aggregate(zip_with(...))` lambdas (CodegenFallback, ~100× slower). */
  def lshBuckets(vectors: DataFrame, numPlanes: Int = 8,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 dim: Int = -1): DataFrame = {
    val d = inferDim(vectors, vecCol, dim)
    if (d == 0) // empty/all-null input: empty bucketing, not a crash
      return vectors.select(col(idCol), lit(0L).as("bucket")).limit(0)
    val bucket = (0 until numPlanes).map { p =>
      val plane = array((0 until d).map(i => lit(planeComponent(p, i))): _*)
      when(graft.functions.VecMath.dot(col(vecCol), plane) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    vectors.select(col(idCol), bucket.as("bucket"))
  }

  /** Johnson-Lindenstrauss random projection: reduce `vecCol` to
    * `outDim` components, each the dot product with a deterministic
    * md5-derived hyperplane (the same `planeComponent` family as
    * [[lshBuckets]], so the projection is replicable anywhere, SQL
    * included). Components are rounded to 4dp so downstream comparisons
    * are engine-stable.
    *
    * Scale shape: the plane matrix is outDim × dim doubles —
    * driver-tiny, embedded as literals — and the whole reduction is ONE
    * codegen'd projection scan (outDim fused [[graft.functions.VecDot]]
    * loops), no shuffle, no fit: the standard first step for cutting
    * embedding storage/compute before clustering or ANN. */
  def randomProject(vectors: DataFrame, outDim: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    dim: Int = -1): DataFrame = {
    val d = inferDim(vectors, vecCol, dim)
    if (d == 0) // empty/all-null input (or zero-dim vectors): empty projections
      return vectors.select(col(idCol), array().cast("array<double>").as("proj"))
        .limit(0)
    val comps = (0 until outDim).map { p =>
      val plane = array((0 until d).map(i => lit(planeComponent(p, i))): _*)
      round(graft.functions.VecMath.dot(col(vecCol), plane), 4)
    }
    vectors.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer: init =
    * the embeddings of the `k` smallest ids, a FIXED number of Lloyd
    * iterations, squared-L2 assignment with ties to the lowest cluster
    * id, empty clusters keep their previous centroid. Every choice is
    * deterministic so the whole fit is replicable in SQL (the oracle
    * unrolls the iterations as CTE stages).
    *
    * Scale shape: centroids are k×dim doubles — always driver-sized. Each
    * iteration is one codegen'd assignment scan (k fused VecDot loops, no
    * crossJoin) plus one groupBy(cluster) with per-dimension partial-agg
    * means. Cost per iteration ≈ 2 corpus scans regardless of k. */
  def kmeansFit(vectors: DataFrame, k: Int = 8, iterations: Int = 5,
                idCol: String = "vec_id", vecCol: String = "embedding",
                dim: Int = -1): Array[Array[Double]] = {
    val d = inferDim(vectors, vecCol, dim)
    if (d == 0) return Array.empty // empty corpus: empty model, not a crash
    var cents = vectors.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dimAvgs = (0 until d).map(i =>
      avg(element_at(col(vecCol), i + 1).cast("double")).as(s"m$i"))
    for (_ <- 0 until iterations) {
      // cluster id is a projection — computed inline, no join back
      val rows = withCluster(vectors, cents, vecCol)
        .groupBy(col("cluster")).agg(dimAvgs.head, dimAvgs.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      rows.foreach { r =>
        next(r.getInt(0)) = Array.tabulate(d)(i => r.getDouble(i + 1))
      }
      cents = next
    }
    cents
  }

  /** Scale-adaptive cluster count: k = max(2, ⌈n / targetClusterSize⌉).
    * Every cluster-restricted pair join in this module (semDeDup /
    * cosinePairs / knnGraph and the graph family built on them) costs
    * Σ_c |c|² — linear in n only while |c| stays ≈ targetClusterSize,
    * which requires k to GROW with the corpus; a fixed k makes the
    * family quadratic (measured at the 10× tiling: knn_graph 54 s at
    * k=8 vs 8.4 s at k=80, identical output size). This is the dial
    * applied by default in the `*Auto` entry points. */
  def autoClusters(n: Long, targetClusterSize: Long = 512): Int = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    math.max(2L, (n + targetClusterSize - 1) / targetClusterSize).toInt
  }

  /** [[kmeansFit]] on a deterministic hash-sample of ≈ sampleFactor·k
    * vectors. Full-corpus Lloyd at adaptive k costs O(n·k) =
    * O(n²/target) per iteration — quadratic exactly where auto-k made
    * the pair join linear — so the fit must see a bounded sample while
    * assignment stays one full codegen'd scan. The sample keeps every
    * id with md5Hash60(id) ≡ 0 (mod m), m = max(1, n/(k·sampleFactor)):
    * engine-replicable (the oracle applies the same filter), stable
    * across partitionings, and biased toward nothing. */
  def kmeansFitSampled(vectors: DataFrame, k: Int, n: Long,
                       iterations: Int = 5, sampleFactor: Int = 20,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       seed: Int = 0): Array[Array[Double]] = {
    val m = math.max(1L, n / (k.toLong * sampleFactor))
    val sample = if (m <= 1L) vectors
      else vectors.filter(
        TextOps.md5Hash60(col(idCol).cast("string"), seed) % m === 0)
    kmeansFit(sample, k, iterations, idCol, vecCol)
  }

  /** [[semDeDup]] with the scale-safe defaults wired in: cluster count
    * from [[autoClusters]] (pair join stays linear) and centroids from
    * [[kmeansFitSampled]] (fit stays bounded). One count job decides
    * both dials. */
  def semDeDupAuto(vectors: DataFrame, threshold: Double = 0.9,
                   targetClusterSize: Long = 512, iterations: Int = 5,
                   sampleFactor: Int = 20, idCol: String = "vec_id",
                   vecCol: String = "embedding", blocks: Int = 1): DataFrame = {
    val n = vectors.count()
    val k = autoClusters(n, targetClusterSize)
    val cents = kmeansFitSampled(vectors, k, n, iterations, sampleFactor,
      idCol, vecCol)
    semDeDup(vectors, threshold, k, iterations, idCol, vecCol, blocks,
      Some(cents))
  }

  /** [[knnGraph]] under the same auto-k + sampled-fit policy. */
  def knnGraphAuto(vectors: DataFrame, k: Int = 5,
                   targetClusterSize: Long = 512, iterations: Int = 5,
                   sampleFactor: Int = 20, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val n = vectors.count()
    val nc = autoClusters(n, targetClusterSize)
    val cents = kmeansFitSampled(vectors, nc, n, iterations, sampleFactor,
      idCol, vecCol)
    knnGraph(vectors, k, nc, iterations, idCol, vecCol, Some(cents))
  }

  /** One (squared-distance, cluster-id) struct per centroid —
    * argmin_j ||x−c_j||² = argmin_j (||c_j||² − 2·x·c_j) (||x||² is
    * constant per row), ties to the lowest cluster id. The single
    * source of the distance formula and tie-break rule shared by
    * assignment ([[clusterExpr]]) and probing ([[kmeansProbe]]), so the
    * two can never disagree on the nearest centroid. */
  private def centroidStructs(centroids: Array[Array[Double]],
                              vecCol: String): Seq[Column] =
    centroids.zipWithIndex.toIndexedSeq.map { case (c, j) =>
      val dist = lit(c.map(x => x * x).sum) -
        lit(2.0) * graft.functions.VecMath.dot(col(vecCol), array(c.map(lit).toIndexedSeq: _*))
      struct(dist.as("d"), lit(j).as("j"))
    }

  private def clusterExpr(centroids: Array[Array[Double]],
                          vecCol: String): Column =
    // one fused argmin expression with the matrix as a reference object
    // (identical math to least(centroidStructs).j — see VecNearestCluster
    // for why literals-in-plan made every Lloyd iteration recompile)
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.VecNearestCluster(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(vecCol)),
        centroids))

  /** Nearest-centroid assignment (the quantizer's map side): one fused
    * scan — k codegen'd dot products per row (`clusterExpr`). */
  def kmeansAssign(vectors: DataFrame, centroids: Array[Array[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol), clusterExpr(centroids, vecCol).as("cluster"))

  /** The corpus with its cluster id appended IN PLACE — the assignment is
    * a projection, so consumers must never join [[kmeansAssign]]'s output
    * back on the id (that re-shuffles the whole corpus for a column the
    * scan can compute); this is the fused form every cluster-restricted
    * operator uses. */
  def withCluster(vectors: DataFrame, centroids: Array[Array[Double]],
                  vecCol: String = "embedding"): DataFrame =
    vectors.withColumn("cluster", clusterExpr(centroids, vecCol))

  /** Euclidean top-k — the metric twin of [[bruteForceTopK]] for spaces
    * where magnitude matters (raw feature vectors, unnormalized
    * embeddings). Ranks on SQUARED distance (monotone with L2, skips
    * the sqrt) computed as ‖q‖² + ‖c‖² − 2·q·c from three codegen'd
    * [[graft.functions.VecDot]] calls; ranking compares the 4dp-ROUNDED
    * distance with the id tie-break, the repo-standard convention that
    * makes the order reproducible on any engine. Same broadcast-query
    * scan shape as the cosine variant. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding",
             excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VecMath.dot
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .withColumn("dist_sq", round(
        dot(col("qvec"), col("qvec")) + dot(col("cvec"), col("cvec"))
          - lit(2.0) * dot(col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_sq").asc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist_sq"))
  }

  /** Per-cluster embedding drift between two corpus halves — "did this
    * region of embedding space move between snapshots/shards": for each
    * (cluster, dimension), the mean embedding value of the even-id half
    * vs the odd-id half and their difference. The distribution-shift
    * monitor for embedding pipelines (a re-embedded corpus whose
    * cluster means moved is a model/version skew signal).
    *
    * Determinism: per-element values are rounded to 10⁻⁴ units and
    * summed as INTEGERS (order-free — float summation order would
    * otherwise make cluster means engine/partitioning-dependent), and
    * the means are emitted as INTEGER micro-units via integral division
    * (both engines truncate toward zero) — no floating round anywhere,
    * so no half-boundary can diverge (a 6-dp ROUND of the double mean
    * DID diverge between engines on real data). One explode + one
    * (cluster, dim, half) aggregation — map-side combined, output is
    * #clusters × dim rows. Clusters missing either half are absent
    * (inner join — drift needs both sides). */
  def clusterDrift(vectors: DataFrame, centroids: Array[Array[Double]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val g = withCluster(vectors, centroids, vecCol)
      .select(col(idCol), col("cluster"),
        posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("cluster"), col("d"),
        (col(idCol) % 2).cast("int").as("half"))
      .agg(sum(round(col("v").cast("double") * 10000).cast("long")).as("s"),
        count(lit(1)).as("n"))
    def side(h: Int, sfx: String) = g.filter(col("half") === h)
      .select(col("cluster"), col("d"),
        col("s").as("s" + sfx), col("n").as("n" + sfx))
    side(0, "a").join(side(1, "b"), Seq("cluster", "d"))
      .select(col("cluster"), col("d"),
        expr("(sa * 100) div na").as("mean_a_micro"),
        expr("(sb * 100) div nb").as("mean_b_micro"),
        (expr("(sa * 100) div na") - expr("(sb * 100) div nb"))
          .as("shift_micro"))
  }

  /** Per-cluster embedding OUTLIERS — the data-cleaning complement of
    * [[clusterDrift]]: the `topN` vectors FARTHEST from their assigned
    * centroid, per cluster. Far-from-every-centroid points are the
    * mislabeled/garbage/OOD candidates an embedding-based curation pass
    * reviews first. Distance is the [[l2TopK]] convention — squared L2
    * from three codegen'd dots, 4dp-rounded, id tie-break — so the
    * ranking is reproducible across engines. One fused assignment scan
    * + a k-row broadcast join + one per-cluster window; no corpus
    * self-join anywhere. */
  def clusterOutliers(vectors: DataFrame, centroids: Array[Array[Double]],
                      topN: Int = 3, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VecMath.dot
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cluster", "cvec")
      .select(col("cluster"), col("cvec").cast("array<double>").as("cvec"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist_sq").desc, col(idCol))
    withCluster(vectors, centroids, vecCol)
      .join(broadcast(cents), Seq("cluster"))
      .withColumn("dist_sq", round(
        dot(col(vecCol), col(vecCol)) + dot(col("cvec"), col("cvec"))
          - lit(2.0) * dot(col(vecCol), col("cvec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("cluster"), col("rank"), col(idCol), col("dist_sq"))
  }

  /** Top-`nprobe` nearest centroids per vector (the IVF probe list):
    * same fused scan as [[kmeansAssign]], but the (distance, cluster)
    * structs are sorted and the first `nprobe` exploded — `nprobe` rows
    * per vector. */
  def kmeansProbe(vectors: DataFrame, centroids: Array[Array[Double]],
                  nprobe: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
        explode(slice(sort_array(array(centroidStructs(centroids, vecCol): _*)),
          1, nprobe)).as("pc"))
      .select(col(idCol), col("pc.j").as("cluster"))

  /** IVF top-k with a LEARNED coarse quantizer: fit k-means, bucket the
    * corpus by nearest centroid, probe the `nprobe` nearest centroids
    * per query, and search only probed-bucket candidates. Recall rises
    * with `nprobe` at proportional scan cost — the standard IVF dial;
    * each corpus vector lives in exactly one list, so no dedup is
    * needed across probes. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              nClusters: Int = 8, iterations: Int = 5, nprobe: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      kmeansFit(corpus, nClusters, iterations, idCol, vecCol))
    val c = withCluster(corpus, cents, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cluster"))
    val q = queries.join(kmeansProbe(queries, cents, nprobe, idCol, vecCol), idCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), col("cluster"))
    val joined = c.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Materialize an IVF index ON DISK: the corpus written Hive-partitioned
    * by its coarse-cluster id (one directory per inverted list). This is
    * the 100 TB shape of IVF — the probe step then becomes Spark
    * partition PRUNING, so a query batch's disk I/O is the probed lists
    * only, never the corpus ([[searchIvfIndex]] asserts this in its
    * plan). Row-group locality within a list comes free from the write. */
  def writeIvfIndex(corpus: DataFrame, path: String,
                    centroids: Array[Array[Double]],
                    vecCol: String = "embedding"): Unit =
    withCluster(corpus, centroids, vecCol)
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Append a NEW batch to an existing [[writeIvfIndex]] layout — index
    * MAINTENANCE without a rebuild: the batch is assigned by the SAME
    * frozen quantizer and its rows land in the matching list directories
    * (dynamic-partition append), so day-2 ingest cost is the batch, not
    * the corpus, and [[searchIvfIndex]] sees old + new rows through the
    * identical partition-pruned scan. Lists drift from optimal as the
    * data distribution moves — re-fit and rewrite when the recall
    * audits (`ann_recall` / `ann_probe_sweep`) degrade; that cadence,
    * not per-batch rebuilds, is what makes disk IVF viable at 100 TB. */
  def appendIvfIndex(batch: DataFrame, path: String,
                     centroids: Array[Array[Double]],
                     vecCol: String = "embedding"): Unit =
    withCluster(batch, centroids, vecCol)
      .write.mode("append").partitionBy("cluster").parquet(path)

  /** Search a [[writeIvfIndex]] layout: compute each query's `nprobe`
    * nearest lists, PRUNE the index scan to exactly those partitions
    * (the probe set is ≤ nClusters ints — driver-tiny), and score only
    * list members. Results are identical to the in-memory
    * [[ivfTopK]] with the same centroids/nprobe; the difference is the
    * I/O bound: cold queries against a corpus that never fit in memory. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, centroids: Array[Array[Double]],
                     k: Int = 5, nprobe: Int = 1, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val probes = kmeansProbe(queries, centroids, nprobe, idCol, vecCol)
    val probed = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(path)
      .filter(col("cluster").isin(probed.map(x => x: Any): _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cluster"))
    val q = queries.join(probes.withColumnRenamed("cluster", "pcluster"), idCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        col("pcluster").as("cluster"))
    val joined = lists.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Product quantization (PQ) codebooks — the memory-compression layer
    * of billion-scale ANN (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split each D-dim vector into `m`
    * contiguous D/m-dim subvectors and fit an independent k-centroid
    * codebook per subspace with the same deterministic Lloyd's as
    * [[kmeansFit]] (so the whole fit is oracle-replicable). A corpus
    * vector then stores m small codes (m bytes at k ≤ 256) instead of D
    * floats — 64× compression at D=64, m=4, k=8. */
  def pqFit(vectors: DataFrame, m: Int = 4, k: Int = 8, iterations: Int = 3,
            idCol: String = "vec_id", vecCol: String = "embedding",
            dim: Int = -1): Array[Array[Array[Double]]] = {
    val d = inferDim(vectors, vecCol, dim)
    if (d == 0) return Array.empty // empty corpus: empty model, not a crash
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    // the m subspace fits are independent — submit them as concurrent
    // Spark jobs (the scheduler interleaves their stages), so the fit's
    // wall-clock is one subspace's job latency, not m of them; results
    // are deterministic regardless of completion order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = (0 until m).map { s => Future {
      kmeansFit(vectors.select(col(idCol),
          slice(col(vecCol), s * sub + 1, sub).as(vecCol)),
        k, iterations, idCol, vecCol, sub)
    }}
    fits.map(Await.result(_, Duration.Inf)).toArray
  }

  /** PQ encoding: per subspace, the id of the nearest codebook centroid
    * (squared-L2 argmin, ties to the lowest id — [[kmeansAssign]]'s rule).
    * One fused codegen'd scan, m·k dot products per row, no shuffle.
    * `keep` names extra input columns carried through the projection
    * (e.g. a coarse cluster id), so composing stages never join back. */
  def pqEncode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding",
               keep: Seq[String] = Nil): DataFrame = {
    val sub = codebooks(0)(0).length
    // one fused argmin per subspace (r11): the former least(256 structs)
    // composition planned ~2k expression nodes per row; VecNearestCluster
    // is the identical math (same Σc² fold order, same left-to-right
    // dot, ties → lowest code) as one codegen'd loop with the codebook
    // as a reference object — the clusterExpr/kmeansAssign convention.
    val codeCols = codebooks.zipWithIndex.map { case (cb, s) =>
      val sv = slice(col(vecCol), s * sub + 1, sub)
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.VecNearestCluster(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(sv), cb))
        .as(s"code$s")
    }
    vectors.select(col(idCol) +: keep.map(col) ++: codeCols.toIndexedSeq: _*)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay
    * full-precision, the corpus contributes ONLY its code columns —
    * approximate squared L2 = Σ_s ‖q_s − codebook_s[code_s]‖². The
    * codebooks are tiny literals, so the whole distance is one codegen'd
    * expression over m ints; at 100 TB the corpus scan reads m bytes per
    * vector, never the D floats (that is the point of PQ). Ranking uses
    * the ROUNDED distance with id tie-break, so the order is stable
    * across engines. */
  def pqTopK(codes: DataFrame, queries: DataFrame,
             codebooks: Array[Array[Array[Double]]], k: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = codes.withColumnRenamed(idCol, "neighbor_id")
    rankByAdc(c.crossJoin(broadcast(q)), codebooks, k)
  }

  /** Shared ADC tail: approximate squared L2 from code columns + the
    * broadcast query vector, rank on the rounded distance (id
    * tie-break → engine-stable order). Expects columns `query_id`,
    * `qvec`, `neighbor_id`, `code0..code{m-1}`. */
  private def rankByAdc(joined: DataFrame,
                        codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val sub = codebooks(0)(0).length
    val dist = codebooks.zipWithIndex.map { case (cb, s) =>
      val sv = slice(col("qvec"), s * sub + 1, sub)
      val cbLit = array(cb.map(v => array(v.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      val cvec = element_at(cbLit, col(s"code$s") + 1)
      graft.functions.VecMath.dot(sv, sv) +
        graft.functions.VecMath.dot(cvec, cvec) -
        lit(2.0) * graft.functions.VecMath.dot(sv, cvec)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist").asc, col("neighbor_id"))
    joined.filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_dist", round(dist, 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_dist"))
  }

  /** IVF-PQ: the standard composition for billion-scale ANN (the FAISS
    * IndexIVFPQ shape) — a coarse k-means quantizer prunes the corpus to
    * the `nprobe` nearest inverted lists, and ranking inside the probed
    * lists uses PQ codes only (ADC). The corpus contribution to the
    * search is (cluster, m codes) per vector: at 100 TB the scan reads a
    * few bytes per vector and only from probed lists when the corpus is
    * storage-partitioned by cluster.
    *
    * Simplification vs. FAISS: codes quantize the raw vectors, not the
    * coarse residuals — recall is slightly lower, but every stage stays
    * oracle-replicable with the same deterministic k-means. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                nClusters: Int = 8, iterations: Int = 5, nprobe: Int = 2,
                m: Int = 4, kCodes: Int = 8, pqIterations: Int = 3,
                idCol: String = "vec_id", vecCol: String = "embedding",
                coarseCentroids: Option[Array[Array[Double]]] = None,
                codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val coarse = coarseCentroids.getOrElse(
      kmeansFit(corpus, nClusters, iterations, idCol, vecCol))
    val cbs = codebooks.getOrElse(
      pqFit(corpus, m, kCodes, pqIterations, idCol, vecCol))
    // coarse cluster + PQ codes in ONE projection scan — no join back
    val c = pqEncode(withCluster(corpus, coarse, vecCol), cbs, idCol, vecCol,
        keep = Seq("cluster"))
      .withColumnRenamed(idCol, "neighbor_id")
    val q = queries.join(kmeansProbe(queries, coarse, nprobe, idCol, vecCol), idCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), col("cluster"))
    rankByAdc(c.join(broadcast(q), Seq("cluster")), cbs, k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic dedup over an
    * embedding column — cluster with the deterministic k-means coarse
    * quantizer, find within-cluster cosine near-duplicate pairs, connect
    * them into components, and keep one representative (minimum id) per
    * component. Returns one audit row per vector:
    * (id, cluster, is_dup, retained).
    *
    * Scale shape: exactly the pieces that already scale — k-means is
    * 2 scans/iteration with driver-sized centroids, the pair search is
    * [[cosinePairs]] restricted to clusters (never all-pairs; `blocks`
    * spreads a skewed mega-cluster), and component labels converge by
    * min-propagation over the sparse near-dup edge set. Every stage is
    * deterministic, so the whole pipeline is oracle-replicable. */
  def semDeDup(vectors: DataFrame, threshold: Double = 0.9,
               nClusters: Int = 8, iterations: Int = 5,
               idCol: String = "vec_id", vecCol: String = "embedding",
               blocks: Int = 1,
               centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val assigned = withCluster(vectors, centroids.getOrElse(
      kmeansFit(vectors, nClusters, iterations, idCol, vecCol)), vecCol)
    val pairs = cosinePairs(assigned, threshold, "cluster", idCol, vecCol, blocks)
    val comp = graft.scale.Dedup.connectedComponents(pairs)
    assigned.select(col(idCol), col("cluster"))
      .join(comp.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        (col("component").isNotNull && col("component") =!= col(idCol))
          .as("is_dup"))
      .withColumn("retained", !col("is_dup"))
  }

  /** Corpus-wide kNN graph: every vector's top-k cosine neighbors within
    * its coarse k-means cluster — the adjacency list that graph-based
    * clustering / label propagation / connectivity-based semantic dedup
    * consume. Unlike [[bucketedTopK]] (tiny broadcast query side), BOTH
    * sides are the full corpus: the search is a shuffle self-join on the
    * cluster id, so work is Σ_c |c|² instead of |corpus|² — the IVF
    * restriction is what makes a corpus-scale kNN graph feasible.
    *
    * Ranking sorts on the ROUNDED similarity with neighbor-id tie-break
    * (engine-stable order). Neighbors outside the vector's cluster are
    * not considered (the standard IVF recall tradeoff). */
  def knnGraph(vectors: DataFrame, k: Int = 5, nClusters: Int = 8,
               iterations: Int = 5, idCol: String = "vec_id",
               vecCol: String = "embedding",
               centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      kmeansFit(vectors, nClusters, iterations, idCol, vecCol))
    val assigned = withCluster(vectors, cents, vecCol)
    val a = assigned.select(col(idCol).as("src"), col(vecCol).as("va"),
      col("cluster"))
    val b = assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("vb"), col("cluster"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    a.join(b, Seq("cluster")).filter(col("src") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src").as(idCol), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** One NN-DESCENT refinement round over an existing kNN graph (Dong
    * et al. 2011, "Efficient k-nearest neighbor graph construction for
    * generic similarity measures"): a vector's improved neighbor
    * candidates are its current neighbors' neighbors, taken over the
    * UNDIRECTED graph (forward ∪ reverse edges) — "a neighbor of my
    * neighbor is likely my neighbor". Re-scoring that candidate set and
    * keeping the top k recovers true neighbors the coarse-quantizer
    * restriction of [[knnGraph]] missed (cross-cluster edges), so recall
    * is non-decreasing round over round; iterate to convergence or a
    * fixed round budget.
    *
    * Scale shape: reverse degree is the skew risk (a hub vector can
    * appear in arbitrarily many adjacency lists), so reverse edges are
    * capped at `maxReverse` per node — NN-Descent's sample rate ρ —
    * keeping per-node candidate fan-out ≤ (k + ρ)² with every join
    * keyed on a node id; never an all-pairs product. Deterministic
    * throughout: the cap and the final ranking order by (rounded sim
    * DESC, id), the repo's engine-stable convention. */
  def knnGraphRefine(vectors: DataFrame, base: DataFrame, k: Int = 5,
                     maxReverse: Int = 5, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val fwd = base.select(col(idCol).as("v"), col("neighbor_id").as("u"),
      col("sim"))
    val wRev = Window.partitionBy(col("v")).orderBy(col("sim").desc, col("u"))
    val rev = fwd.select(col("u").as("v"), col("v").as("u"), col("sim"))
      .withColumn("r", row_number().over(wRev)).filter(col("r") <= maxReverse)
      .drop("r")
    // materialize the bounded undirected edge list (≤ n·(k+maxReverse)
    // long pairs) before fanning out: it feeds BOTH sides of the 2-hop
    // self-join plus the candidate union, and without the checkpoint
    // each consumer replays the whole upstream graph build (the
    // Σ|c|² cluster self-join) from scratch — the dominant cost of a
    // refine round at scale, same reuse shape as GraphOps.triangles
    val und = fwd.select("v", "u").unionByName(rev.select("v", "u")).distinct()
      .localCheckpoint()
    val hop2 = und.select(col("v"), col("u").as("m"))
      .join(und.select(col("v").as("m"), col("u")), Seq("m"))
      .select("v", "u")
    val cand = und.unionByName(hop2).filter(col("v") =!= col("u")).distinct()
    val va = vectors.select(col(idCol).as("v"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("u"), col(vecCol).as("vb"))
    val w = Window.partitionBy(col("v"))
      .orderBy(col("sim").desc, col("u"))
    cand.join(va, Seq("v")).join(vb, Seq("u"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("v").as(idCol), col("rank"),
        col("u").as("neighbor_id"), col("sim"))
  }

  /** kNN graph by NN-DESCENT: the coarse-quantizer graph of [[knnGraph]]
    * UNION deterministic random bridge edges, then `rounds` of
    * [[knnGraphRefine]]. The cluster-restricted graph alone can never
    * recover a cross-cluster true neighbor — its 2-hop closure stays
    * inside the cluster — so the random edges are what NN-Descent's
    * random initialization is for: they bridge clusters, and the local
    * join then walks them to the true neighbors. Recall is
    * non-decreasing in `rounds` (each round's candidates contain the
    * current edges) and ≥ the plain cluster graph from round 1.
    *
    * Bridges are k edges per node to pseudo-random dense-index targets
    * ((idx·2654435761 + j·40503) mod n — deterministic, engine-
    * replicable); dense indexes come from the distributed sort, never a
    * global window. */
  def knnGraphDescent(vectors: DataFrame, k: Int = 5, rounds: Int = 1,
                      nClusters: Int = 8, iterations: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      centroids: Option[Array[Array[Double]]] = None,
                      base: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, s"need at least one refinement round, got $rounds")
    // `base` lets a caller that already built the cluster graph (e.g.
    // to audit it) feed it in instead of paying the Σ|c|² self-join a
    // second time
    val cluster = base.getOrElse(knnGraph(vectors, k, nClusters, iterations,
      idCol, vecCol, centroids))
    val idx = graft.ingest.Ingest.assignDenseIds(
      vectors.select(col(idCol)), "idx", col(idCol))
    val n = idx.count()
    val rand = idx.select(col(idCol).as("v"), col("idx"))
      .withColumn("j", explode(array((0 until k).map(lit(_)): _*)))
      .withColumn("tidx",
        (col("idx") * lit(2654435761L) + col("j") * lit(40503L)) % lit(n))
      .filter(col("tidx") =!= col("idx"))
      .join(idx.select(col(idCol).as("u"), col("idx").as("tidx")), Seq("tidx"))
      .select("v", "u")
    val va = vectors.select(col(idCol).as("v"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("u"), col(vecCol).as("vb"))
    val randScored = rand.join(va, Seq("v")).join(vb, Seq("u"))
      .select(col("v").as(idCol), col("u").as("neighbor_id"),
        round(cosine(col("va"), col("vb")), 4).as("sim"))
    // bounded (n·2k scored edges): checkpoint so the refine round's
    // forward/reverse/candidate consumers don't each replay the cluster
    // self-join + bridge scoring upstream
    var g = cluster.select(col(idCol), col("neighbor_id"), col("sim"))
      .unionByName(randScored).distinct().localCheckpoint()
    for (_ <- 0 until rounds)
      g = knnGraphRefine(vectors, g, k, k, idCol, vecCol)
    g
  }

  /** Contrastive training triples (anchor, positive, hard negative) mined
    * from the corpus — the data an embedding model is fine-tuned on:
    * the positive is the anchor's most-similar same-cluster vector with
    * sim ≥ `posThreshold`; the hard negative is the most-similar vector
    * BELOW `negCeiling` (close enough to be informative, far enough to
    * be a true negative — the standard in-batch hard-negative recipe).
    * Anchors lacking either side are dropped (a training row needs both).
    *
    * One cluster-restricted self-join computes all candidate sims
    * (Σ|c|² work, the [[knnGraph]] shape — never corpus²); the positive
    * and negative rankings are two windows over that one subtree.
    * Rankings sort on the ROUNDED sim with id tie-break (engine-stable). */
  def contrastiveTriples(vectors: DataFrame, posThreshold: Double = 0.3,
                         negCeiling: Double = 0.1, nClusters: Int = 8,
                         iterations: Int = 5, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val assigned = withCluster(vectors, centroids.getOrElse(
      kmeansFit(vectors, nClusters, iterations, idCol, vecCol)), vecCol)
    val a = assigned.select(col(idCol).as("anchor"), col(vecCol).as("va"),
      col("cluster"))
    val b = assigned.select(col(idCol).as("other"), col(vecCol).as("vb"),
      col("cluster"))
    val sims = a.join(b, Seq("cluster"))
      .filter(col("anchor") =!= col("other"))
      .select(col("anchor"), col("other"),
        round(cosine(col("va"), col("vb")), 4).as("sim"))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("sim").desc, col("other"))
    val pos = sims.filter(col("sim") >= posThreshold)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("anchor"), col("other").as("positive"),
        col("sim").as("pos_sim"))
    val neg = sims.filter(col("sim") < negCeiling)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("anchor"), col("other").as("negative"),
        col("sim").as("neg_sim"))
    pos.join(neg, Seq("anchor"))
  }

  /** Day-2 SEMANTIC dedup: verified cosine near-dup pairs touching ≥ 1
    * NEW vector, mined against the persisted cluster-assignment index
    * of history — the embedding-cosine leg of the day-1/day-2 shape the
    * MinHash band table, prefix-Jaccard index, and Hamming band table
    * already have. Both inputs carry a `cluster` column assigned under
    * the SAME frozen centroids (write [[withCluster]]'s output per
    * corpus snapshot; assign the new batch with the frozen quantizer);
    * the new batch joins history + itself on the cluster key, so
    * history × history is never re-scored and per-batch work is
    * Σ_c |new_c|·|all_c|. Under frozen centroids the output equals the
    * full-run [[cosinePairs]] restricted to pairs touching a new id
    * (property spec). */
  def cosinePairsIncremental(newAssigned: DataFrame, histAssigned: DataFrame,
                             threshold: Double = 0.9,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val na = newAssigned.select(col(idCol).as("na"), col(vecCol).as("va"),
      col("cluster"))
    val tb = histAssigned
      .select(col(idCol), col(vecCol), col("cluster"))
      .unionByName(newAssigned.select(col(idCol), col(vecCol), col("cluster")))
      .select(col(idCol).as("nb"), col(vecCol).as("vb"), col("cluster"))
    na.join(tb, Seq("cluster"))
      .filter(col("na") =!= col("nb"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"), col("sim"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs (a < b) with sim ≥ threshold,
    * restricted to a bucket column to avoid all-pairs.
    *
    * `blocks` handles bucket skew at the TASK level: with blocks = B > 1,
    * each vector gets a deterministic block id (md5 of its id, mod B) and
    * the join key becomes (bucket, blockₐ, block_b) — each side
    * replicated B× so a pair meets in exactly one of the B² cells. A
    * mega-bucket that would otherwise pin one task now spreads over B²
    * tasks; total comparison work is unchanged.
    *
    * `maxBucketSize` bounds the quadratic WORK itself (the Dedup LSH
    * star-decomposition cap, `Dedup.minhashLshPairs`): buckets over the
    * cap emit only hub→member pairs (hub = bucket's min id) — O(size)
    * comparisons instead of O(size²). For downstream connected-components
    * clustering the hub keeps a viral bucket's survivors connected;
    * unlike exact-key LSH buckets, cosine is not transitive, so a capped
    * bucket's star is the standard approximation (members whose hub-sim
    * misses the threshold drop out), which is why the default is
    * Int.MaxValue = exact clique everywhere. */
  def cosinePairs(vectors: DataFrame, threshold: Double = 0.9,
                  bucketCol: String = "label", idCol: String = "vec_id",
                  vecCol: String = "embedding", blocks: Int = 1,
                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val blk = (c: Column) =>
      pmod(conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long"),
        lit(blocks.toLong))
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(bucketCol).as("bucket"))
    // bucket size + hub in one window pass on the join key (the clique
    // self-join below shuffles on the same key — exchange reused)
    val w = Window.partitionBy(col("bucket"))
    val sized =
      if (maxBucketSize == Int.MaxValue) base.withColumn("bsz", lit(1L))
        .withColumn("hub", lit(0L)) // never consulted
      else base.withColumn("bsz", count(lit(1)).over(w))
        .withColumn("hub", min(col("id")).over(w))
    val small = sized.filter(col("bsz") <= maxBucketSize)
    val a0 = small.select(col("id").as("a"), col("v").as("va"), col("bucket"))
    val b0 = small.select(col("id").as("b"), col("v").as("vb"), col("bucket"))
    val (a, b) =
      if (blocks <= 1) (a0, b0)
      else (
        a0.withColumn("ba", blk(col("a")))
          .withColumn("bb", explode(sequence(lit(0L), lit(blocks - 1L)))),
        b0.withColumn("bb", blk(col("b")))
          .withColumn("ba", explode(sequence(lit(0L), lit(blocks - 1L)))))
    val keys = if (blocks <= 1) Seq("bucket") else Seq("bucket", "ba", "bb")
    val clique = a.join(b, keys).filter(col("a") < col("b"))
      .select(col("a"), col("va"), col("b"), col("vb"))
    // star side: hub < member by construction (hub = min id), linear size
    val star = sized.filter(col("bsz") > maxBucketSize && col("id") =!= col("hub"))
      .select(col("hub").as("a"), col("id").as("b"), col("v").as("vb"),
        col("bucket"))
      .join(base.select(col("id").as("a"), col("v").as("va"),
        col("bucket")), Seq("bucket", "a"))
      .select(col("a"), col("va"), col("b"), col("vb"))
    clique.unionByName(star)
      .withColumn("sim", round(cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** SQ8 "training": per-dimension corpus [min, max]. One narrow
    * posexplode + dim-keyed aggregate (map-side combined, dim distinct
    * keys), then a dimension-bounded collect — the same locality call
    * as [[kmeansFit]]: model size is O(dim), never O(corpus). */
  def sq8Fit(vectors: DataFrame, vecCol: String = "embedding",
             dim: Int = -1): (Array[Double], Array[Double]) = {
    val d = inferDim(vectors, vecCol, dim)
    val mins = new Array[Double](d); val maxs = new Array[Double](d)
    vectors.select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
      .foreach { r =>
        val i = r.getInt(0)
        if (i < d) { mins(i) = r.getDouble(1); maxs(i) = r.getDouble(2) }
      }
    (mins, maxs)
  }

  /** Packed SQ8 codes: (id, codes array<int>) via the codegen'd
    * [[graft.functions.VecSq8]] loop — no per-dimension row blowup in
    * the hot path (the exploded form exists only for presentation and
    * SQL oracles). */
  def sq8Codes(vectors: DataFrame, mins: Array[Double], maxs: Array[Double],
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    vectors.select(col(idCol),
      graft.functions.VecQuant.sq8(col(vecCol), mins, maxs).as("codes"))

  /** Symmetric SQ8 top-k: rank by Σ(q_code − c_code)² — order-free
    * INTEGER arithmetic, so the ranking is engine-exact (the draw of
    * symmetric code-space search next to the float asymmetric variant).
    * Same broadcast-queries shape as [[bruteForceTopK]]; the Σq²+Σc²−2qc
    * expansion reuses the codegen'd [[graft.functions.VecMath.dot]] kernel on the
    * integer-valued code vectors. Queries must come from the trained
    * range (codes clamp at the corpus extremes). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              mins: Array[Double], maxs: Array[Double],
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    def coded(df: DataFrame, side: String) = df.select(
        col(idCol).as(s"${side}_id"),
        graft.functions.VecQuant.sq8(col(vecCol), mins, maxs)
          .cast("array<double>").as(s"${side}_c"))
      .withColumn(s"${side}_ss",
        graft.functions.VecMath.dot(col(s"${side}_c"), col(s"${side}_c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2"), col("neighbor_id"))
    coded(corpus, "neighbor").crossJoin(broadcast(coded(queries, "query")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("query_ss") + col("neighbor_ss") -
          lit(2.0) * graft.functions.VecMath.dot(col("query_c"), col("neighbor_c")))
          .as("dist2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("dist2").cast("long").as("dist2"))
  }

  /** Greedy k-center (farthest-point) DIVERSE sampling per cluster — the
    * coreset / diverse-subset selection stage of a data-pruning pipeline:
    * after clustering, keep the `m` members of each cluster that best
    * span it. Gonzalez's classic 2-approximation to the k-center
    * objective, run independently inside every cluster: the seed is the
    * min-id member (deterministic), then m−1 times the member farthest
    * (max over candidates of min distance to the picks so far) joins the
    * pick set; ties break to the smallest id.
    *
    * Distances are EXACT integers — squared L2 in micro² units,
    * ‖a‖²+‖b‖²−2·a·b over floor(x·10⁶) components
    * ([[graft.functions.VecMath.dotMicro]]/`norm2Micro`) — so the argmax
    * and tie-break reproduce bit-identically on any engine.
    *
    * Returns (cluster, pick, id, dist_micro2); pick 0 is the seed
    * (NULL distance), pick j's distance is its min micro² distance to
    * picks 0..j−1 at selection time. Clusters smaller than m yield
    * fewer rows.
    *
    * Scale shape: each of the m−1 rounds is one join of the corpus
    * against the pick table (≤ m rows PER CLUSTER — broadcast-sized) +
    * one per-cluster max aggregation; no all-pairs join, no global
    * window, and the member table's lineage is truncated once. m is a
    * small constant, so the round count doesn't grow with data. */
  def kcenterSample(vectors: DataFrame, centroids: Array[Array[Double]],
                    m: Int = 3, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VecMath.{dotMicro, norm2Micro}
    val mem = withCluster(vectors, centroids, vecCol)
      .select(col("cluster"), col(idCol), col(vecCol),
        norm2Micro(col(vecCol)).as("__n2"))
      .localCheckpoint() // 2(m−1)+1 consumers: truncate the lineage once
    var centers = mem.groupBy(col("cluster"))
      .agg(min(col(idCol)).as(idCol))
      .join(mem, Seq("cluster", idCol))
      .select(col("cluster"), col(idCol), col(vecCol), col("__n2"),
        lit(0).as("pick"), lit(null).cast("long").as("dist_micro2"))
    for (j <- 1 until m) {
      val c = centers.select(col("cluster"), col(vecCol).as("__cvec"),
        col("__n2").as("__cn2"))
      val cand = mem.join(centers.select(col("cluster"), col(idCol)),
        Seq("cluster", idCol), "left_anti")
      val dmin = cand.join(c, Seq("cluster"))
        .groupBy(col("cluster"), col(idCol))
        .agg(max(col(vecCol)).as(vecCol), max(col("__n2")).as("__n2"),
          min(col("__n2") + col("__cn2") -
            lit(2L) * dotMicro(col(vecCol), col("__cvec"))).as("__md"))
      val far = dmin.groupBy(col("cluster"))
        .agg(max(struct(col("__md"), (-col(idCol)).as("__nid"),
          col("__n2").as("__fn2"), col(vecCol).as("__fv"))).as("__t"))
        .select(col("cluster"), (-col("__t")("__nid")).as(idCol),
          col("__t")("__fv").as(vecCol), col("__t")("__fn2").as("__n2"),
          lit(j).as("pick"), col("__t")("__md").as("dist_micro2"))
      centers = centers.unionByName(far).localCheckpoint()
    }
    centers.select(col("cluster"), col("pick"), col(idCol),
      col("dist_micro2"))
  }
}
