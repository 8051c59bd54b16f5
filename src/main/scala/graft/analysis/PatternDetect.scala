package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Schemas._
import graft.enrich.Metrics

/** detect_pattern (SURVEY §2.4 A10; pipit/trace.py:806-863) — time-series
  * motif discovery over one process's metric series.
  *
  * The reference delegates to stumpy (STOMP matrix profile + motif
  * extraction). We reimplement the kernel in Scala: after the heavy
  * distributed filter (one process, the span between the first Enter and
  * last Leave of `startEvent`, non-null metric) the series is collected to
  * the driver — same locality decision as the reference, which is
  * single-node throughout; the distributed part is the filtering, the
  * O(n²) kernel runs on a small residual series.
  *
  * Motif semantics: z-normalized Euclidean distance between all
  * length-`windowSize` subsequences (matrix profile); the motif seed is the
  * subsequence with the minimal profile value; matches are the
  * `iterations` nearest non-overlapping subsequences to the seed
  * (exclusion zone = windowSize/2, matching stumpy's default).
  */
object PatternDetect {


  /** Per-window mean/std over all n = |y|-m+1 windows. */
  private def meanStd(y: Array[Double], m: Int): (Array[Double], Array[Double]) = {
    val n = y.length - m + 1
    val mu = new Array[Double](n); val sig = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = 0.0; var s2 = 0.0; var j = 0
      while (j < m) { val v = y(i + j); s += v; s2 += v * v; j += 1 }
      mu(i) = s / m
      sig(i) = math.sqrt(math.max(s2 / m - mu(i) * mu(i), 1e-18))
      i += 1
    }
    (mu, sig)
  }

  /** z-normalized Euclidean distance from a window dot product. The
    * (mu·mu) and (sig·sig) groupings make the expression evaluation-order
    * symmetric in the two windows — every kernel (local, distributed,
    * seed-match) MUST go through this one definition so they stay
    * bit-equal. */
  private def zDist(dot: Double, m: Int, muI: Double, muK: Double,
                    sigI: Double, sigK: Double): Double =
    math.sqrt(2.0 * m * math.max(0.0,
      1.0 - (dot - m * (muI * muK)) / (m * (sigI * sigK))))

  /** Matrix profile by brute-force z-normalized distance (O(n² m); fine for
    * the post-filter series sizes this is meant for). */
  private[graft] def matrixProfile(y: Array[Double], m: Int): Array[Double] = {
    val n = y.length - m + 1
    val (mu, sig) = meanStd(y, m)
    val excl = math.max(m / 2, 1)
    val mp = Array.fill(n)(Double.PositiveInfinity)
    var i = 0
    while (i < n) {
      var k = i + excl
      while (k < n) {
        var dot = 0.0; var j = 0
        while (j < m) { dot += y(i + j) * y(k + j); j += 1 }
        val d = zDist(dot, m, mu(i), mu(k), sig(i), sig(k))
        if (d < mp(i)) mp(i) = d
        if (d < mp(k)) mp(k) = d
        k += 1
      }
      i += 1
    }
    mp
  }

  /** Distributed matrix profile: same values as [[matrixProfile]], but
    * the O(n²·m) pairwise scan fans out over the cluster — each task owns
    * a contiguous slice of subsequence indexes and scans all candidates
    * against the broadcast series (µ/σ precomputed once, broadcast too).
    * Work is 2× the symmetric single-node kernel but embarrassingly
    * parallel; the series itself must fit in a broadcast (8 B/point —
    * 10⁸ points ≈ 800 MB is the practical ceiling, far beyond any
    * post-filter span the operator sees). Distance arithmetic is
    * identical expression-for-expression, so results are bit-equal to
    * the local kernel. */
  private[graft] def matrixProfileDistributed(
      spark: org.apache.spark.sql.SparkSession,
      y: Array[Double], m: Int, parallelism: Int = 64): Array[Double] = {
    val n = y.length - m + 1
    val (mu, sig) = meanStd(y, m)
    val excl = math.max(m / 2, 1)
    val yB = spark.sparkContext.broadcast(y)
    val muB = spark.sparkContext.broadcast(mu)
    val sigB = spark.sparkContext.broadcast(sig)
    val mp = spark.sparkContext
      .parallelize(0 until n, math.min(parallelism, math.max(n, 1)))
      .map { i =>
        val yv = yB.value; val muv = muB.value; val sigv = sigB.value
        var best = Double.PositiveInfinity
        var k = 0
        while (k < n) {
          if (math.abs(k - i) >= excl) {
            var dot = 0.0; var j = 0
            while (j < m) { dot += yv(i + j) * yv(k + j); j += 1 }
            val d = zDist(dot, m, muv(i), muv(k), sigv(i), sigv(k))
            if (d < best) best = d
          }
          k += 1
        }
        (i, best)
      }.collect()
    val out = new Array[Double](n)
    mp.foreach { case (idx, d) => out(idx) = d }
    out
  }

  /** Series length above which [[detectPattern]] switches from the local
    * O(n²·m) kernel to `matrixProfileDistributed`. */
  val DistributedThreshold: Int = 50000

  def detectPattern(events0: DataFrame, startEvent: String,
                    iterations: Option[Int] = None, windowSize: Option[Int] = None,
                    process: Int = 0, metric: String = TimeExc): Seq[DataFrame] = {
    val events = Metrics.calcExcMetrics(events0, Seq(TimestampNs))
    val marker = events.filter(col(Name) === startEvent && col(Process) === process)
    // the span and the marker's call count come from one job
    val span = marker.agg(
      min(when(col(EventType) === Enter, col(TimestampNs))).as("t0"),
      max(when(col(EventType) === Leave, col(TimestampNs))).as("t1"),
      count(when(col(EventType) === Enter, 1)).as("n")).head()
    if (span.isNullAt(0) || span.isNullAt(1)) return Seq.empty
    val (t0, t1) = (span.getLong(0), span.getLong(1))

    val iters = iterations.getOrElse(span.getLong(2).toInt)

    // distributed part: filter to the investigated span + collect the series
    // (driver-local kernel — the reference makes the same locality call;
    // the cap fails loudly instead of OOMing on an unexpectedly huge span)
    val maxSeries = 20000000
    val filtered = events
      .filter(col(Process) === process && col(TimestampNs) > t0 &&
        col(TimestampNs) < t1 && col(metric).isNotNull)
      .select(col(TimestampNs), col(metric).cast("double"))
      .orderBy(col(TimestampNs))
      .limit(maxSeries + 1)
      .collect()
    require(filtered.length <= maxSeries,
      s"detect_pattern series for process $process exceeds $maxSeries points; " +
        "narrow the span via startEvent or pre-aggregate the metric series")
    val y = filtered.map(_.getDouble(1))
    if (y.length < 4) return Seq.empty

    val m = windowSize.getOrElse(math.max(y.length / math.max(iters, 1), 2))
    if (y.length < m + 1) return Seq.empty
    val mp =
      if (y.length > DistributedThreshold)
        matrixProfileDistributed(events.sparkSession, y, m)
      else matrixProfile(y, m)
    val seed = mp.indexOf(mp.min)

    // nearest non-overlapping matches to the seed window
    val n = y.length - m + 1
    val (mus, sigs) = meanStd(y, m)
    val dists = (0 until n).map { k =>
      var dot = 0.0; var j = 0
      while (j < m) { dot += y(seed + j) * y(k + j); j += 1 }
      k -> zDist(dot, m, mus(seed), mus(k), sigs(seed), sigs(k))
    }.sortBy { case (k, d) => (d, k) }
    val excl = math.max(m / 2, 1)
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    for ((k, _) <- dists if chosen.size < iters
         if chosen.forall(c => math.abs(c - k) >= excl)) chosen += k

    chosen.toSeq.map { k =>
      val ts = filtered.slice(k, k + m).map(_.getLong(0))
      // restrict to the analyzed process: other ranks' coincident
      // timestamps must not leak into the occurrence windows
      events.filter(col(Process) === process && col(TimestampNs).isin(ts: _*))
    }
  }
}
