package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Streaming MinHash-LSH near-duplicate candidate generation — the
  * incremental twin of [[graft.scale.Dedup.minhashLsh]] for
  * dedup-at-ingest: each arriving document emits candidate pairs against
  * the documents already seen in its LSH band buckets.
  *
  * The batch pipeline computes signatures with an explode + groupBy;
  * chaining that aggregation into a stateful pair stage would stack two
  * stateful operators in one streaming query. Here the whole signature —
  * shingles → per-seed minhashes → per-band keys — is ONE stateless
  * columnar projection (`transform`/`array_min` over the shingle array,
  * same md5 hash family as the batch op), so the only stateful operator
  * is the bucket store. State per (band, bucket) is the member id list,
  * capped at `maxBucketSize` with the batch op's star decomposition: a
  * viral bucket keeps emitting (hub, new) edges — identical connected
  * components, O(cap) memory. A pair can surface in several bands
  * (bands are independent buckets); downstream component/dedup stages
  * are insensitive to duplicate edges, as in the batch pipeline.
  */
object StreamingLsh {

  case class BandRow(bucket: String, doc_id: Long)
  case class BucketState(ids: List[Long])
  case class CandPair(a: Long, b: Long, bucket: String)

  /** Per-row materialized Kirsch-Mitzenmacher hash pair arrays `_h1`/`_h2`
    * (one md5 per shingle, split into two independent 56/60-bit halves).
    * Higher-order functions evaluate interpreted, so leaving the shingle
    * construction as a raw expression re-tokenizes the document inside
    * every minhash seed's lambda — numHashes × O(tokens²) per doc. Three
    * stacked projections pin tokens → shingles → md5 halves each to ONE
    * evaluation per row; every seed is then a cheap zip_with over the
    * materialized arrays. Same hash family as Dedup.minhashSignatures. */
  private def hashedShingles(docs: DataFrame, shingleK: Int,
                             textCol: String): DataFrame = {
    val nSh = greatest(size(col("_toks")) - (shingleK - 1), lit(1))
    docs
      .withColumn("_toks", split(trim(col(textCol)), " +"))
      .withColumn("_shingles", transform(sequence(lit(1), nSh),
        i => concat_ws(" ", slice(col("_toks"), i, lit(shingleK)))))
      .withColumn("_h1", transform(col("_shingles"),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))
      .withColumn("_h2", transform(col("_shingles"),
        s => conv(substring(md5(s), 17, 14), 16, 10).cast("long")))
  }

  /** seed-th minhash over the [[hashedShingles]] arrays. */
  private def minhash(seed: Int) = array_min(
    zip_with(col("_h1"), col("_h2"), (a, b) => a + lit(seed.toLong) * b))

  /** Candidate near-dup pairs (a < b by arrival-independent id order)
    * from a streaming document source with (`idCol`: long, `textCol`:
    * string). numHashes = bands × rowsPerBand as in the batch op.
    *
    * `idleTimeout` (a duration string, e.g. "6 hours") bounds state over
    * an unbounded bucket domain: a bucket idle that long is dropped, so
    * a future member pairs only against documents seen after the drop —
    * the standard dedup-horizon tradeoff (full-history dedup stays a
    * batch job). Default None preserves keep-everything semantics. */
  def lshCandidates(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
                    shingleK: Int = 3, maxBucketSize: Int = 32,
                    textCol: String = "text",
                    idCol: String = "doc_id",
                    idleTimeout: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val bandKeys = (0 until bands).map { b =>
      val key = concat_ws(":",
        (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(s => minhash(s).cast("string")): _*)
      concat(lit(s"$b|"), key)
    }
    val rows = hashedShingles(docs, shingleK, textCol)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array(bandKeys: _*)).as("bucket"))
    BatchReplay.keyed[String, BandRow, BucketState, CandPair](rows,
      Seq("bucket"), _.bucket, idleTimeout)(
      bucketGroup(maxBucketSize, idleTimeout))
  }

  /** Stream-side band keys in the BATCH [[graft.scale.Dedup.bandTable]]
    * format — (doc_id, band, band_key = md5 of the ':'-joined decimal
    * minhashes) — as one stateless projection. Anything the batch index
    * writer produced joins against this directly. */
  def bandKeys(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
               shingleK: Int = 3, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val rows = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(":", (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(s => minhash(s).cast("string")): _*)).as("band_key"))
    }
    hashedShingles(docs, shingleK, textCol)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array(rows: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Dedup-at-ingest against the HISTORICAL corpus: candidate pairs of
    * each streaming document against the persisted batch band index — a
    * STATELESS stream-static inner join (watermark-free, no state
    * store); the streaming twin of
    * [[graft.scale.Dedup.minhashLshPairsIncremental]]'s new-vs-index
    * half. Pairs WITHIN the stream are [[lshCandidates]]' job — run
    * both for full coverage. A pair may surface once per matching band
    * (downstream component/dedup stages are insensitive to duplicate
    * edges); `dropDuplicates` on an unbounded stream would reintroduce
    * state, so dedup pairs downstream if it matters. */
  def candidatesAgainstIndex(docs: DataFrame, indexBands: DataFrame,
                             numHashes: Int = 16, bands: Int = 4,
                             shingleK: Int = 3, textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame =
    bandKeys(docs, numHashes, bands, shingleK, textCol, idCol)
      .join(indexBands.select(col(idCol).as("index_id"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_id") =!= col("index_id"))
      .select(col("doc_id"), col("index_id"), col("band"))

  case class HashRow(bucket: String, doc_id: Long, hi: Long, lo: Long)
  case class HashBucketState(rows: List[(Long, Long, Long)])
  case class HamPair(a: Long, b: Long, hamming: Int, bucket: String)

  /** Streaming Hamming-LSH near-duplicate pairs over a 64-bit hash in
    * two 32-bit halves — the incremental twin of
    * [[graft.scale.Dedup.hammingBandPairs]] (e.g. perceptual image
    * hashes beyond the exact-collision dedup of
    * [[StreamingOps.imageDedup]]). The band-slice keys are ONE stateless
    * columnar projection (same bit-slice formula as the batch op); the
    * only stateful operator is the bucket store, whose state is the
    * member (id, hi, lo) list — 24 bytes/member, never a payload byte.
    *
    * Emitted pairs are VERIFIED (Hamming ≤ radius — popcount against the
    * in-state halves is integer-cheap, unlike re-reading documents in the
    * MinHash twin), so every output row is a true near-duplicate; for
    * radius < bands a pair is guaranteed to meet in ≥ 1 bucket, so
    * within-horizon recall matches the batch op. A pair can surface once
    * per shared band; dedup downstream if the edge multiset matters
    * (component stages are insensitive). Over-cap buckets emit verified
    * hub→member stars exactly like the batch op — a subset, never a
    * false merge. */
  def hammingCandidates(hashes: DataFrame, radius: Int, bands: Int = 8,
                        maxBucketSize: Int = 64,
                        idCol: String = "doc_id",
                        hiCol: String = "ahash_hi", loCol: String = "ahash_lo",
                        idleTimeout: Option[String] = None): DataFrame = {
    require(bands > 0 && 64 % bands == 0 && 32 % (64 / bands) == 0,
      s"bands must cut 64 bits into whole within-half slices, got $bands")
    require(radius >= 0 && radius < bands,
      s"lossless guarantee needs radius < bands, got radius=$radius bands=$bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val buckets = (0 until bands).map { i =>
      val src = if ((i + 1) * width <= 32) shiftright(col(loCol), i * width)
                else shiftright(col(hiCol), i * width - 32)
      concat(lit(s"$i|"),
        src.cast("long").bitwiseAND(lit(mask)).cast("string"))
    }
    val rows = hashes.select(col(idCol).cast("long").as("doc_id"),
        col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"),
        explode(array(buckets: _*)).as("bucket"))
    BatchReplay.keyed[String, HashRow, HashBucketState, HamPair](rows,
      Seq("bucket"), _.bucket, idleTimeout)(
      hashBucketGroup(radius, maxBucketSize, idleTimeout))
  }

  /** Dedup-at-ingest against the HISTORICAL image corpus: each streaming
    * hash joins the persisted batch [[graft.scale.Dedup.hammingBandTable]]
    * on (band, band_key) and is VERIFIED in the same projection (the
    * index rows carry their hash halves; [[graft.functions.VecHamming]]
    * is a plain codegen'd expression, so unlike the MinHash twin this
    * stream-static path emits only true within-radius matches) — a
    * stateless join, no state store, no watermark. Pairs WITHIN the
    * stream are [[hammingCandidates]]' job — run both for full
    * coverage. A pair may surface once per shared band; dedup
    * downstream if the edge multiset matters. */
  def hammingAgainstIndex(hashes: DataFrame, indexBands: DataFrame,
                          radius: Int, bands: Int = 8,
                          idCol: String = "doc_id",
                          hiCol: String = "ahash_hi",
                          loCol: String = "ahash_lo"): DataFrame = {
    require(radius >= 0 && radius < bands,
      s"lossless guarantee needs radius < bands, got radius=$radius bands=$bands")
    graft.scale.Dedup.hammingBandTable(hashes, bands, idCol, hiCol, loCol)
      .join(indexBands.select(col(idCol).as("index_id"),
        col(hiCol).as("ix_hi"), col(loCol).as("ix_lo"),
        col("band"), col("band_key")), Seq("band", "band_key"))
      .filter(col(idCol) =!= col("index_id"))
      .withColumn("hamming", graft.functions.VecBits.hamming(
        array(col(hiCol), col(loCol)), array(col("ix_hi"), col("ix_lo"))))
      .filter(col("hamming") <= radius)
      .select(col(idCol), col("index_id"), col("band"), col("hamming"))
  }

  /** SEMANTIC dedup-at-ingest against the historical embedding corpus —
    * the stream-static member of the semantic-dedup family, completing
    * its batch / day-2 / streaming trio ([[graft.scale.Similarity.
    * semDeDup]] / [[graft.scale.Similarity.cosinePairsIncremental]] /
    * this): each streaming vector is assigned to its coarse cluster
    * under the FROZEN centroids (a pure broadcast projection — no
    * state store, no watermark), joined against the persisted
    * cluster-assignment index (withCluster's output written per corpus
    * snapshot), and VERIFIED in the same projection with the rounded
    * cosine — only true ≥ threshold matches emit. Pairs WITHIN the
    * stream are the incremental batch op's job on the next snapshot,
    * same division of labor as [[hammingAgainstIndex]]. */
  def cosineAgainstIndex(vectors: DataFrame, histAssigned: DataFrame,
                         centroids: Array[Array[Double]],
                         threshold: Double = 0.9,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    import graft.scale.Similarity
    Similarity.withCluster(vectors, centroids, vecCol)
      .select(col(idCol), col(vecCol).as("__v"), col("cluster"))
      .join(histAssigned.select(col(idCol).as("index_id"),
        col(vecCol).as("__iv"), col("cluster")), Seq("cluster"))
      .filter(col(idCol) =!= col("index_id"))
      .withColumn("sim", round(Similarity.cosine(col("__v"), col("__iv")), 4))
      .filter(col("sim") >= threshold)
      .select(col(idCol), col("index_id"), col("cluster"), col("sim"))
  }

  private[streaming] def hashBucketGroup(radius: Int, maxBucketSize: Int,
      idleTimeout: Option[String] = None)(
      bucket: String, rows: Iterator[HashRow],
      state: GroupState[HashBucketState]): Iterator[HamPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    def ham(ahi: Long, alo: Long, bhi: Long, blo: Long): Int =
      java.lang.Long.bitCount(ahi ^ bhi) + java.lang.Long.bitCount(alo ^ blo)
    val members = mutable.ArrayBuffer[(Long, Long, Long)]()
    state.getOption.foreach(s => members ++= s.rows)
    val out = mutable.ArrayBuffer[HamPair]()
    for (r <- rows.toSeq.sortBy(_.doc_id)
         if !members.exists(_._1 == r.doc_id)) {
      if (members.length < maxBucketSize) {
        for ((oid, ohi, olo) <- members) {
          val d = ham(ohi, olo, r.hi, r.lo)
          if (d <= radius)
            out += HamPair(math.min(oid, r.doc_id),
              math.max(oid, r.doc_id), d, bucket)
        }
        members += ((r.doc_id, r.hi, r.lo))
      } else {
        // verified star: newcomers test against the hub only (see doc)
        val (hid, hhi, hlo) = members.minBy(_._1)
        val d = ham(hhi, hlo, r.hi, r.lo)
        if (d <= radius)
          out += HamPair(math.min(hid, r.doc_id),
            math.max(hid, r.doc_id), d, bucket)
      }
    }
    state.update(HashBucketState(members.toList))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }

  private[streaming] def bucketGroup(maxBucketSize: Int,
      idleTimeout: Option[String] = None)(
      bucket: String, rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[CandPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val ids = mutable.ArrayBuffer[Long]()
    state.getOption.foreach(s => ids ++= s.ids)
    val out = mutable.ArrayBuffer[CandPair]()
    for (r <- rows.toSeq.sortBy(_.doc_id) if !ids.contains(r.doc_id)) {
      if (ids.length < maxBucketSize) {
        // full clique below the cap, as in the batch op
        for (old <- ids)
          out += CandPair(math.min(old, r.doc_id), math.max(old, r.doc_id), bucket)
        ids += r.doc_id
      } else {
        // star decomposition: viral bucket links newcomers to the hub only
        val hub = ids.min
        out += CandPair(math.min(hub, r.doc_id), math.max(hub, r.doc_id), bucket)
      }
    }
    state.update(BucketState(ids.toList))
    idleTimeout.foreach(state.setTimeoutDuration)
    out.iterator
  }
}
