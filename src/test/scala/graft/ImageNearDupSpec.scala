package graft

import org.apache.spark.sql.functions._

import graft.scale.{Dedup, Multimodal}

/** Hamming-LSH near-duplicate image dedup ([[Dedup.hammingBandPairs]]):
  * the banding is provably lossless for radius < bands, so the pair set
  * must EQUAL the brute-force Hamming join — asserted on planted
  * perturbed copies, a planted crop, and a planted brightness shift, all
  * through the real PGM decode path. */
class ImageNearDupSpec extends SparkSpec {
  import spark.implicits._

  /** (doc_id, hi, lo) through encodePgm -> averageHashHalves. */
  private def hashDf(payloads: Seq[(Long, Array[Byte])]) =
    payloads.map { case (id, p) =>
      val (hi, lo) = Multimodal.averageHashHalves(p)
      (id, hi, lo)
    }.toDF("doc_id", "ahash_hi", "ahash_lo")

  private def ham(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  /** The image_neardup fixture: 50 groups, original (id g) + perturbed
    * copy (id g+50) where raw pixel 0 is replaced. */
  private def fixturePayloads: Seq[(Long, Array[Byte])] =
    (0L until 100L).map { id =>
      val seed = id % 50
      val variant = id >= 50
      val w = (8 + seed % 5).toInt; val h = (6 + seed % 4).toInt
      (id, Multimodal.encodePgm(w, h, i =>
        if (variant && i == 0) ((seed * 31 + 128) % 256).toInt
        else ((seed * 31 + i * 7) % 256).toInt))
    }

  test("banded pairs == brute force at radius < bands (lossless), planted " +
      "perturbations recovered") {
    val payloads = fixturePayloads
    val hashes = payloads.map { case (id, p) =>
      id -> Multimodal.averageHashHalves(p)
    }.toMap
    // fixture sanity: every perturbed copy sits within the query radius
    val planted = (0L until 50L).map(g => ham(hashes(g), hashes(g + 50)))
    assert(planted.max <= 6, s"fixture drifted: $planted")
    assert(planted.count(_ >= 1) >= 40, "perturbation should flip bits " +
      "in most groups")

    val radius = 6
    val got = Dedup.hammingBandPairs(hashDf(payloads), radius, bands = 8)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    val want = (for {
      a <- 0L until 100L; b <- (a + 1) until 100L
      d = ham(hashes(a), hashes(b)) if d <= radius
    } yield (a, b, d)).toSet
    assert(got == want)
    // each flipped group's (orig, perturbed) pair is in the output
    for (g <- 0L until 50L if planted(g.toInt) >= 1)
      assert(got.contains((g, g + 50, planted(g.toInt))))
  }

  test("crop is caught within radius; brightness shift collides exactly") {
    val w = 32; val h = 24
    def base(i: Int) = ((i % w) * 4 + (i / w) * 5) % 256
    val orig = Multimodal.encodePgm(w, h, base)
    val cw = w - 2; val ch = h - 2
    val crop = Multimodal.encodePgm(cw, ch,
      i => base((i / cw + 2) * w + (i % cw + 2)))
    val bright = Multimodal.encodePgm(w, h, i => math.min(255, base(i) + 10))
    val pairs = Dedup.hammingBandPairs(
        hashDf(Seq((1L, orig), (2L, crop), (3L, bright))), radius = 6)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 1,
      "crop should be near, not identical")
    assert(pairs((1L, 3L)) == 0,
      "uniform brightness shift preserves the mean-threshold hash")
  }

  test("maxBucketSize star decomposition: verified subset, components " +
      "preserved for duplicate-hash buckets, no false merges") {
    // 40 identical hashes (one viral bucket per band) + one far singleton
    // that still SHARES the all-zero band slices — the false-merge trap:
    // an unverified star edge would wrongly connect it to the cluster
    val rows = (0L until 40L).map(i => (i, 5L, 9L)) :+ (99L, 0xFFFFL, 0xAAAAL)
    val df = rows.toDF("doc_id", "ahash_hi", "ahash_lo")
    val full = Dedup.hammingBandPairs(df, radius = 3)
    val capped = Dedup.hammingBandPairs(df, radius = 3, maxBucketSize = 8)
    assert(capped.count() < full.count())
    // every capped pair is a true within-radius pair (verified subset)
    val fullSet = full.select("a", "b").as[(Long, Long)].collect().toSet
    val cappedSet = capped.select("a", "b").as[(Long, Long)].collect().toSet
    assert(cappedSet.subsetOf(fullSet))
    assert(!cappedSet.exists { case (a, b) => a == 99L || b == 99L },
      "the far singleton must not be star-merged into the cluster")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comps(full) == comps(capped))
  }

  test("incremental band-index pairs == brute force over the combined " +
      "nodes touching a new row, through a parquet round-trip") {
    val payloads = fixturePayloads
    val hashes = payloads.map { case (id, p) =>
      id -> Multimodal.averageHashHalves(p)
    }.toMap
    val hist = hashDf(payloads.filter(_._1 % 10 != 0))
    val fresh = hashDf(payloads.filter(_._1 % 10 == 0))
    val tmp = java.nio.file.Files.createTempDirectory("hamidx").toString
    Dedup.hammingBandTable(hist).write.mode("overwrite").parquet(tmp)
    val got = Dedup.hammingBandPairsIncremental(fresh,
        spark.read.parquet(tmp), radius = 6)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSet
    val want = (for {
      a <- 0L until 100L; b <- (a + 1) until 100L
      if a % 10 == 0 || b % 10 == 0
      d = ham(hashes(a), hashes(b)) if d <= 6
    } yield (a, b, d)).toSet
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("streaming twin: verified pairs match the batch op on the planted " +
      "fixture, state persists across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val payloads = fixturePayloads
    val stream = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.StreamingOps.imageNearDupCandidates(
        stream.toDF().toDF("doc_id", "payload"), radius = 6)
      .writeStream.format("memory").queryName("imgnear").outputMode("append")
      .start()
    try {
      // originals first, perturbed copies in a LATER batch: every planted
      // pair crosses the batch boundary, so recovery proves state memory
      stream.addData(payloads.filter(_._1 < 50))
      q.processAllAvailable()
      stream.addData(payloads.filter(_._1 >= 50))
      q.processAllAvailable()
      val got = spark.table("imgnear").select("a", "b", "hamming")
        .distinct().as[(Long, Long, Int)].collect().toSet
      val want = Dedup.hammingBandPairs(hashDf(payloads), radius = 6,
          bands = 8).select("a", "b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming twin: over-cap buckets emit verified stars only — no " +
      "false merge of a band-sharing far hash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingLsh.hammingCandidates(
        stream.toDF().toDF("doc_id", "ahash_hi", "ahash_lo"),
        radius = 3, maxBucketSize = 4)
      .writeStream.format("memory").queryName("imgnearv").outputMode("append")
      .start()
    try {
      val hashes = (0L until 10L).map(i => (i, 5L, 9L)) :+
        ((99L, 0xFFFFL, 0xAAAAL))
      stream.addData(hashes: _*)
      q.processAllAvailable()
      val pairs = spark.table("imgnearv").select("a", "b").distinct()
        .as[(Long, Long)].collect().toSet
      // ids 0-3 fill the bucket (cliques), 4-9 star to hub 0; 99 shares
      // the all-zero band slices but is beyond the radius — dropped
      assert(pairs == ((0L until 4L).flatMap(a =>
        (a + 1 until 4L).map(a -> _)) ++ (4L until 10L).map(0L -> _)).toSet)
      // the batch replay of the same hashes equals this one micro-batch
      val batch = graft.streaming.StreamingLsh.hammingCandidates(
          hashes.toDF("doc_id", "ahash_hi", "ahash_lo"),
          radius = 3, maxBucketSize = 4)
        .collect().map(_.toString).sorted
      assert(batch.toSeq ==
        spark.table("imgnearv").collect().map(_.toString).sorted.toSeq)
    } finally q.stop()
  }

  test("incremental cap: over-cap index buckets verify against the hub " +
      "only — a verified subset") {
    val idx = Dedup.hammingBandTable(
      (0L until 40L).map(i => (i * 7 + 1, 5L, 9L))
        .toDF("doc_id", "ahash_hi", "ahash_lo"))
    val fresh = Seq((1000L, 5L, 9L)).toDF("doc_id", "ahash_hi", "ahash_lo")
    val full = Dedup.hammingBandPairsIncremental(fresh, idx, radius = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(full.size == 40)
    val capped = Dedup.hammingBandPairsIncremental(fresh, idx, radius = 3,
        maxBucketSize = 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 1000L))) // the bucket's min-id hub survives
    assert(capped.subsetOf(full))
  }

  test("stream-static candidates against the persisted band index equal " +
      "the batch incremental's new-vs-index half") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val payloads = fixturePayloads
    val hist = hashDf(payloads.filter(_._1 % 10 != 0))
    val fresh = payloads.filter(_._1 % 10 == 0).map { case (id, p) =>
      val (hi, lo) = Multimodal.averageHashHalves(p); (id, hi, lo)
    }
    val idx = Dedup.hammingBandTable(hist)
    val stream = MemoryStream[(Long, Long, Long)]
    val q = graft.streaming.StreamingLsh.hammingAgainstIndex(
        stream.toDF().toDF("doc_id", "ahash_hi", "ahash_lo"), idx, radius = 6)
      .writeStream.format("memory").queryName("imgidx").outputMode("append")
      .start()
    try {
      stream.addData(fresh: _*)
      q.processAllAvailable()
      val got = spark.table("imgidx")
        .select(least(col("doc_id"), col("index_id")),
          greatest(col("doc_id"), col("index_id")))
        .distinct().as[(Long, Long)].collect().toSet
      // = the batch incremental's pairs MINUS its new-vs-new half
      val newIds = fresh.map(_._1).toSet
      val want = Dedup.hammingBandPairsIncremental(
          hashDf(payloads.filter(_._1 % 10 == 0)), idx, radius = 6)
        .select("a", "b").as[(Long, Long)].collect().toSet
        .filterNot(p => newIds.contains(p._1) && newIds.contains(p._2))
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("invalid band/radius combinations are rejected") {
    val df = Seq((1L, 0L, 0L)).toDF("doc_id", "ahash_hi", "ahash_lo")
    intercept[IllegalArgumentException](
      Dedup.hammingBandPairs(df, radius = 8, bands = 8)) // not lossless
    intercept[IllegalArgumentException](
      Dedup.hammingBandPairs(df, radius = 1, bands = 3)) // 3 doesn't cut 64
  }
}
