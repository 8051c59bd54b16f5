package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingLsh

/** Streaming LSH near-dup candidates: identical docs collide in every
  * band, unrelated docs in none, bucket state persists across batches,
  * and band keys match the batch signature family. */
class StreamingLshSpec extends SparkSpec {
  import spark.implicits._

  private val textA = "the quick brown fox jumps over the lazy dog again and again"
  private val textB = "completely different content with no shared shingles whatsoever here"

  test("identical docs become candidates; unrelated docs do not") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val q = StreamingLsh.lshCandidates(docs)
      .writeStream.format("memory").queryName("lshc").outputMode("append").start()
    try {
      stream.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      assert(spark.table("lshc").count() == 0) // no shared shingles
      // batch 2: a duplicate of doc 1 arrives later — state must remember
      stream.addData((3L, textA))
      q.processAllAvailable()
      val pairs = spark.table("lshc").select("a", "b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L))) // all 4 bands collide, dedup to one pair
      // every band of an identical pair collides
      assert(spark.table("lshc").count() == 4)
    } finally q.stop()
  }

  test("viral bucket caps state via star decomposition") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val q = StreamingLsh.lshCandidates(docs, maxBucketSize = 2)
      .writeStream.format("memory").queryName("lshv").outputMode("append").start()
    try {
      stream.addData((1L, textA), (2L, textA), (3L, textA), (4L, textA))
      q.processAllAvailable()
      val pairs = spark.table("lshv").select("a", "b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // ids 1,2 fill the bucket (pair 1-2); 3 and 4 link to hub 1 only
      assert(pairs == Set((1L, 2L), (1L, 3L), (1L, 4L)))
      // connected components identical to the uncapped clique
      // the batch replay of the same docs equals this one micro-batch
      val batch = StreamingLsh.lshCandidates(
          Seq((1L, textA), (2L, textA), (3L, textA), (4L, textA))
            .toDF("doc_id", "text"), maxBucketSize = 2)
        .collect().map(_.toString).sorted
      assert(batch.toSeq ==
        spark.table("lshv").collect().map(_.toString).sorted.toSeq)
    } finally q.stop()
  }

  test("band keys equal the batch minhash signature banding") {
    // the stateless streaming projection must produce the same minhashes
    // as Dedup.minhashSignatures (same md5 family, same seeds)
    val docs = Seq((7L, textA)).toDF("doc_id", "text")
    val batchSig = graft.scale.Dedup.minhashSignatures(docs, 16)
      .orderBy("seed").select("minhash").as[Long].collect()
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingLsh.lshCandidates(
        stream.toDF().toDF("doc_id", "text"), maxBucketSize = 1)
      .writeStream.format("memory").queryName("lshk").outputMode("append").start()
    try {
      stream.addData((7L, textA), (8L, textA))
      q.processAllAvailable()
      val buckets = spark.table("lshk").select("bucket").as[String].collect()
      val expected = (0 until 4).map(b =>
        s"$b|" + (b * 4 until b * 4 + 4).map(batchSig).mkString(":")).toSet
      assert(buckets.toSet == expected)
    } finally q.stop()
  }

  test("stream-static candidates equal the batch incremental new-vs-index half") {
    implicit val sqlCtx = spark.sqlContext
    import scala.util.Random
    val rng = new Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val texts = (0L until 40L).map(i =>
      (i, Seq.fill(8 + rng.nextInt(6))(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")))
    val (old, fresh) = texts.partition(_._1 < 25L)
    val oldDf = old.toDF("doc_id", "text")
    val index = graft.scale.Dedup.bandTable(
      graft.scale.Dedup.minhashSignatures(oldDf)).localCheckpoint()

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val q = StreamingLsh.candidatesAgainstIndex(docs, index)
      .writeStream.format("memory").queryName("lshidx")
      .outputMode("append").start()
    try {
      stream.addData(fresh: _*)
      q.processAllAvailable()
      val got = spark.table("lshidx").select("doc_id", "index_id")
        .distinct().as[(Long, Long)].collect()
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      // batch ground truth: incremental pairs, new-vs-OLD half only
      val sigs = graft.scale.Dedup.minhashSignatures(texts.toDF("doc_id", "text"))
      val expect = graft.scale.Dedup.minhashLshPairsIncremental(
          sigs.filter(col("doc_id") >= 25), index)
        .filter(col("a") < 25 || col("b") < 25) // drop new-vs-new
        .as[(Long, Long)].collect().toSet
      assert(got === expect)
      assert(got.nonEmpty) // the tiny vocabulary guarantees collisions
    } finally q.stop()
  }

  test("stream-static cosine pairs against the assignment index equal " +
      "the day-2 batch op's new-vs-history half") {
    import graft.scale.Similarity
    implicit val sqlCtx = spark.sqlContext
    def comp(i: Int, d: Int): Float = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$d".getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59) - 1.0).toFloat
    }
    // 24 base vectors + 6 exact copies so true matches cross the split
    val raw = (0 until 24).map(i => (i.toLong, Array.tabulate(8)(comp(i, _)))) ++
      (0 until 6).map(i => ((24 + i).toLong, Array.tabulate(8)(comp(i, _))))
    val vecs = raw.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(vecs, 4, 3)
    val assignedAll = Similarity.withCluster(vecs, cents)
    val hist = assignedAll.filter(col("vec_id") % 3 =!= 0)
      .select("vec_id", "embedding", "cluster")
    val freshRows = raw.filter(_._1 % 3 == 0)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingLsh.cosineAgainstIndex(
        stream.toDF().toDF("vec_id", "embedding"), hist, cents, 0.3)
      .writeStream.format("memory").queryName("cosidx").outputMode("append")
      .start()
    try {
      stream.addData(freshRows.take(4))
      q.processAllAvailable()
      stream.addData(freshRows.drop(4)) // stateless: batch split is free
      q.processAllAvailable()
      val got = spark.table("cosidx")
        .select(least(col("vec_id"), col("index_id")),
          greatest(col("vec_id"), col("index_id")), col("sim"))
        .distinct().as[(Long, Long, Double)].collect().toSet
      // = the day-2 batch op's pairs MINUS its new-vs-new half
      val newIds = freshRows.map(_._1).toSet
      val want = Similarity.cosinePairsIncremental(
          assignedAll.filter(col("vec_id") % 3 === 0), hist, 0.3)
        .as[(Long, Long, Double)].collect().toSet
        .filterNot(p => newIds.contains(p._1) && newIds.contains(p._2))
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }
}
