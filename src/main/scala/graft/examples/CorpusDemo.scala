package graft.examples

import org.apache.spark.sql.functions._

import graft.scale._

/** End-to-end corpus-curation walkthrough on the synthetic corpus — the
  * "switching user" demo for the training-data side of the library
  * (the trace side's equivalent is [[Demo]]):
  *
  *   quality → repetition → near-dup components → curation verdict →
  *   deterministic mixture sample → pack into token batches →
  *   partitioned curated write.
  *
  * Run: sbt "runMain graft.examples.CorpusDemo /root/testdata/sf0.001 /tmp/corpus_out"
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/corpus_out")
    val spark = graft.util.Sessions.local("graft-corpus-demo", Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")

    val corpus = graft.model.Corpus.fromParquet(spark, s"$sfDir/documents.parquet")
    val docs = corpus.docs
    println(s"=== corpus: ${docs.count()} documents ===")

    val verdict = corpus.curate(minQuality = 0.9, minUniqueRatio = 0.4)
    println("=== curation verdict (quality ∧ repetition ∧ dedup) ===")
    verdict.groupBy(col("retained")).count().show()

    val curated = docs.join(verdict.filter(col("retained"))
      .select(col("doc_id")), Seq("doc_id"))

    println("=== leakage-safe split of the curated corpus ===")
    val comps = corpus.nearDupComponents()
    graft.model.Corpus(curated).leakageSafeSplit(comps, nSplits = 10)
      .groupBy(col("split")).count().orderBy(col("split")).show(3)

    println("=== language mixture after down-weighting English ===")
    import spark.implicits._
    val rates = Seq(("en", 0.25), ("de", 1.0), ("es", 0.6), ("fr", 0.6),
      ("zh", 0.8)).toDF("lang", "rate")
    val mixed = Curation.mixSample(curated, rates, "lang")
    mixed.groupBy(col("lang")).count().orderBy(col("lang")).show()

    println("=== packed into 4096-token batches (first 5) ===")
    Curation.packBatches(mixed).orderBy(col("shard"), col("doc_id")).show(5)

    CorpusIO.write(mixed.withColumn("quality",
      TextOps.quality(col("text"))), s"$outDir/curated")
    println(s"=== curated corpus written (lang-partitioned) to $outDir/curated ===")
    println(spark.read.parquet(s"$outDir/curated").count() + " rows back")
    spark.stop()
  }
}
