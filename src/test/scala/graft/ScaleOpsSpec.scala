package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.scale.{Dedup, Multimodal, Shingles, Similarity, TextOps}

/** Behavior checks for the training-data-pipeline operators on planted
  * inputs (the value-level cross-engine checks run via the DuckDB oracle;
  * here we assert the *semantics*: planted duplicates are found, planted
  * languages are recovered, stubs are deterministic). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the very lazy dog again and again"), // near dup
    (3L, "completely different content about spark query engines at scale"),
    (4L, "another unrelated document mentioning matrices and kernels only")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs).collect()
    assert(d.length == 4)
    val dup = d.find(_.getAs[Long]("dup_count") == 2).get
    assert(dup.getAs[Long]("representative") == 0L)
  }

  test("kcenterSample: farthest-point picks with exact micro distances") {
    val vecs = Seq(
      (1L, Array(0f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 3f)),
      (4L, Array(2f, 2f)), (10L, Array(10f, 10f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val r = Similarity.kcenterSample(vecs, cents, m = 3).collect()
      .map(x => (x.getAs[Number]("cluster").intValue,
        x.getAs[Number]("pick").intValue) -> x).toMap
    val M = 1000000L * 1000000L
    // seed = min id; round 1 takes the farthest from the seed; round 2
    // maximizes the min distance to BOTH picks (id4's 5 beats id2's 1)
    assert(r((0, 0)).getAs[Long]("vec_id") == 1L)
    assert(r((0, 1)).getAs[Long]("vec_id") == 3L)
    assert(r((0, 1)).getAs[Long]("dist_micro2") == 9L * M)
    assert(r((0, 2)).getAs[Long]("vec_id") == 4L)
    assert(r((0, 2)).getAs[Long]("dist_micro2") == 5L * M)
    assert(r((1, 0)).getAs[Long]("vec_id") == 10L)
    assert(!r.contains((1, 1))) // singleton cluster: nothing left to pick
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("cross-group pairs keep only near-dups that span sources") {
    val withSrc = docs.withColumn("source",
      when(col("doc_id") === 1L, "mirror").otherwise("origin"))
    val got = Dedup.crossGroupPairs(withSrc).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[String]("source_a"), r.getAs[String]("source_b"))).toSet
    // (0,1) crosses origin|mirror; (0,2)/(1,2) crosses only via doc 1
    assert(got.contains((0L, 1L, "origin", "mirror")))
    assert(got.forall(p => p._3 != p._4))
    assert(!got.contains((0L, 2L, "origin", "origin")))
  }

  test("simhash: identical docs agree; unrelated docs differ") {
    val h = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(h(0L) == h(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(0L), h(2L)) < hamming(h(0L), h(3L)))
  }

  test("ngram jaccard: dup pair 1.0, near-dup high, cross pairs absent") {
    val p = Dedup.ngramJaccardPairs(docs, 3, 0.1).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard")).toMap
    assert(p((0L, 1L)) == 1.0)
    assert(p((0L, 2L)) > 0.3 && p((0L, 2L)) < 1.0)
    assert(!p.keySet.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("containment: a quoted subset scores ~1 one-way where jaccard is low") {
    // doc 10 is 5 tokens quoted verbatim inside the 25-token doc 11:
    // containment(10 in 11) = 1.0 while jaccard ≈ |10|/|11| stays small
    val quoted = "alpha beta gamma delta epsilon"
    val host = quoted + " one two three four five six seven eight nine ten" +
      " eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    val d = Seq((10L, quoted), (11L, host),
      (12L, "totally disjoint words nothing shared here at all")).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(d, 3, 0.8).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        (r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"))).toMap
    assert(c.keySet == Set((10L, 11L)))
    val (contA, contB) = c((10L, 11L))
    assert(contA == 1.0)     // all of doc 10's shingles appear in doc 11
    assert(contB < 0.8)      // the host is NOT contained in the quote
    // the same pair is invisible to a jaccard threshold of the same level
    val j = Dedup.ngramJaccardPairs(d, 3, 0.8).collect()
    assert(j.isEmpty)
  }

  test("tfidf: a repeated rare term outranks ubiquitous stopwords") {
    val d = Seq(
      (0L, "spark spark spark the the and and"),
      (1L, "the and kernel"),
      (2L, "the and matrix")
    ).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(d, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rn")) -> r.getAs[String]("term"))
      .toMap
    // "spark" is unique to doc 0 AND repeated; "the"/"and" appear in all
    // three docs → idf = ln(1) = 0, so they can never outrank real terms
    assert(top((0L, 1)) == "spark")
    assert(top((1L, 1)) == "kernel")
    assert(top((2L, 1)) == "matrix")
    // rank-2 terms in docs 1/2 are zero-score stopwords, tie-broken by term
    assert(top((1L, 2)) == "and")
  }

  test("capPerGroup: per-source quota keeps top-n by order col, id tie-break") {
    import graft.scale.Curation
    val d = Seq(
      (1L, "a", 5L), (2L, "a", 9L), (3L, "a", 9L), (4L, "a", 1L),
      (5L, "b", 2L), (6L, "b", 3L)
    ).toDF("doc_id", "src", "score")
    val kept = Curation.capPerGroup(d, "src", 2, col("score"))
      .select("src", "rn", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // src a: scores 9,9,5,1 → ids 2 then 3 (tie broken by id), 1 and 4 cut
    assert(kept == Set(("a", 1, 2L), ("a", 2, 3L), ("b", 1, 6L), ("b", 2, 5L)))
  }

  test("connected components: chains merge, islands stay separate") {
    // 1-2-3-4 chain (diameter 3), 7-8 pair, 9-10-11 star
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L),
      (9L, 10L), (9L, 11L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(cc(7L) == 7L && cc(8L) == 7L)
    assert(Seq(9L, 10L, 11L).forall(cc(_) == 9L))
    assert(cc.size == 9)
  }

  test("connected components: a chain deeper than the round budget still " +
      "converges (pointer jumping)") {
    // a 200-node path has diameter 199: plain min-propagation under the
    // 30-round default would have returned silently-unconverged labels;
    // pointer jumping needs ~log2(199) rounds
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Dedup.connectedComponents(chain).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component"))
    assert(cc.length == 200)
    assert(cc.forall(_._2 == 0L),
      s"unconverged labels: ${cc.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connected components: size-gated local union-find == distributed " +
      "star contraction on a random multi-component graph") {
    // r11: below maxLocalEdges the driver union-find answers instead of
    // the distributed fixpoint (pure scheduling overhead on tiny graphs);
    // both paths must label every node with its component MINIMUM.
    // Deterministic pseudo-random edges over 3 planted clusters + noise
    // singles + a self-pair + an id paired only with null + a null pair
    // (a null id is no node).
    val rnd = new scala.util.Random(42)
    val edges = (0 until 120).map { _ =>
      val c = rnd.nextInt(3) * 1000L
      (Option(c + rnd.nextInt(40)), Option(c + rnd.nextInt(40)))
    } ++ Seq((Some(5000L), Some(5000L)), (Some(7000L), None), (None, None))
    val pairs = edges.toDF("a", "b")
    def labels(gate: Long) = Dedup.connectedComponents(pairs, maxLocalEdges = gate)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = labels(2000000L)
    val dist = labels(0L)
    assert(local == dist, s"local/distributed label mismatch: " +
      s"${(local diff dist).take(5)} vs ${(dist diff local).take(5)}")
    assert(local.exists(_ == (5000L, 5000L)), "self-pair singleton kept")
    assert(local.exists(_ == (7000L, 7000L)), "null-paired id kept")
  }

  test("minhash signatures: aggregate-unpivot formulation == the explicit " +
      "per-seed explode") {
    // r11: the signature build computes numHashes min-aggregates in one
    // pass and stacks, instead of exploding the shingle stream numHashes×
    // first; the table must be bit-identical to the direct formulation.
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "tiny")).toDF("doc_id", "text")
    val fast = Dedup.minhashSignatures(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val sh = graft.scale.Shingles.wordShingles(docs, 3, "text", "doc_id")
    val hashed = sh.select(col("doc_id"),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("shingle")), 17, 14), 16, 10).cast("long").as("h2"))
    val ref = hashed.select(col("doc_id"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(15))).as("seed"))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(col("h1") + col("seed") * col("h2")).as("minhash"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fast == ref)
    assert(fast.size == 4 * 16)
  }

  test("connected components: an empty pair set yields an empty labeling") {
    // regression: the convergence checksum read sum(null) with getLong
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    // downstream consumers survive a corpus with no candidates at all
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    assert(Dedup.dropNearDuplicates(docs, empty).count() == 2)
  }

  test("ngram jaccard df cap: stop-shingle pairs dropped, work bounded") {
    // 60 docs all sharing one stop-shingle; pairs exist ONLY through it
    val skewed = (0L until 60L).map(i => (i, s"the quick fox token$i tail$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(skewed, 3, 0.05)
    assert(uncapped.count() == 60L * 59 / 2) // quadratic blowup without cap
    val capped = Dedup.ngramJaccardPairs(skewed, 3, 0.05, maxShingleDf = 10)
    assert(capped.count() == 0) // stop-shingle excluded → no candidate pairs
    // cap must not change found-pair scores: a true near-dup pair under the cap
    val mixed = skewed.union(Seq((100L, "the quick fox token0 tail0"))
      .toDF("doc_id", "text"))
    val p = Dedup.ngramJaccardPairs(mixed, 3, 0.05, maxShingleDf = 10).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(p((0L, 100L)) == 1.0) // identical docs, exact jaccard survives cap
  }

  test("fingerprint: equal docs share sketch; sketch size bounded") {
    val fp = TextOps.fingerprint(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(fp(0L).map(_.getAs[Long]("fingerprint")).toSet ==
      fp(1L).map(_.getAs[Long]("fingerprint")).toSet)
    assert(fp.values.forall(_.length <= 8))
  }

  test("brute-force ann: self-similar vectors rank first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.98f, 0.2f), 0),
      (4L, Array(0.0f, 0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), 2)
      .collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Double]("sim") > 0.99)
    // bucketed variant restricted to label 0 never returns vec 4
    val ivf = Similarity.bucketedTopK(vecs, vecs.filter($"vec_id" === 0L), 4)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!ivf.contains(4L))
  }

  test("cosine near-dup pairs: planted pair found within bucket") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f), 0), (1L, Array(0.99f, 0.11f), 0),
      (2L, Array(-1.0f, 0.5f), 0), (3L, Array(1.0f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosinePairs(vecs, 0.9).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs == Set((0L, 1L))) // cross-bucket (0,3) excluded by design
  }

  test("language id recovers planted languages") {
    val labeled = Seq(
      (0L, "the cat and the dog walk in the park with the children", "en"),
      (1L, "el gato y el perro caminan en el parque con los ninos", "es"),
      (2L, "the house and the garden are near the river and the trees", "en"),
      (3L, "la casa y el jardin estan cerca del rio y los arboles", "es")
    ).toDF("doc_id", "text", "lang")
    val profiles = TextOps.learnLanguageProfiles(labeled, 100)
    val pred = TextOps.languageId(labeled, profiles).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(pred(0L) == "en" && pred(2L) == "en")
    assert(pred(1L) == "es" && pred(3L) == "es")
  }

  test("multimodal stub features are deterministic and schema-complete") {
    val withPayload = docs.select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val f1 = Multimodal.extractFeatures(withPayload).select("doc_id", "features.*")
      .collect().sortBy(_.getAs[Long]("doc_id"))
    val f2 = Multimodal.extractFeatures(withPayload).select("doc_id", "features.*")
      .collect().sortBy(_.getAs[Long]("doc_id"))
    assert(f1.map(_.toSeq).toSeq == f2.map(_.toSeq).toSeq)
    assert(f1.forall(r => r.getAs[Int]("width") >= 640 && r.getAs[Double]("mean_luma") > 0))
  }

  test("kmeans quantizer recovers planted clusters; ivf search stays in-bucket") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(1.1f, -0.1f, 0.0f)), (3L, Array(0.0f, 1.0f, 0.1f)),
      (4L, Array(0.1f, 0.9f, 0.0f)), (5L, Array(-0.1f, 1.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(vecs, k = 2, iterations = 5)
    val assign = Similarity.kmeansAssign(vecs, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(Set(assign(0L), assign(1L), assign(2L)).size == 1, s"x-cluster split: $assign")
    assert(Set(assign(3L), assign(4L), assign(5L)).size == 1, s"y-cluster split: $assign")
    assert(assign(0L) != assign(3L))
    // learned-IVF top-k never crosses buckets at nprobe=1...
    val top = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0L), 5,
      nClusters = 2).collect()
    val neighbors = top.map(_.getAs[Long]("neighbor_id")).toSet
    assert(neighbors == Set(1L, 2L), s"got $neighbors")
    // ...and probing both lists recovers the full candidate set
    val top2 = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0L), 5,
      nClusters = 2, nprobe = 2).collect()
    assert(top2.map(_.getAs[Long]("neighbor_id")).toSet ==
      Set(1L, 2L, 3L, 4L, 5L))
  }

  test("auto cluster policy: k scales with n, sampled fit is a real subset, parity with explicit path") {
    // scaling + floor: the linearity dial -- 10x data => ~10x clusters
    assert(Similarity.autoClusters(10, 512) == 2)
    assert(Similarity.autoClusters(5000, 512) == 10)
    assert(Similarity.autoClusters(50000, 512) == 98)
    assert(Similarity.autoClusters(500000, 512) == 977)
    val rng = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(4)(rng.nextFloat()))).toDF("vec_id", "embedding")
    val k = Similarity.autoClusters(60L, 16) // = 4
    assert(k == 4)
    // modulus m = max(1, 60/(4*5)) = 3 => the fit sees a strict subset,
    // and the sampled centroids differ from the full-corpus fit's
    val cents = Similarity.kmeansFitSampled(vecs, k, 60L, sampleFactor = 5)
    assert(cents.length == k)
    val full = Similarity.kmeansFit(vecs, k)
    assert(!cents.toSeq.map(_.toSeq).equals(full.toSeq.map(_.toSeq)),
      "m=3 sample must not silently degenerate to the full corpus")
    // m <= 1 passthrough: sampled == full fit
    val centsAll = Similarity.kmeansFitSampled(vecs, k, 60L, sampleFactor = 100)
    assert(centsAll.toSeq.map(_.toSeq) == full.toSeq.map(_.toSeq))
    // end-to-end parity: the Auto entry points equal the explicit calls
    // at the same computed k + sampled centroids
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Similarity.semDeDupAuto(vecs, 0.95, targetClusterSize = 16,
        sampleFactor = 5)) ==
      rows(Similarity.semDeDup(vecs, 0.95, k, centroids = Some(cents))))
    assert(rows(Similarity.knnGraphAuto(vecs, 2, targetClusterSize = 16,
        sampleFactor = 5)) ==
      rows(Similarity.knnGraph(vecs, 2, k, centroids = Some(cents))))
  }

  test("cosine pairs block decomposition: identical results, skew spread") {
    val rng = new scala.util.Random(3)
    // one mega-bucket (40 vectors) + a small one
    val vecs = (0L until 40L).map { i =>
      (i, Array(1.0f + rng.nextFloat() * 0.1f, rng.nextFloat() * 0.2f), 0)
    } ++ Seq((100L, Array(0.0f, 1.0f), 1), (101L, Array(0.01f, 1.0f), 1))
    val df = vecs.toDF("vec_id", "embedding", "label")
    def pairs(blocks: Int) =
      Similarity.cosinePairs(df, 0.95, blocks = blocks).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("sim")))
        .toSet
    val plain = pairs(1)
    assert(plain.nonEmpty && plain.exists(p => p._1 == 100L && p._2 == 101L))
    assert(pairs(4) == plain)
  }

  test("cosine pairs star cap: viral bucket emits O(size) hub pairs only") {
    val rng = new scala.util.Random(5)
    // planted viral bucket: 30 near-identical vectors in bucket 0 would
    // clique to 435 pairs; the cap must reduce it to 29 hub pairs while
    // leaving the under-cap bucket's exact clique untouched
    val viral = (0L until 30L).map { i =>
      (i, Array(1.0f + rng.nextFloat() * 0.01f, rng.nextFloat() * 0.01f), 0)
    }
    val smallB = Seq((100L, Array(0.0f, 1.0f), 1), (101L, Array(0.01f, 1.0f), 1),
      (102L, Array(0.0f, 0.99f), 1))
    val df = (viral ++ smallB).toDF("vec_id", "embedding", "label")
    val capped = Similarity.cosinePairs(df, 0.9, maxBucketSize = 10)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val exact = Similarity.cosinePairs(df, 0.9)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // viral bucket: only hub (min id 0) pairs survive the cap
    val cappedViral = capped.filter(_._2 < 100L)
    assert(cappedViral == (1L until 30L).map(b => (0L, b)).toSet)
    // under-cap bucket: identical exact clique in both runs
    assert(capped.filter(_._1 >= 100L) == exact.filter(_._1 >= 100L))
    // downstream clustering unchanged: one component either way
    def comp(p: Set[(Long, Long)]) = Dedup.connectedComponents(
        p.toSeq.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viralNodes = (0L until 30L).toSet
    assert(comp(cappedViral).filter(kv => viralNodes(kv._1)).values.toSet == Set(0L))
    assert(comp(exact.filter(_._2 < 100L)).filter(kv => viralNodes(kv._1)).values.toSet == Set(0L))
  }

  test("lsh buckets: identical vectors share a bucket, orthogonal ones may not") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, -0.3f, 0.8f)),
      (1L, Array(1.0f, 0.2f, -0.3f, 0.8f)),   // identical to 0
      (2L, Array(-1.0f, -0.2f, 0.3f, -0.8f))  // antipodal to 0
    ).toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(vecs, 8).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L)) // antipodal flips every sign bit
    assert((b(0L) ^ b(2L)) == 255L)
  }

  test("bpe-ish tokens split punctuation from word pieces") {
    val toks = Seq((0L, "don't stop, world!")).toDF("doc_id", "text")
      .select(TextOps.bpeishTokens($"text").as("t")).head().getSeq[String](0)
    assert(toks == Seq("don", "'", "t", "stop", ",", "world", "!"))
  }

  test("shingles: k-token windows with clamped tail") {
    val sh = Shingles.wordShingles(Seq((0L, "a b c d")).toDF("doc_id", "text"), 3)
      .collect().map(_.getString(1)).toSeq
    assert(sh == Seq("a b c", "b c d"))
  }

  test("lsh tuning: aligned band splits give monotone candidate counts") {
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint()
    val got = Dedup.lshTuning(sigs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(-_._1)
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((8, 2), (4, 4), (2, 8)))
    // r doubles with aligned boundaries → candidate sets are nested:
    // pairs(2,8) ⊆ pairs(4,4) ⊆ pairs(8,2)
    val counts = got.map(_._3)
    assert(counts.zip(counts.tail).forall { case (hi, lo) => hi >= lo })
    // the exact dup (0,1) survives even the strictest config: identical
    // texts have identical signatures, hence every band matches
    val strict = Dedup.minhashLshPairs(sigs, 2, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(strict.contains((0L, 1L)))
  }

  test("vocab growth counts first occurrences per doc bucket") {
    val d = Seq((0L, "a b c"), (1L, "a b c"), (2L, "x y z"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(d, bucketSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // "a b c" first in doc 0 (bucket 0); "x y z" first in doc 2 (bucket 1)
    assert(got.toSeq == Seq((0L, 1L, 1L), (1L, 1L, 2L)))
  }

  test("prefix-filtered jaccard join equals the brute-force threshold join") {
    // overlapping word soup: enough shared shingles for real pairs,
    // including exact duplicates (i and i+20 share the token recipe)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val docsN = (0 until 40).map { i =>
      val toks = (0 until 12).map(j =>
        words(((i % 20) * 5 + j * (1 + (i % 20) % 3)) % words.length))
      (i.toLong, toks.mkString(" "))
    }
    val d = docsN.toDF("doc_id", "text")
    val got = Dedup.jaccardPrefixPairs(d, 3, 1, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // brute force with identical shingling (1-based slice, min 1 shingle)
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split(" +").toVector
      (1 to math.max(toks.length - 2, 1))
        .map(i => toks.slice(i - 1, i + 2).mkString(" ")).toSet
    }
    val sets = docsN.map { case (id, t) => id -> shingles(t) }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      if inter * 5 >= (sets(a).size + sets(b).size - inter) * 1
    } yield (a, b, inter.toLong, sets(a).size.toLong,
      sets(b).size.toLong)).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("payload-capped verify batches return exactly the single-plan pairs") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val docsN = (0 until 40).map { i =>
      val toks = (0 until 12).map(j =>
        words(((i % 20) * 5 + j * (1 + (i % 20) % 3)) % words.length))
      (i.toLong, toks.mkString(" "))
    }
    val d = docsN.toDF("doc_id", "text")
    def collectPairs() = Dedup.jaccardPrefixPairs(d, 3, 1, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val single = collectPairs()
    // a 1 KB budget forces many sequential batches on this corpus
    graft.util.GraftConfig.setOption("jaccard_verify_batch_bytes", 1024L)
    try {
      val batched = collectPairs()
      assert(single.nonEmpty && batched == single)
    } finally graft.util.GraftConfig.resetOption("jaccard_verify_batch_bytes")
  }

  test("incremental prefix-jaccard == the full run's pairs touching a " +
      "new doc, through a parquet round-trip of the index") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val docsN = (0 until 40).map { i =>
      val toks = (0 until 12).map(j =>
        words(((i % 20) * 5 + j * (1 + (i % 20) % 3)) % words.length))
      (i.toLong, toks.mkString(" "))
    }
    val d = docsN.toDF("doc_id", "text")
    val hist = d.filter($"doc_id" < 30)
    val batch = d.filter($"doc_id" >= 30)
    val (dfTab, idx) = Dedup.jaccardPrefixIndex(hist, 3, 1, 5)
    // day-2 contract: the index is persisted, day 2 reads it back cold
    val tmp = java.nio.file.Files.createTempDirectory("jpidx").toString
    dfTab.write.mode("overwrite").parquet(s"$tmp/df")
    idx.write.mode("overwrite").parquet(s"$tmp/docs")
    val got = Dedup.jaccardPrefixIncremental(batch,
        spark.read.parquet(s"$tmp/df"), spark.read.parquet(s"$tmp/docs"),
        3, 1, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val full = Dedup.jaccardPrefixPairs(d, 3, 1, 5)
      .filter($"a" >= 30 || $"b" >= 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty)
    assert(got == full)
    // and nothing new-free leaks in
    got.foreach { case (a, b, _, _, _) => assert(a >= 30 || b >= 30) }
    // both probe branches produced pairs: new×history and new×new
    assert(got.exists { case (a, _, _, _, _) => a < 30 })
    assert(got.exists { case (a, _, _, _, _) => a >= 30 })
  }

  test("the batch prefix joins and index builds plan no empty history") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    // each batch form is its family's probe or append over an empty
    // index; an unpruned history branch shows as an empty leaf — a
    // local relation without rows or an RDD without partitions
    def emptyLeaves(df: DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().collect {
        case l: LocalRelation if l.data.isEmpty => l.nodeName
        case r: LogicalRDD if r.rdd.partitions.isEmpty => r.nodeName
      }
    val d = Seq((0L, "cold widget x y"), (1L, "bold widget x y"),
      (2L, "ab"), (3L, "ab")).toDF("doc_id", "text")
    val (jDf, jDocs) = Dedup.jaccardPrefixIndex(d, 3, 1, 5)
    val (eDf, eStr, eIds) = Dedup.editDistanceIndex(d, maxDist = 2)
    val plans = Seq(
      "jaccardPrefixPairs" -> Dedup.jaccardPrefixPairs(d, 3, 1, 5),
      "jaccardPrefixIndex.dfTab" -> jDf, "jaccardPrefixIndex.docIndex" -> jDocs,
      "editDistancePairs" -> Dedup.editDistancePairs(d, maxDist = 2),
      "editDistanceIndex.dfTab" -> eDf, "editDistanceIndex.strIndex" -> eStr,
      "editDistanceIndex.idMap" -> eIds)
    for ((name, df) <- plans)
      assert(emptyLeaves(df).isEmpty, s"$name plans an empty history")
    assert(Dedup.editDistancePairs(d, maxDist = 2).count() == 2)
  }

  test("char entropy: exact micro-unit log sums on a hand case") {
    val d = Seq((0L, "aab c")).toDF("doc_id", "text")
    val r = TextOps.charEntropy(d).collect().head
    assert(r.getAs[Long]("n_chars") == 5L)
    assert(r.getAs[Long]("distinct_chars") == 4L) // a, b, space, c
    // only 'a' (count 2) contributes: ln(1) = 0 for the singletons
    assert(r.getAs[Long]("ent_ulog") ==
      2L * math.round(math.log(2) * 1000000))
  }

  test("zipf fit: exact milli-log sums on a hand case") {
    val d = Seq((0L, "a a a b b c", "s")).toDF("doc_id", "text", "source")
    val r = TextOps.zipfFit(d).collect().head
    // ranks (a,b,c) = (1,2,3) with counts (3,2,1):
    // x = round(ln r · 1000) = 0, 693, 1099; y = 1099, 693, 0
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("sum_x") == 1792L)
    assert(r.getAs[Long]("sum_y") == 1792L)
    assert(r.getAs[Long]("sum_xy") == 693L * 693L)
    assert(r.getAs[Long]("sum_x2") == 693L * 693L + 1099L * 1099L)
    assert(r.getAs[Long]("sum_y2") == 693L * 693L + 1099L * 1099L)
  }

  test("source cross-entropy matches the hand-computed 2x2 matrix") {
    val d = Seq((0L, "x x x x", "a"), (1L, "x y", "b"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceCrossEntropy(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // V=2; H(a,a) = ln6 − ln5, H(a,b) = ln4 − ln2, H(b,a) = ln6 − ln5/2,
    // H(b,b) = ln4 − ln2 (hand-derived with add-1 smoothing)
    assert(got(("a", "a")) == 0.1823)
    assert(got(("a", "b")) == 0.6931)
    assert(got(("b", "a")) == 0.987)
    assert(got(("b", "b")) == 0.6931)
  }
}
