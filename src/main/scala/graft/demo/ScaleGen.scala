package graft.demo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 scale-up generator: tiles the sf0.1 driver tables 10× into a
  * target dir so heavy queries can be measured one decade above the
  * bench SF (the "does the plan survive a 10× scale-up" datapoint).
  *
  * Faithful-scaling choices (each avoids fabricating super-linear work
  * that would be a fixture artifact, not a plan property):
  *  - documents: per-tile deterministic token REMAPPING (hash-keyed on
  *    (tile, token), ~50% identity). Shingle equality is preserved
  *    under any per-tile token map, so every tile reproduces sf0.1's
  *    within-tile duplicate/near-dup structure; across tiles the map
  *    decorrelates 3-gram shingles (~12.5% survive), so a document and
  *    its other-tile sibling fall well below the τ=0.2 join thresholds
  *    — pair density per tile stays ~sf0.1 instead of exploding
  *    quadratically with the tile count.
  *  - keys (orders/lineitem/customer/part/supplier/events/users): tile
  *    offsets keep every join consistent and every per-key group size
  *    identical to sf0.1 — 10 disjoint copies of the workload graph.
  *  - embeddings: per-tile component jitter (±0.01) keeps cluster
  *    geometry while separating exact duplicates.
  *  - region/nation: dimensions, single copy.
  *
  * ZIPF MODE (4th arg `zipf`): the per-tile remap above provably cannot
  * grow the vocabulary — every tile draws from sf0.1's token set, so at
  * high tile counts the shingle space saturates and the TRUE near-dup
  * answer grows quadratically with tiles (an output property the x100
  * tiling measured at ×398 rows per ×10 docs, NOTES_r12). A real corpus
  * is not like that: vocabulary grows with corpus size (Heaps' law,
  * V ∝ n^0.5) and token frequencies are Zipfian, so frequent-shingle
  * collisions are exactly what df-caps/prefix filters discard and rare
  * shingles stay rare. Zipf mode remaps EVERY tile's tokens (tile 0
  * included) onto a synthetic token space of V = V0·√nTiles ranks drawn
  * Zipf(s=1) via the log-uniform inverse CDF (rank = ⌊V^u⌋, u =
  * hash(tile, token) uniform): within-tile dup structure is preserved
  * (deterministic per-tile map), cross-tile overlap happens only
  * through the Zipfian head — the realistic regime the "near-linear on
  * a real corpus" claim is about.
  *
  * Usage: ScaleGen [src] [out] [nTiles] [tables|all] [zipf]
  *   tables = comma list (e.g. `documents` or `lineitem`) to generate a
  *   partial dir for targeted scale runs without paying the full tiling.
  */
object ScaleGen {
  val Tiles = 10

  private def remapTokensUdf(vocab: Array[String]) = {
    val v = vocab
    udf((text: String, tile: Int) =>
      if (tile == 0) text
      else {
        val sb = new StringBuilder
        var first = true
        for (t <- text.trim.split(" +")) {
          if (!first) sb.append(' ')
          first = false
          val h = (tile.toString + ":" + t).hashCode
          if ((h & 1) == 0) sb.append(t)
          else sb.append(v(math.floorMod(h >>> 1, v.length)))
        }
        sb.toString
      })
  }

  /** Zipf(s=1) token remap over a vocab of `vTotal` ranks: u uniform in
    * [0,1) from a (tile, token) hash, rank = ⌊vTotal^u⌋ — P(rank=r) ∝
    * 1/r truncated at vTotal (the standard log-uniform inverse CDF). */
  private def zipfRemapUdf(vTotal: Long) = {
    val v = vTotal.toDouble
    udf((text: String, tile: Int) => {
      val sb = new StringBuilder
      var first = true
      for (t <- text.trim.split(" +")) {
        if (!first) sb.append(' ')
        first = false
        val h = scala.util.hashing.MurmurHash3
          .stringHash(tile.toString + ":" + t)
        val u = (h & 0x7fffffff).toDouble / (Int.MaxValue.toDouble + 1)
        val rank = math.max(1L, math.pow(v, u).toLong)
        sb.append('z').append(rank)
      }
      sb.toString
    })
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    // optional third arg: tile count (default 10 = sf1; 100 = the ×100
    // "does the attribution cause extrapolate" tiling)
    val nTiles = args.lift(2).map(_.toInt).getOrElse(Tiles)
    val tableSel: String => Boolean = args.lift(3) match {
      case None | Some("all") => _ => true
      case Some(list)         => list.split(",").toSet
    }
    val zipfMode = args.lift(4).contains("zipf")
    val spark = graft.util.Sessions.local("graft-scalegen", Some(src))
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String) =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    val tiles = spark.range(0, nTiles).select(col("id").cast("int").as("tile"))
    val wanted = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
      .filter(tableSel)

    // dimensions: single copy
    if (tableSel("region")) wr(rd("region"), "region")
    if (tableSel("nation")) wr(rd("nation"), "nation")

    def off(t: String) = rd(t).agg(max(col(t match {
      case "customer" => "c_custkey"; case "orders" => "o_orderkey"
      case "part" => "p_partkey"; case "supplier" => "s_suppkey"
      case _ => sys.error(t)
    })) + 1).head.getLong(0)

    if (tableSel("customer")) wr(rd("customer").crossJoin(tiles)
      .withColumn("c_custkey", col("c_custkey") + col("tile") * off("customer"))
      .drop("tile"), "customer")
    if (tableSel("supplier")) wr(rd("supplier").crossJoin(tiles)
      .withColumn("s_suppkey", col("s_suppkey") + col("tile") * off("supplier"))
      .drop("tile"), "supplier")
    if (tableSel("part")) wr(rd("part").crossJoin(tiles)
      .withColumn("p_partkey", col("p_partkey") + col("tile") * off("part"))
      .drop("tile"), "part")
    if (tableSel("orders")) wr(rd("orders").crossJoin(tiles)
      .withColumn("o_orderkey", col("o_orderkey") + col("tile") * off("orders"))
      .withColumn("o_custkey", col("o_custkey") + col("tile") * off("customer"))
      .drop("tile"), "orders")
    if (tableSel("lineitem")) wr(rd("lineitem").crossJoin(tiles)
      .withColumn("l_orderkey", col("l_orderkey") + col("tile") * off("orders"))
      .withColumn("l_partkey", col("l_partkey") + col("tile") * off("part"))
      .withColumn("l_suppkey", col("l_suppkey") + col("tile") * off("supplier"))
      .drop("tile"), "lineitem")

    if (tableSel("events")) {
      val ev = rd("events")
      val (eOff, uOff) = (ev.agg(max(col("event_id")) + 1).head.getLong(0),
        ev.agg(max(col("user_id")) + 1).head.getLong(0))
      wr(ev.crossJoin(tiles)
        .withColumn("event_id", col("event_id") + col("tile") * eOff)
        .withColumn("user_id", col("user_id") + col("tile") * uOff)
        .withColumn("ts", col("ts") + col("tile") * expr("INTERVAL 1 DAY"))
        .drop("tile"), "events")
    }

    if (tableSel("documents")) {
      val docs = rd("documents")
      val dOff = docs.agg(max(col("doc_id")) + 1).head.getLong(0)
      val v0 = docs.select(explode(split(trim(col("text")), " +")))
        .distinct().count()
      val remap = if (zipfMode) {
        val vTotal = math.max(v0, math.round(v0 * math.sqrt(nTiles.toDouble)))
        println(s"[scalegen] zipf mode: V0=$v0 -> V=$vTotal ranks " +
          s"(Heaps beta=0.5 at $nTiles tiles)")
        zipfRemapUdf(vTotal)
      } else {
        val vocab = docs.select(explode(split(trim(col("text")), " +")))
          .distinct().collect().map(_.getString(0)).sorted
        println(s"[scalegen] doc vocab: ${vocab.length} tokens")
        remapTokensUdf(vocab)
      }
      wr(docs.crossJoin(tiles)
        .withColumn("doc_id", col("doc_id") + col("tile") * dOff)
        .withColumn("text", remap(col("text"), col("tile")))
        .withColumn("n_chars", length(col("text")))
        .drop("tile"), "documents")
    }

    if (tableSel("embeddings")) {
      val emb = rd("embeddings")
      val vOff = emb.agg(max(col("vec_id")) + 1).head.getLong(0)
      wr(emb.crossJoin(tiles)
        .withColumn("vec_id", col("vec_id") + col("tile") * vOff)
        .withColumn("embedding", transform(col("embedding"), (x, i) =>
          (x + (pmod(hash(col("tile"), col("vec_id"), i), lit(21)) - 10)
            .cast("float") * lit(0.001f)).cast("float")))
        .drop("tile"), "embeddings")
    }

    for (t <- wanted)
      println(s"[scalegen] $t: " +
        spark.read.parquet(s"$out/$t.parquet").count())
    spark.stop()
  }
}

/** Times a named subset of SparkEntry queries on one sf dir: one cold
  * run (pays memoized artifacts) + two warm runs, reports the warm
  * median pair — the 10×-scale-up companion of graft.Bench.
  *
  * Two modes:
  *  - `ScaleBench <dir> q1,q2,...` — the original hand-picked list.
  *  - `ScaleBench <dir> --heaviest [n]` — the per-round scaling sweep:
  *    reads the last bench_full.json (the sf0.1 sweep this session or
  *    the committed one), picks the n (default 20) heaviest registry
  *    queries by in-sweep median, runs them at `dir` (sf1), and emits
  *    a markdown scaling table (sf0.1 s, sf1 warm s, ratio) ready to
  *    paste into the round NOTES, plus a scale_sf1.json machine dump.
  *    `tools/scale_sweep.sh` wires ScaleGen + this mode end to end.
  *
  * Known output-bound fixtures are excluded from --heaviest: the
  * edit-distance family's TRUE output grows quadratically under tiling
  * (the 64-value part-name vocabulary is replicated, ~500 M pairs at
  * 200 k rows) — a fixture property, not a plan property (NOTES_r9). */
object ScaleBench {
  /** sf1-tiling replicates these fixtures' small value vocabulary, so
    * their true result cardinality is quadratic in the tile count —
    * running them at sf1 measures output size, not the plan. */
  private[graft] val outputBoundAtSf1 = Set(
    "fuzzy_exact", "fuzzy_link", "fuzzy_exact_incr", "fuzzy_link_incr",
    "fuzzy_names", "fuzzy_sorted")

  /** `--gate` mode: re-evaluate the attribution gate from an existing
    * scale_sf1.json + bench-independent attribution file, no Spark —
    * so fixing an attribution line doesn't cost a 40-minute re-sweep. */
  private def gateOnly(): Unit = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scale_sf1.json")), "UTF-8")
    val row = """"([^"]+)":\{"sf01":([0-9.eE+-]+),"sf1":([0-9.eE+-]+)\}""".r
    val out = row.findAllMatchIn(txt)
      .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble)).toSeq
    val attrib = readAttrib()
    val over = out.collect {
      case (n, b, w) if b > 0.05 && w / b > 10 => (n, w / b)
    }
    over.foreach { case (n, r) =>
      attrib.get(n) match {
        case Some(why) =>
          println(f"[scale-gate] attributed   $n%-24s $r%5.1fx — $why")
        case None =>
          System.err.println(f"[scale-gate] FAIL $n%-24s $r%5.1fx sf0.1→sf1 " +
            "without attribution — measure the cause and add a line to " +
            "tools/scale_attribution.tsv")
      }
    }
    if (over.exists { case (n, _) => !attrib.contains(n) }) sys.exit(1)
    else println("[scale-gate] OK: every >10x row is attributed")
  }

  private def readAttrib(): Map[String, String] =
    try {
      val src = scala.io.Source.fromFile("tools/scale_attribution.tsv")
      try src.getLines()
        .filterNot(l => l.isEmpty || l.startsWith("#"))
        .flatMap { l => l.split("\t", 2) match {
          case Array(q, r) => Some(q -> r); case _ => None } }
        .toMap
      finally src.close()
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--gate")) { gateOnly(); return }
    val dir = args(0)
    // shuffle parallelism follows input size (Sessions' derivation): at
    // x100 it grows like a production conf would — the fix for the
    // graph_kcore x100 per-task spill at a fixed count (NOTES_r12)
    val spark = graft.util.Sessions.local("graft-scalebench", Some(dir))
    // SCALEBENCH_PARTS overrides the derivation — the knob for fixtures
    // whose INTERMEDIATE volume dwarfs their input bytes (a doc-only dir
    // whose candidate explode is 1000x its parquet size), same as a
    // production conf sizing shuffle partitions to the hot exchange
    sys.env.get("SCALEBENCH_PARTS").foreach(
      spark.conf.set("spark.sql.shuffle.partitions", _))
    println("[scalebench] shuffle partitions: " +
      spark.conf.get("spark.sql.shuffle.partitions"))
    // single-box payload cap for the exact-Jaccard verify stage (the
    // x100 local-disk bound; see GraftConfig's key scaladoc) — set e.g.
    // GRAFT_JACCARD_BATCH_BYTES=30000000000 for a 30 GB in-flight cap
    sys.env.get("GRAFT_JACCARD_BATCH_BYTES").foreach { b =>
      graft.util.GraftConfig.setOption("jaccard_verify_batch_bytes", b.toLong)
      println(s"[scalebench] jaccard verify batch bytes: $b")
    }
    val heaviest = args(1) == "--heaviest"
    val baseline: Map[String, Double] =
      if (heaviest) graft.Bench.previousMedians() else Map.empty
    val names: Seq[String] =
      if (heaviest) {
        require(baseline.nonEmpty,
          "--heaviest needs a bench_full.json in the working directory")
        val n = args.lift(2).map(_.toInt).getOrElse(20)
        baseline.toSeq.sortBy(-_._2)
          .collect { case (q, _) if !outputBoundAtSf1(q)
            && graft.SparkEntry.queries.contains(q) => q }
          .take(n)
      } else args(1).split(",").toSeq
    // SCALEBENCH_RUNS=2 → one cold + one warm (the x100 tiling, where a
    // third run buys nothing but wall-clock); default cold + 2 warm
    val nRuns = sys.env.getOrElse("SCALEBENCH_RUNS", "3").toInt max 2
    val rowCounts = scala.collection.mutable.Map[String, Long]()
    val out = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      def run(): Double = {
        val t0 = System.nanoTime()
        rowCounts(n) = fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run()
      val warms = (1 until nRuns).map(_ => run())
      val warm = warms.sum / warms.size
      println(f"[scalebench] $n%-24s cold $cold%7.2f  warm $warm%7.2f  " +
        f"rows ${rowCounts(n)}%d")
      n -> warm
    }
    if (heaviest) {
      println("\n| query | sf0.1 s | sf1 warm s | ratio |")
      println("|---|---|---|---|")
      for ((n, w) <- out.sortBy { case (q, w) => -(w / baseline(q)) })
        println(f"| $n | ${baseline(n)}%.2f | $w%.2f | ${w / baseline(n)}%.1fx |")
      val js = "{" + out.map { case (k, v) =>
        "\"" + k + f"""\":{"sf01":${baseline(k)}%.3f,"sf1":$v%.3f}""" }
        .mkString(",") + "}"
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("scale_sf1.json"), (js + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[scalebench] dump failed: ${e.getMessage}") }
    }
    println("{" + out.map { case (k, v) =>
      "\"" + k + f"""\":{"secs":$v%.3f,"rows":${rowCounts(k)}%d}""" }
      .mkString(",") + "}")
    spark.stop()
    // Scale GATE (round 8): a >10x sf0.1→sf1 row is only acceptable when
    // its cause is on record — tools/scale_attribution.tsv carries one
    // `query<TAB>measured cause` line per known super-linear row (fixture
    // vocabulary output growth, linear-in-bytes IO, ...). A new >10x row
    // without a line fails the sweep, so scale regressions cannot land
    // silently between rounds.
    if (heaviest) {
      val attrib = readAttrib()
      val over = out.collect {
        case (n, w) if baseline.get(n).exists(b => b > 0.05 && w / b > 10) =>
          (n, w / baseline(n))
      }
      val unattributed = over.filterNot { case (n, _) => attrib.contains(n) }
      over.foreach { case (n, r) =>
        attrib.get(n).foreach(why =>
          println(f"[scale-gate] attributed   $n%-24s $r%5.1fx — $why")) }
      if (unattributed.nonEmpty) {
        unattributed.foreach { case (n, r) =>
          System.err.println(f"[scale-gate] FAIL $n%-24s $r%5.1fx sf0.1→sf1 " +
            "without attribution — measure the cause and add a line to " +
            "tools/scale_attribution.tsv") }
        sys.exit(1)
      } else println("[scale-gate] OK: every >10x row is attributed")
    }
  }
}
