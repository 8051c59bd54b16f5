package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness. Usage:
  * {{{
  * graftbench.Main --workload <otf2_load|trace_ops|selftest|train>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *   [--warmups <n>] [--reps <n>]
  * }}}
  * Untraced (`--trace 0`): set-up, untimed warm-ups, then a fixed number
  * of timed repetitions (`Workload.timedReps`); prints the end-to-end
  * metrics (medians over the timed repetitions). Traced (`--trace 1`):
  * the same set-up and warm-ups, then one repetition with a span around each layer call;
  * prints the per-layer metrics and writes the spans to
  * `<out>/spans.json`. The last line of stdout is `RESULT <json>`.
  * `train` runs the set-up and one round of every workload, unmeasured:
  * the build runs it once to record the class-data-sharing archive that
  * every measured JVM starts from.
  * `--warmups` and `--reps` override the workload's counts, to measure
  * where repetition times level off. */
object Main {
  /** Fixed engine shape: results must not depend on the machine. */
  val Cores = 2
  val ShufflePartitions = 4
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    if (workload == "selftest") { SelfTest.main(Array.empty); return }
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "1").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val workDir = opt("work")
    val outDir = opt("out")
    Files.createDirectories(Paths.get(outDir))

    def log(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - Meter.jvmStartMs) / 1e3}%.2f s: $what")
    log("harness started")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // the same two settings graft.Bench runs the registry under
      .config("spark.rdd.compress", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    def drain(): Unit = org.apache.spark.graftbench.Probe.drain(sc)

    val runId = s"$workload-$seed-${Meter.jvmStartMs}"
    val tracer = if (traced) Some(new Tracer(sc, meter, runId)) else None
    def make(name: String): Workload = name match {
      case "otf2_load" => new Otf2Load(spark, seed, workDir)
      case "trace_ops" => new TraceOps(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "train") {
      for (name <- Seq("otf2_load", "trace_ops")) {
        val w = make(name)
        w.setup(None); w.rep(None); w.release()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        log(s"trained on $name")
      }
      spark.stop()
      return
    }
    val wl = make(workload)

    var attempted = 0L
    var failed = 0L
    wl.setup(tracer)
    log("set-up done")
    // anything persisted from here on belongs to one repetition and is
    // released before the next, so every repetition starts from the
    // same storage state
    val baseline = sc.getPersistentRDDs.keySet
    def release(): Unit = {
      wl.release()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline.contains(id)) rdd.unpersist(blocking = true)
      }
    }
    /** One round: release the previous round's storage, run, check.
      * Returns its wall seconds, CPU seconds (`Meter.cpuNs`) and shuffle MB. */
    def round(tr: Option[Tracer], last: Boolean): (Double, Double, Double) = {
      release()
      // collect the previous round's garbage now, so that neither a
      // collection nor Spark's cleaning of the shuffles and broadcasts it
      // held falls into this round at a random point
      System.gc()
      Thread.sleep(100)
      drain()
      val sh0 = meter.total.shuffleBytes.get
      val c0 = Meter.cpuNs
      val t0 = System.nanoTime()
      tr.fold(wl.rep(None))(_.span("rep")(wl.rep(tr)))
      val t1 = System.nanoTime()
      val c1 = Meter.cpuNs
      drain()
      val bad = wl.check(last)
      bad.foreach(op => System.err.println(s"[perfbench] check failed: $op"))
      attempted += wl.ops.size
      failed += bad.size
      ((t1 - t0) / 1e9, (c1 - c0) / 1e9, Meter.mb(meter.total.shuffleBytes.get - sh0))
    }

    val nWarm = opt.get("warmups").fold(wl.warmups)(_.toInt)
    val warm = (1 to nWarm).map(_ => round(None, last = false)._1)
    val setupS = (System.currentTimeMillis() - Meter.jvmStartMs) / 1e3

    val metrics: Seq[(String, Double)] = tracer match {
      case None =>
        // the count depends on `--seconds` and the workload only, never on
        // how fast the rounds run, so every commit's median is taken over
        // the same rounds of the warm-up curve
        val nReps = opt.get("reps").fold(wl.timedReps(seconds))(_.toInt)
        val reps = (1 to nReps).map(i => round(None, last = i == nReps))
        def fmt(xs: Seq[Double]) = xs.map(v => f"$v%.3f").mkString(" ")
        System.err.println(s"[perfbench] warm-up s: ${fmt(warm)}; timed s: ${fmt(reps.map(_._1).toSeq)}")
        Seq("setup_s" -> setupS,
          "answer_s" -> Meter.median(reps.map(_._1).toSeq),
          "cpu_s" -> Meter.median(reps.map(_._2).toSeq),
          "shuffle_mb" -> Meter.median(reps.map(_._3).toSeq),
          "cached_mb" -> Meter.mb(Meter.cachedBytes(sc)))
      case Some(tr) =>
        val gc0 = Meter.gcMs
        val st0 = meter.total.stages.get
        val tk0 = meter.total.tasks.get
        round(tracer, last = true)
        Files.writeString(Paths.get(s"$outDir/spans.json"), tr.json)
        tr.metrics.toSeq ++ Seq(
          "enrich.persist_mb" -> wl.enrichPersistMb,
          "spark.gc_s" -> (Meter.gcMs - gc0) / 1e3,
          "spark.stages" -> (meter.total.stages.get - st0).toDouble,
          "spark.tasks" -> (meter.total.tasks.get - tk0).toDouble)
    }
    val ms = metrics.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    spark.stop()
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
  }
}
