package graft.demo

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Dev tool: time individual registry queries in isolation, in the same
  * session as [[graft.Bench]] ([[graft.util.Sessions]]), without paying
  * a full 317-query sweep.
  *
  *   sbt "runMain graft.demo.TimeQ <sfDir> <nRuns> name1,name2,..."
  *
  * Prints per-run seconds, the median, executor CPU, shuffle bytes, the
  * completed-stage, shuffle-writing-stage and plan-exchange counts and
  * the result's row count per query. Artifacts shared via the SparkEntry memoization layer build
  * inside run 1 exactly like bench sweep 1; the per-artifact build
  * seconds print at the end so a "query"
  * number can be split into artifact vs query cost. */
object TimeQ {
  /** Exchange nodes in a physical plan as planned before adaptive
    * execution, subqueries included. Unlike the completed-stage count,
    * which also counts broadcast-collect jobs, it is fixed for a fixed
    * plan. A sub-plan bridged through an RDD (the buffered matcher, a
    * reader's dense ids) is a leaf scan here, so its exchanges do not
    * count; `shuffle_stages`, the stages that wrote shuffle bytes, sees
    * them. */
  private def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
    case p =>
      (if (p.isInstanceOf[Exchange]) 1 else 0) +
        (p.children ++ p.subqueries).map(exchanges).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args(2).split(",").toSeq
    val spark = graft.util.Sessions.local("graft-timeq", Some(sfDir))
    // per-stage metrics listener: the headless stand-in for the UI's
    // stage table (guide §7.1). The box this round runs on shows heavy
    // hypervisor CPU STEAL (measured: steal ≈ 2× user under load), so
    // wall medians swing 5-10×; executorCpuTime (actual on-CPU ns) and
    // shuffle bytes are the steal-immune comparison metrics.
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val shufB = new java.util.concurrent.atomic.AtomicLong()
    val nStages = new java.util.concurrent.atomic.AtomicLong()
    val nShufStages = new java.util.concurrent.atomic.AtomicLong()
    val verbose = sys.env.get("TIMEQ_STAGES").contains("1")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          cpuNs.addAndGet(m.executorCpuTime)
          shufB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          nStages.incrementAndGet()
          if (m.shuffleWriteMetrics.bytesWritten > 0) nShufStages.incrementAndGet()
          val dur = (for (s <- si.submissionTime; e <- si.completionTime)
            yield (e - s) / 1000.0).getOrElse(-1.0)
          if (verbose)
            stages.add(f"[stage] id=${si.stageId}%4d dur=$dur%6.2fs tasks=${si.numTasks}%4d " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2fs gc=${m.jvmGCTime / 1000.0}%5.2fs " +
              f"srB=${m.shuffleReadMetrics.totalBytesRead}%10d swB=${m.shuffleWriteMetrics.bytesWritten}%10d " +
              f"inB=${m.inputMetrics.bytesRead}%10d  ${si.name.takeWhile(_ != '\n').take(70)}")
        }
      })
    // TIMEQ_INTERLEAVE=1 reproduces the bench's sweep shape: run the
    // whole name list round-robin n times (every visit to a query is
    // separated by all the others — a cold codegen cache if the list is
    // long), instead of n back-to-back runs per name (warm cache).
    val interleave = sys.env.get("TIMEQ_INTERLEAVE").contains("1")
    def timeOne(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                i: Int): (Double, Double, Long, Long, Long, Long) = {
      spark.sparkContext.setJobDescription(s"$name run$i")
      if (verbose && i == n) stages.clear()
      val (c0, b0, s0, w0) = (cpuNs.get, shufB.get, nStages.get, nShufStages.get)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let stage-completed events drain
      (wall, (cpuNs.get - c0) / 1e9, shufB.get - b0, nStages.get - s0,
        nShufStages.get - w0, rows)
    }
    val sweepStats: Map[String, Seq[(Double, Double, Long, Long, Long, Long)]] =
      if (interleave)
        (1 to n).flatMap(i => names.map(name =>
          name -> timeOne(name, graft.SparkEntry.queries(name), i)))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      else Map.empty
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val stats =
        if (interleave) sweepStats(name)
        else (1 to n).map(i => timeOne(name, fn, i))
      val ts = stats.map(_._1)
      val med = ts.sorted.apply(ts.size / 2)
      val cpuMed = stats.map(_._2).sorted.apply(n / 2)
      val last = stats.last
      val nEx = exchanges(fn(spark, sfDir).queryExecution.executedPlan)
      println(f"[timeq] $name%-28s median=$med%7.3f cpuMed=$cpuMed%7.3f " +
        f"shufB=${last._3}%10d stages=${last._4}%3d shuffle_stages=${last._5}%3d " +
        f"exchanges=$nEx%3d rows=${last._6}%d runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      if (verbose) stages.forEach(s => println(s"[timeq] $name $s"))
    }
    val arts = graft.SparkEntry.artifactBreakdown(spark).toSeq.sortBy(-_._2)
    arts.foreach { case (k, v) => println(f"[timeq] artifact $k%-28s $v%7.3f") }
    spark.stop()
  }
}
