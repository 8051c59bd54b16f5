package graft.examples

import graft.model.Trace

/** Minimal end-to-end example: load a CSV trace, enrich it, print the core
  * analyses. Usage: runMain graft.examples.Demo <trace.csv> */
object Demo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(sys.error("usage: Demo <trace.csv>"))
    val spark = graft.util.Sessions.local("graft-demo")

    val f = new java.io.File(path)
    val trace0 =
      if (f.isDirectory && f.listFiles().exists(_.getName.endsWith(".otf2")))
        Trace.fromOtf2(spark, path)
      else if (f.isDirectory && f.listFiles().exists(_.getName.endsWith(".sts")))
        Trace.fromProjections(spark, path)
      else if (f.isDirectory && new java.io.File(f, "meta.db").isFile)
        Trace.fromHpctoolkit(spark, path)
      else Trace.fromCsv(spark, path)
    if (args.contains("--stream")) {
      // live Structured Streaming drive: replay the trace through a file
      // source and match it incrementally
      val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
      trace0.events.write.mode("overwrite").json(dir)
      val streamed = spark.readStream.schema(trace0.events.schema)
        .option("maxFilesPerTrigger", "1").json(dir)
      val q = graft.streaming.StreamingMatcher.completedCalls(streamed)
        .writeStream.format("memory").queryName("live_calls")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      println("=== streaming matcher: completed calls ===")
      spark.table("live_calls").orderBy("process", "enter_ts").show(50, truncate = false)
      spark.stop(); return
    }

    // optional canonical-Parquet round trip (the converter landing path)
    val trace =
      if (args.contains("--parquet")) {
        val dir = java.nio.file.Files.createTempDirectory("graft-demo-pq").toString
        graft.ingest.ParquetTraceIO.write(trace0.events, dir)
        println(s"=== round-tripped through canonical parquet at $dir ===")
        Trace.fromParquet(spark, dir).enriched
      } else trace0.enriched
    println("=== events (enriched) ===")
    trace.events.orderBy("process", "timestamp_ns").show(50, truncate = false)
    println("=== flat profile (time_exc, mean over processes) ===")
    trace.flatProfile().orderBy("name").show(false)
    println("=== load imbalance (time_inc) ===")
    trace.loadImbalance("time_inc").show(false)
    println("=== idle time ===")
    trace.idleTime().orderBy("process").show(false)
    println("=== time profile (5 bins) ===")
    trace.timeProfile(5).orderBy("bin", "name").show(100, truncate = false)
    println("=== CCT ===")
    val withCct = trace.createCct()
    withCct.cct.get.orderBy("node_id").show(false)
    println("=== chrome projection ===")
    trace.chromeProjection.show(5, truncate = false)
    if (trace.events.columns.contains(graft.model.Schemas.Attributes)) {
      // demonstrate map-bag → typed-column promotion feeding the comm ops
      import graft.model.Schemas._
      val bagOnly = trace.events.drop(AttrReceiver, AttrMsgLength, AttrFromPe, AttrSendTime)
      val promoted = graft.enrich.AttrPromote.promoteCommAttrs(bagOnly)
      println("=== comm matrix (promoted from attributes bag) ===")
      graft.analysis.CommOps.commMatrix(promoted).orderBy("sender", "receiver").show(false)
    }
    spark.stop()
  }
}
