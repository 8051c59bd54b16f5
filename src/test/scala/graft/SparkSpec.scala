package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def resourcePath(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** `body` with `matcher_mode=bounded`. */
  def boundedMatcher[T](body: => T): T = {
    graft.util.GraftConfig.setOption("matcher_mode", "bounded")
    try body finally graft.util.GraftConfig.resetOption("matcher_mode")
  }

  /** Spark jobs started by `body`, counted by a listener on its own job
    * group. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("measured", "measured")
      body
      // the bus delivers in order: once the fence job is seen, so is every
      // measured one
      sc.setJobGroup("fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 60000000000L
      while (!groups.contains("fence") && System.nanoTime < deadline) java.lang.Thread.sleep(10)
      assert(groups.contains("fence"), "listener never saw the fence job")
      groups.toArray.count(_ == "measured")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
