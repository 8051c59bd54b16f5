package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level counters, summed over the whole application and per Spark
  * job group. A layer call runs in its own job group, so its counters are
  * attributed to its span exactly instead of by time window. */
final class Counters {
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  def add(shuffle: Long, spill: Long): Unit = {
    shuffleBytes.addAndGet(shuffle); spillBytes.addAndGet(spill); tasks.incrementAndGet()
  }
}

final class Meter extends SparkListener {
  val total = new Counters
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def group(id: String): Counters = groups.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageInfos.foreach(s => stageGroup.put(s.stageId, id)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      total.add(shuffle, spill)
      Option(stageGroup.get(e.stageId)).foreach(group(_).add(shuffle, spill))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(group(_).stages.incrementAndGet())
  }
}

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the benchmark JVM less its JIT compiler threads: the
    * driver, executor, Spark service and GC threads, live or ended. JIT
    * compilation is still settling during the timed repetitions and would
    * otherwise dominate the run-to-run spread. Where per-thread times are
    * not readable (no /proc), the whole process CPU time. */
  def cpuNs: Long = os.getProcessCpuTime - compilerThreadsCpuNs

  private val tickNs = 10000000L // USER_HZ = 100
  /** CPU of the JIT compiler threads, from /proc/self/task. These threads
    * live as long as the JVM (`-XX:-UseDynamicNumberOfCompilerThreads`),
    * so none of their time is lost. */
  private def compilerThreadsCpuNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) return 0L
    tasks.iterator.map { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          // fields after the ")": state is field 3; utime, stime are 14, 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * tickNs
        }
      } catch { case _: java.io.IOException => 0L } // thread ended meanwhile
    }.sum
  }
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def mb(bytes: Long): Double = bytes / 1e6
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Memory plus disk bytes of every persisted block. */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** One traced layer call. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, cpuNs: Long, shuffleBytes: Long,
                      spillBytes: Long, stages: Long, tasks: Long)

/** Records one span around each layer call of a traced run. Spans stay in
  * memory and are written as one JSON file at the end. */
final class Tracer(sc: SparkContext, meter: Meter, val runId: String) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var lastId = 0

  def span[A](name: String)(body: => A): A = {
    lastId += 1
    val id = lastId
    val parent = stack.head
    val groupId = s"$runId/$id"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(groupId, name)
    stack = id :: stack
    val cpu0 = Meter.cpuNs
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val cpu1 = Meter.cpuNs
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      org.apache.spark.graftbench.Probe.drain(sc)
      val c = meter.group(groupId)
      spans += Span(id, parent, name, t0, t1, cpu1 - cpu0, c.shuffleBytes.get,
        c.spillBytes.get, c.stages.get, c.tasks.get)
    }
  }

  /** Per-layer metrics of the named spans: `<name>.s`, `.cpu_s`,
    * `.shuffle_mb`, `.spill_mb`, `.stages`. A nested layer's job group
    * holds only its own jobs, so counters are self counters; times are
    * the span's wall and CPU time. */
  def metrics: Map[String, Double] = spans.flatMap { s =>
    Seq(s"${s.name}.s" -> (s.endNs - s.startNs) / 1e9,
      s"${s.name}.cpu_s" -> s.cpuNs / 1e9,
      s"${s.name}.shuffle_mb" -> Meter.mb(s.shuffleBytes),
      s"${s.name}.spill_mb" -> Meter.mb(s.spillBytes),
      s"${s.name}.stages" -> s.stages.toDouble)
  }.toMap

  def json: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${if (s.parent < 0) "null" else s.parent},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""cpu_ns":${s.cpuNs},"shuffle_bytes":${s.shuffleBytes},""" +
      s""""spill_bytes":${s.spillBytes},"stages":${s.stages},"tasks":${s.tasks}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
