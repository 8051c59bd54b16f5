package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.{CommOps, CriticalPath, Profiles, TimeProfile, PatternDetect}
import graft.cct.Cct
import graft.enrich.{EventMatcher, Metrics}
import graft.ingest.{ChromeWriter, CsvReader, HpctoolkitReader, NsightReader, Otf2Reader, Otf2Writer, ParquetTraceIO, ProjectionsReader}

/** User-facing trace container + method surface, mirroring the reference's
  * `Trace` API (pipit/trace.py:11; pipit/__init__.py:6-7 exports `Trace`).
  *
  * Thin immutable wrapper over DataFrames: every operator returns a
  * DataFrame (long-form) or a new enriched Trace. The reference memoizes
  * derived columns in place (trace.py:111,202,...); here enrichment is
  * column-presence-idempotent and `enriched` returns a new Trace whose
  * events carry the derived columns — `.persist()` it (or write to Parquet)
  * when running several analyses, exactly where the reference relies on
  * in-place mutation.
  */
case class Trace(events: DataFrame, definitions: Option[DataFrame] = None,
                 cct: Option[DataFrame] = None) {

  /** Register the trace tables as temp views (`<prefix>_events`,
    * `<prefix>_definitions`, `<prefix>_cct`) so the whole dataset is
    * reachable from `spark.sql` — with [[graft.functions.GraftSql]]
    * registered, SQL-only users get the full engine surface. */
  def createOrReplaceViews(prefix: String = "trace"): Unit = {
    events.createOrReplaceTempView(s"${prefix}_events")
    definitions.foreach(_.createOrReplaceTempView(s"${prefix}_definitions"))
    cct.foreach(_.createOrReplaceTempView(s"${prefix}_cct"))
  }

  // ---- enrichment (M1/M2/M3/M4) ----
  def matchEvents(): Trace = copy(events = EventMatcher.enrich(events))
  def calcIncMetrics(columns: Seq[String] = null): Trace =
    copy(events = Metrics.calcIncMetrics(events, columns))
  def calcExcMetrics(columns: Seq[String] = null): Trace =
    copy(events = Metrics.calcExcMetrics(events, columns))
  def enriched: Trace = calcExcMetrics(Seq(Schemas.TimestampNs))

  // ---- CCT (M5) ----
  def createCct(): Trace = {
    val c = Cct.buildCct(events)
    copy(events = Cct.withNodeIds(events, c), cct = Some(c))
  }

  // ---- analyses (A1–A10) ----
  def commMatrix(output: String = "size"): DataFrame = CommOps.commMatrix(events, output)
  def commMatrixDense(output: String = "size"): Array[Array[Long]] =
    CommOps.commMatrixDense(events, output)
  def messageHistogram(bins: Int = 20): DataFrame = CommOps.messageHistogram(events, bins)
  def commOverTime(output: String = "size", messageType: String = "send",
                   bins: Int = 50): DataFrame =
    CommOps.commOverTime(events, output, messageType, bins)
  def commMatrixOverTime(output: String = "size", bins: Int = 20): DataFrame =
    CommOps.commMatrixOverTime(events, output, bins)
  def commByProcess(output: String = "size"): DataFrame =
    CommOps.commByProcess(events, output)
  def commStructure(bins: Int = 20): DataFrame =
    CommOps.commStructure(events, bins)
  def flatProfile(metrics: Seq[String] = Seq(Schemas.TimeExc),
                  groupCol: String = Schemas.Name,
                  perProcess: Boolean = false): DataFrame =
    Profiles.flatProfile(events, metrics, groupCol, perProcess)
  def loadImbalance(metric: String = Schemas.TimeExc, numProcesses: Int = 1): DataFrame =
    Profiles.loadImbalance(events, metric, numProcesses)
  def idleTime(idleFunctions: Seq[String] = Seq("Idle"),
               mpiEvents: Boolean = false): DataFrame =
    Profiles.idleTime(events, idleFunctions, mpiEvents)
  def idleGaps(minGapNs: Long = 0L): DataFrame =
    Profiles.idleGaps(events, minGapNs)
  def timeProfile(numBins: Int = 50, normalized: Boolean = false): DataFrame =
    TimeProfile.timeProfile(events, numBins, normalized)
  def detectPattern(startEvent: String, iterations: Option[Int] = None,
                    windowSize: Option[Int] = None, process: Int = 0,
                    metric: String = Schemas.TimeExc): Seq[DataFrame] =
    PatternDetect.detectPattern(events, startEvent, iterations, windowSize, process, metric)

  // ---- sinks ----
  def cctRollup(): DataFrame = Cct.subtreeRollup(events)
  def callersProfile(): DataFrame = Profiles.callersProfile(events)
  def matchMessages(): DataFrame = CommOps.matchMessages(events)
  def commWait(): DataFrame = CommOps.commWait(events)
  def waitClasses(): DataFrame = CommOps.waitClasses(events)
  def commUnmatched(): DataFrame = CommOps.commUnmatched(events)
  def stallChain(maxRounds: Int = 40): DataFrame =
    CriticalPath.stallChain(events, maxRounds)
  def criticalPath(maxRounds: Int = 40): DataFrame =
    CriticalPath.criticalPath(events, maxRounds)
  def binnedBusy(numBins: Int = 50): DataFrame =
    Profiles.binnedBusy(events, numBins)
  def timeImbalance(numBins: Int = 50): DataFrame =
    Profiles.timeImbalance(events, numBins)

  def toChrome(path: String): Unit = ChromeWriter.write(events, path)
  def chromeProjection: DataFrame = ChromeWriter.project(events)
  /** Export as an OTF2 archive ([[graft.ingest.Otf2Writer]]); returns
    * (locations, events written, rows dropped as un-encodable). */
  def toOtf2(dir: String): (Long, Long, Long) = Otf2Writer.save(events, dir)
}

object Trace {
  // The reference's `num_processes` reader knob (worker-pool sizing,
  // otf2_reader.py:436-455) has no analogue here: read parallelism is
  // Spark input partitioning (one task per PE/trace line; the OTF2 reader
  // runs spark.sql.shuffle.partitions tasks, each decoding the locations
  // that hash to it, see Otf2Reader's "Spark shape") and is governed by
  // the cluster, not the API. `createCct` is kept for signature parity
  // (trace.py:38-62).
  def fromCsv(spark: SparkSession, path: String): Trace =
    Trace(CsvReader.read(spark, path))
  def fromNsight(spark: SparkSession, path: String,
                 createCct: Boolean = false): Trace =
    withCct(Trace(NsightReader.read(spark, path)), createCct)
  def fromIntervals(intervals: DataFrame): Trace =
    Trace(NsightReader.fromIntervals(intervals))
  def fromProjections(spark: SparkSession, dir: String,
                      createCct: Boolean = false): Trace =
    withCct(Trace(ProjectionsReader.read(spark, dir)), createCct)
  def fromOtf2(spark: SparkSession, dir: String,
               createCct: Boolean = false): Trace =
    withCct(Trace(Otf2Reader.read(spark, dir),
      definitions = Some(Otf2Reader.definitions(spark, dir))), createCct)

  private def withCct(t: Trace, createCct: Boolean): Trace =
    if (createCct) t.createCct() else t
  def fromHpctoolkit(spark: SparkSession, dir: String): Trace =
    Trace(HpctoolkitReader.read(spark, dir))
  /** Canonical-Parquet ingest — the landing path for offline converters
    * (e.g. OTF2→Parquet; see [[graft.ingest.ParquetTraceIO]]). */
  def fromParquet(spark: SparkSession, path: String): Trace =
    Trace(ParquetTraceIO.read(spark, path))

  def multirunAnalysis(traces: Seq[Trace], metric: String = Schemas.TimeExc,
                       groupCol: String = Schemas.Name): DataFrame =
    Profiles.multirunAnalysis(traces.map(_.events), metric, groupCol)
}
