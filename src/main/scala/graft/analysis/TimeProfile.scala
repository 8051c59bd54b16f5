package graft.analysis

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas._
import graft.enrich.{EventMatcher, Metrics}

/** time_profile (SURVEY §2.4 A8; pipit/trace.py:633-764) — per-function
  * exclusive time contributed within each of `numBins` equal time intervals
  * spanning the whole trace extent.
  *
  * Reference semantics reproduced:
  *  - edges = `numBins` equal intervals over [min ts, max ts] of *all*
  *    events (double arithmetic).
  *  - an event belongs to bin i iff matching_ts > bin_start && ts < bin_end
  *    (strict, trace.py:692-695); its in-bin inclusive time is the interval
  *    overlap — the reference's 4 cases (starts-in / ends-in / spans /
  *    contained, trace.py:711-738) collapse to
  *    `least(mts, end) − greatest(ts, start)`.
  *  - in-bin exclusive time = in-bin inclusive − Σ of *direct* children's
  *    in-bin inclusive, children restricted to the same bin
  *    (trace.py:666-698; the reference iterates parents in timestamp order,
  *    so each parent subtracts its children's unmodified inclusive values).
  *  - per-bin idle_time = bin_size × #processes − Σ per-function exclusive
  *    (trace.py:751).
  *  - values < 0.01 are zeroed (trace.py:754), applied before normalization.
  *  - normalized=true divides by bin_size × #processes.
  *
  * Spark shape: one collected extent row, then explode each matched Enter
  * over the bin ids it overlaps (`sequence` — no 50-way crossJoin), one
  * (parent,bin) aggregation + join for the child subtraction, then one
  * (bin,name) aggregation, collected. That aggregate has at most
  * numBins × distinct names rows (guarded by [[MaxBinRows]]), so the idle
  * rows, zeroing, bin edges and normalization are computed on the driver
  * and come back as a one-partition DataFrame. Long-form output (bin,
  * bin_start, bin_end, name, time), ordered by (bin, name), with idle as
  * name "idle_time"; empty bins are kept (pure idle). Row amplification is
  * bounded by span/bin_size; call spans are normally ≪ trace extent (the
  * reference has the same blowup implicitly, SURVEY §4.3).
  */
object TimeProfile {

  /** Driver-assembly guard on the (bin, name) aggregate, which has at
    * most `numBins` × distinct function names rows. */
  val MaxBinRows: Int = 5000000

  private val schema: StructType = StructType(Seq(
    StructField("bin", LongType, nullable = false),
    StructField("bin_start", DoubleType, nullable = false),
    StructField("bin_end", DoubleType, nullable = false),
    StructField(Name, StringType, nullable = false),
    StructField("time", DoubleType, nullable = true)))

  def timeProfile(events0: DataFrame, numBins: Int = 50,
                  normalized: Boolean = false): DataFrame = {
    val events = Metrics.calcIncMetrics(EventMatcher.enrich(events0), Seq(TimestampNs))

    // bin edges span ALL events, but the process count is taken over Enter
    // rows only (trace.py:651-661: `events` is pre-filtered to Enter before
    // `Process.unique()`) — a rank with only Instant events must not
    // inflate idle time or the normalization denominator.
    // The extent is ONE row, used by the bin explode and by the driver
    // tail — collect it once and inline the scalars as literals
    val extRow = events.agg(
      min(col(TimestampNs)).cast("double"),
      max(col(TimestampNs)).cast("double"),
      countDistinct(when(col(EventType) === Enter, col(Process)))
        .cast("double")).head
    require(!extRow.isNullAt(0), "time_profile: empty trace")
    val (loV, hiV, nprocV) =
      (extRow.getDouble(0), extRow.getDouble(1), extRow.getDouble(2))
    val ext = events.sparkSession.range(1).select(
      lit(loV).as("lo"), lit(hiV).as("hi"), lit(nprocV).as("nproc"))

    val w = (col("hi") - col("lo")) / numBins
    val enters = events
      .filter(col(EventType) === Enter && col(MatchingTs).isNotNull)
      .select(col(EventId), col(ParentEventId), col(Name),
        col(TimestampNs).cast("double").as("t0"),
        col(MatchingTs).cast("double").as("t1"))
      .crossJoin(broadcast(ext))
      .withColumn("first_bin", greatest(floor((col("t0") - col("lo")) / w), lit(0.0)).cast("long"))
      .withColumn("last_bin", least(ceil((col("t1") - col("lo")) / w) - 1, lit(numBins - 1.0)).cast("long"))
      .filter(col("first_bin") <= col("last_bin"))
      .select(col("*"), explode(sequence(col("first_bin"), col("last_bin"))).as("bin"))
      .withColumn("bin_start", col("lo") + col("bin") * w)
      .withColumn("bin_end", col("lo") + (col("bin") + 1) * w)
      // strict in-bin membership (guards edge-exact floor/ceil results)
      .filter(col("t1") > col("bin_start") && col("t0") < col("bin_end"))
      .withColumn("inc_in_bin",
        least(col("t1"), col("bin_end")) - greatest(col("t0"), col("bin_start")))

    val childSums = enters.filter(col(ParentEventId).isNotNull)
      .groupBy(col(ParentEventId).as("__p"), col("bin").as("__b"))
      .agg(sum(col("inc_in_bin")).as("__child_inc"))

    val withExc = enters
      .join(childSums,
        enters(EventId) === childSums("__p") && enters("bin") === childSums("__b"), "left")
      .withColumn("exc_in_bin", col("inc_in_bin") - coalesce(col("__child_inc"), lit(0.0)))

    val perBinName = withExc.groupBy(col("bin"), col(Name))
      .agg(sum(col("exc_in_bin")).as("time"))
      .limit(MaxBinRows + 1).collect()
    require(perBinName.length <= MaxBinRows,
      s"time_profile has more than $MaxBinRows (bin, name) rows — refusing " +
        "driver-side assembly; use fewer bins or dedupe function names")

    // the bin-sized tail on the driver: idle rows for every bin (pure-idle
    // bins included), the < 0.01 zeroing, bin edges and normalization, in
    // the double arithmetic of the column expressions above
    val width = (hiV - loV) / numBins
    val capacity = width * nprocV // bin_size × #processes
    val busy = new Array[Double](numBins)
    perBinName.foreach(r => busy(r.getLong(0).toInt) += r.getDouble(2))
    val longForm = perBinName.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) ++
      (0 until numBins).map(b => (b.toLong, "idle_time", capacity - busy(b)))
    val rows = longForm.sortBy { case (b, name, _) => (b, name) }.map { case (b, name, t0) =>
      val t = if (t0 < 0.01) 0.0 else t0
      // a zero denominator gives null, as Spark's division does
      val time = if (!normalized) Double.box(t)
        else if (capacity == 0.0) null else Double.box(t / capacity)
      Row(b, loV + b * width, loV + (b + 1) * width, name, time)
    }
    val spark = events.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }
}
