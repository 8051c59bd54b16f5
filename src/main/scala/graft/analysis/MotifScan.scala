package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMath

/** Plan-native motif occurrence scan (the scale path for detect_pattern,
  * SURVEY §2.4 A10; pipit/trace.py:806-863 delegates motif OCCURRENCE
  * matching to stumpy's distance profile).
  *
  * [[graft.analysis.PatternDetect]] covers motif DISCOVERY (matrix
  * profile, O(n²) pairwise); once a motif is known, finding its
  * occurrences across a whole trace is a linear scan that must not
  * collect the series. This operator keeps everything in the plan:
  *
  *  - ONE exchange, hash-partitioned by the series key (process): the
  *    sliding windows are assembled by an ordered `collect_list` frame
  *    `ROWS BETWEEN CURRENT ROW AND m-1 FOLLOWING`, so the shuffle moves
  *    O(n) rows — never the O(n·m) blowup of the explode-into-window-
  *    memberships formulation.
  *  - The kernel is the codegen'd [[graft.functions.VecDot]] against a
  *    broadcast motif literal: dist²(s) = Σw² + Σq² − 2·(w·q), with the
  *    window sum-of-squares riding the SAME window frame (one physical
  *    Window operator evaluates both aggregates).
  *  - Integer-valued series stay EXACT: every term is an integer below
  *    2^53, so dist² is bit-stable across engines and a planted motif
  *    scores exactly 0.
  *
  * At 1000 executors the scan parallelism is the number of series keys
  * (processes × metrics), matching how traces shard naturally; a single
  * gigantic series would instead use `PatternDetect.matrixProfileDistributed`'s
  * broadcast-slice scheme.
  *
  * Contract: `idxCol` must be dense (0,1,2,…) within each series key —
  * readers produce dense ids via `Ingest.assignDenseIds`; windows
  * spanning a gap would silently mix non-adjacent points otherwise
  * (the ragged tail at the series end is dropped by an exact size
  * check, which also drops any key with fewer than m points).
  */
object MotifScan {

  /** (process, start, dist2) for every complete length-m window. */
  def distanceProfile(series: DataFrame, motif: Array[Double],
                      processCol: String = "process", idxCol: String = "idx",
                      valueCol: String = "value"): DataFrame = {
    val m = motif.length
    require(m >= 1, "motif must be non-empty")
    val w = Window.partitionBy(col(processCol)).orderBy(col(idxCol))
      .rowsBetween(Window.currentRow, m - 1L)
    val v = col(valueCol).cast("double")
    val sumSqMotif = motif.map(q => q * q).sum
    series
      // both aggregates declared together → ONE physical Window operator
      // (a second withColumn would give Catalyst two Window passes)
      .select(col(processCol), col(idxCol),
        collect_list(v).over(w).as("__graft_win"),
        sum(v * v).over(w).as("__graft_sumsq"))
      .filter(size(col("__graft_win")) === m)
      .select(col(processCol), col(idxCol).as("start"),
        (col("__graft_sumsq") + lit(sumSqMotif)
          - lit(2.0) * VecMath.dot(col("__graft_win"), lit(motif))).as("dist2"))
  }

  /** Global k best matches, totally ordered by (dist2, process, start) —
    * deterministic under ties (planted motifs all score 0). */
  def topOccurrences(series: DataFrame, motif: Array[Double], k: Int,
                     processCol: String = "process", idxCol: String = "idx",
                     valueCol: String = "value"): DataFrame =
    distanceProfile(series, motif, processCol, idxCol, valueCol)
      .orderBy(col("dist2"), col(processCol), col("start"))
      .limit(k)

  /** Occurrences below a distance threshold, for "find every repeat"
    * scans where the match count is unknown (dist2 <= threshold rather
    * than top-k, so downstream needn't guess k). */
  def occurrencesBelow(series: DataFrame, motif: Array[Double], threshold: Double,
                       processCol: String = "process", idxCol: String = "idx",
                       valueCol: String = "value"): DataFrame =
    distanceProfile(series, motif, processCol, idxCol, valueCol)
      .filter(col("dist2") <= threshold)
}
