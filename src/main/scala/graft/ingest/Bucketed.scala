package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed Parquet tables — the pay-once answer to repeated shuffles.
  *
  * A shuffle join or aggregation re-hashes its big input every run; at
  * 100 TB that exchange dominates the query. Bucketing hashes rows into
  * a fixed number of files per key at WRITE time and records the spec
  * in the catalog: every later equi-join or aggregation on the bucket
  * key reads each bucket as one task and skips the exchange entirely —
  * two tables bucketed the same way join with ZERO shuffles on either
  * side (`BucketedSpec` asserts exactly that on the physical
  * plan). The shuffle is paid once at ingest, amortized over every
  * downstream run — the standard warehouse layout for fact tables that
  * join on the same key daily (events⋈orders on the customer key, the
  * trace table on `process`).
  *
  * Sizing at scale: buckets ≈ table size / target task input (e.g.
  * 100 TB / 256 MB ≈ 400k is too many files — bucket the JOIN KEY
  * space, not the bytes: pick buckets so one bucket of the LARGER
  * table fits a task, and compact small files per bucket). `sortBy`
  * pre-sorts within buckets so sort-merge joins skip the sort too.
  */
object Bucketed {

  /** Write `df` as a bucketed parquet table registered in the session
    * catalog. `path` makes it external (data at a known location);
    * `sortCols` pre-sorts within each bucket. */
  def write(df: DataFrame, tableName: String, bucketCol: String,
            buckets: Int, path: Option[String] = None,
            sortCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    var w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(tableName)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog
    * — a plain `spark.read.parquet(path)` would NOT see the spec and
    * would re-shuffle). */
  def table(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)
}
