package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** RDD[InternalRow] → DataFrame constructors for the trace readers
  * (same subpackage convention as [[ColumnBridge]]): `fromInternalRdd`
  * and `fromClusteredInternalRdd` wrap an RDD of Tungsten rows without
  * the per-row conversion `createDataFrame(RDD[Row], schema)` pays
  * (measured: the OTF2 reader's dense-id pass spent ~100 µs/row in it at
  * sf0.1). The other direction is the public `df.queryExecution.toRdd`,
  * whose rows the scan reuses per partition: `copy()` (or extract the
  * values) before buffering them, and ask `hasNext` before each `next()`.
  *
  * CONTRACT: the rows may be ANY InternalRow holding catalyst-typed
  * values matching `schema` (UTF8String for strings, MapData/ArrayData
  * for collections, boxed primitives in GenericInternalRow) — the scan
  * node re-projects every row to UnsafeRow, so UnsafeRow-backed input is
  * an optimization, not a requirement (Otf2Reader hands it JoinedRows).
  * Per-key passes over a DataFrame's rows go through [[GroupPass]]. */
object RddBridge {
  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
                      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `fromInternalRdd` for an RDD whose layout is known, declared to
    * Catalyst: partition `i` holds exactly the rows whose
    * `pmod(hash(clusterBy), rdd.getNumPartitions)` is `i` (the layout
    * `repartition(rdd.getNumPartitions, clusterBy)` produces, Spark's
    * `HashPartitioning`), and each partition is sorted ascending by
    * `orderBy`. `EnsureRequirements` then drops a later
    * `repartition(clusterBy)` planned at that partition count, and
    * `RemoveRedundantSorts` a `sortWithinPartitions` the ordering
    * already satisfies; both survive `persist`.
    *
    * CONTRACT: both declarations must be true. Catalyst checks neither,
    * and a false one silently splits a key across tasks or leaves a
    * partition unsorted downstream. */
  def fromClusteredInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
                               schema: StructType, clusterBy: Seq[String],
                               orderBy: Seq[String]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    def attr(c: String) = attrs.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column $c in $schema"))
    val plan = LogicalRDD(attrs, rdd,
      HashPartitioning(clusterBy.map(attr), rdd.getNumPartitions),
      orderBy.map(c => SortOrder(attr(c), Ascending)))(session)
    classic.Dataset.ofRows(session, plan)
  }
}
