package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types._

/** Shared ingest utilities. */
object Ingest {

  /** Assign a dense 0-based `LongType` id column ordered by `sortCols`,
    * WITHOUT an unpartitioned window.
    *
    * `row_number().over(Window.orderBy(...))` funnels every row through a
    * single task (Spark even warns about it); at trace scale that
    * serializes ingest. Instead: a distributed range-partitioned sort
    * (`orderBy`), then `zipWithIndex` — which runs one lightweight
    * count-per-partition job and adds broadcast partition offsets, keeping
    * parallelism equal to the number of sort partitions.
    *
    * The whole pass stays in Tungsten binary format (r11, guide §4.1):
    * the former `.rdd` + `Row.fromSeq` + `createDataFrame(RDD[Row])`
    * formulation deserialized every row to external objects and
    * converted them all back through a reflective per-field converter —
    * measured at ~100 µs/row on the OTF2 reader's map-typed rows, the
    * single largest CPU sink of the bench. Now: `queryExecution.toRdd`
    * (UnsafeRows straight from the executed sort), zipWithIndex, and an
    * `UnsafeProjection` that appends the ordinal — no external object is
    * ever built.
    *
    * Nothing is persisted: zipWithIndex's count job and the materializing
    * job share the sort's shuffle dependency, so the second job skips the
    * map stage and only re-reads and re-sorts the shuffled rows. The
    * projection consumes each row as it arrives, so the scan's reused
    * row object needs no copy.
    *
    * The ids are identical to what the global window would produce
    * (dense, 0-based, ordered by `sortCols`); callers must pass a total
    * order (include a tiebreak column) for deterministic assignment.
    */
  def assignDenseIds(df: DataFrame, idCol: String, sortCols: Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    val spark = df.sparkSession
    val sorted = df.orderBy(sortCols: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField(idCol, LongType, nullable = false))
    val rows: org.apache.spark.rdd.RDD[InternalRow] =
      sorted.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
        val joined = new JoinedRow
        val ord = new GenericInternalRow(1)
        val proj = UnsafeProjection.create(schema)
        it.map { case (r, i) =>
          ord.update(0, i)
          proj(joined(r, ord)): InternalRow
        }
      }
    org.apache.spark.sql.graftbridge.RddBridge
      .fromInternalRdd(spark, rows, schema)
  }
}
