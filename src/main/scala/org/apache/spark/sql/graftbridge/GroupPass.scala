package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{GroupedIterator, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, classic}

/** One per-key pass over InternalRows, as a Catalyst node: the child's
  * rows, clustered by `keys` and sorted by `keys ++ order`, reach `fn`
  * as one `(key row, rows)` pair per key, partition by partition.
  *
  * The exec states that requirement to the planner, so
  * `EnsureRequirements` adds the exchange and the sort only where the
  * child does not already satisfy them (clustered on a subset of `keys`
  * at any partition count). Its output columns are new and its output
  * partitioning is unknown, as an RDD scan's would be. Build one with
  * `GroupPass(df, keys, order, outSchema)(fn)`; nothing runs until an
  * action.
  *
  * CONTRACT: a group's rows are valid only until `fn` asks for the next
  * group, and the scan reuses its row object: `copy()` a row before
  * buffering it. `fn` may emit any `InternalRow` holding catalyst values
  * of the output schema; the exec projects each one to an `UnsafeRow`. */
case class GroupPass(keys: Seq[Attribute], order: Seq[SortOrder],
                     fn: Iterator[(InternalRow, Iterator[InternalRow])] => Iterator[InternalRow],
                     output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  // fn reads every child column: none may be pruned below it
  override def references: AttributeSet = child.outputSet
  // fn may emit any number of rows: the size is unknown, as a LogicalRDD's
  override def stats: Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def newInstance(): GroupPass = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): GroupPass = copy(child = c)
}

case class GroupPassExec(keys: Seq[Attribute], order: Seq[SortOrder],
                         fn: Iterator[(InternalRow, Iterator[InternalRow])] => Iterator[InternalRow],
                         output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (numOutputRows, numGroups) = (longMetric("numOutputRows"), longMetric("numGroups"))
    val (keys, fn, input, schema) = (this.keys, this.fn, child.output, this.schema)
    child.execute().mapPartitionsWithIndexInternal { (index, rows) =>
      val proj = UnsafeProjection.create(schema)
      proj.initialize(index)
      fn(GroupedIterator(rows, keys, input).map { g => numGroups += 1; g })
        .map { r => numOutputRows += 1; proj(r) }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupPassExec = copy(child = c)
}

object GroupPass {
  private object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case GroupPass(keys, order, fn, output, child) =>
        GroupPassExec(keys, order, fn, output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** `fn` over `df`'s groups of equal `keys` columns, each sorted
    * ascending by `order` after the keys; `fn` is called once per
    * partition with that partition's groups and returns rows of
    * `outSchema`. The first call in a session adds the planner strategy
    * to it. */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String], outSchema: StructType)(
      fn: Iterator[(InternalRow, Iterator[InternalRow])] => Iterator[InternalRow]): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(Planner))
        methods.extraStrategies = Planner +: methods.extraStrategies
    }
    val child = df.queryExecution.analyzed
    def attr(c: String) = child.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column $c in ${df.schema.simpleString}"))
    classic.Dataset.ofRows(session, GroupPass(keys.map(attr),
      order.map(c => SortOrder(attr(c), Ascending)), fn,
      DataTypeUtils.toAttributes(outSchema), child))
  }
}
