package graft.cct

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas._
import graft.enrich.{EventMatcher, Metrics}

/** Calling-context-tree construction (SURVEY §2.3 M5; pipit/util/cct.py:9-118,
  * pipit/graph.py:7-98).
  *
  * The reference builds a pointer graph of `Node` objects keyed by the
  * callpath string "a->b->c", dedup'd across processes, and stores the Node
  * object into a `Graph_Node` events column. We encode the tree relationally:
  * one row per distinct callpath, carrying `path_hash` (the 64-bit chained
  * hash emitted by [[graft.enrich.EventMatcher]]), `parent_path_hash`, name, depth, and
  * the full path string. Events already carry `path_hash` as the foreign key.
  *
  * Scale shape: the heavy part — reducing billions of events to their
  * callpaths — is one distributed aggregation over four small columns: a
  * `distinct()` for the tree, a `groupBy` with call count and Σ exclusive
  * time for the subtree rollup. The result is CCT-sized by construction
  * (distinct call paths, not events), so path-string assembly, dense-id
  * assignment and the bottom-up subtree fold run on the driver; the node
  * table then broadcasts back for event→node joins. (Earlier level-by-level
  * join formulations exploded the Catalyst plan or paid Spark jobs per tree
  * level — the driver assembly is both faster and simpler.)
  *
  * node_id assignment: dense ids ordered by (depth, path) — deterministic
  * across runs and partitionings. (The reference's ids are visit-order
  * dependent and not deterministic across runs; SURVEY §7.4.)
  */
object Cct {

  /** Driver-assembly guard: real CCTs are ~10³–10⁶ nodes; a path-hash
    * column poisoned by non-callpath data (or a degenerate trace with
    * unbounded distinct paths) must fail loudly instead of OOMing the
    * driver. */
  val MaxNodes: Int = 5000000

  /** Enter rows that open a calling context. */
  private def contextEnters(events: DataFrame): DataFrame =
    events.filter(col(EventType) === Enter && col(PathHash).isNotNull)

  /** Collects a CCT-sized node table — leading columns (path_hash,
    * parent_path_hash, name, depth), further columns carried along — to
    * the driver under the [[MaxNodes]] guard, and pairs each row with its
    * full callpath string. */
  private def collectNodes(nodes: DataFrame): Array[(Row, String)] = {
    val rows = nodes.limit(MaxNodes + 1).collect()
    require(rows.length <= MaxNodes,
      s"CCT has more than $MaxNodes distinct callpaths — refusing driver-side " +
        "assembly. This usually means the trace's callpaths are degenerate " +
        "(e.g. data-dependent frame names); dedupe names before createCct.")

    val byHash = rows.map(r => r.getLong(0) -> r).toMap
    val pathMemo = mutable.Map[Long, String]()
    def path(h: Long): String = pathMemo.getOrElseUpdate(h, {
      val r = byHash(h)
      if (r.isNullAt(1)) r.getString(2)
      else path(r.getLong(1)) + "->" + r.getString(2)
    })
    rows.map(r => r -> path(r.getLong(0)))
  }

  /** Distinct callpath table from (enriched) events. */
  def buildCct(events0: DataFrame): DataFrame = {
    val events = EventMatcher.enrich(events0)
    val spark = events.sparkSession
    val nodes = collectNodes(contextEnters(events)
      .select(col(PathHash), col(ParentPathHash), col(Name), col(Depth))
      .distinct())

    val rows = nodes.map { case (r, p) =>
      (r.getLong(0), if (r.isNullAt(1)) null else Long.box(r.getLong(1)),
        r.getString(2), r.getInt(3), p)
    }.sortBy { case (_, _, _, depth, p) => (depth, p) }
      .zipWithIndex.map { case ((ph, pph, name, depth, p), i) =>
        Row(i.toLong, ph, pph, name, depth, p)
      }

    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), cctSchema)
  }

  private val rollupSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("n_calls", LongType, nullable = false),
    StructField("own_exc", LongType, nullable = false),
    StructField("subtree_exc", LongType, nullable = false)))

  /** Bottom-up subtree rollup over the CCT — per calling context, the
    * exclusive time of the node itself AND of its whole subtree (the
    * flame-graph "total" column next to "self"). One distributed
    * aggregation over the calling-context Enter rows gives each node's
    * call count and own exclusive time; the CCT-sized result (bounded by
    * [[MaxNodes]]) comes to the driver, which adds every node's subtree
    * total to its parent's, deepest nodes first. The job count does not
    * grow with the tree's depth. Rows are ordered by (depth, path); all
    * sums are integer ns. */
  def subtreeRollup(events0: DataFrame): DataFrame = {
    val events = Metrics.calcExcMetrics(events0, Seq(TimestampNs))
    val spark = events.sparkSession
    val nodes = collectNodes(contextEnters(events)
      .groupBy(col(PathHash), col(ParentPathHash), col(Name), col(Depth))
      .agg(count(lit(1)), sum(col(TimeExc)).cast("long")))
      .sortBy { case (r, p) => (r.getInt(3), p) }

    val own = nodes.map { case (r, _) => if (r.isNullAt(5)) 0L else r.getLong(5) }
    val subtree = own.clone()
    val index = nodes.iterator.map(_._1.getLong(0)).zipWithIndex.toMap
    // deepest first, so a node's total is complete before it reaches its parent
    for (i <- nodes.indices.reverse) {
      val r = nodes(i)._1
      if (!r.isNullAt(1)) subtree(index(r.getLong(1))) += subtree(i)
    }

    val rows = nodes.indices.map { i =>
      val (r, p) = nodes(i)
      Row(p, r.getString(2), r.getInt(3), r.getLong(4), own(i), subtree(i))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), rollupSchema)
  }

  /** Attach node_id to events (the reference's `Graph_Node` column,
    * pipit/util/cct.py:116) via the path_hash foreign key; the CCT is small
    * → broadcast join. */
  def withNodeIds(events0: DataFrame, cct: DataFrame): DataFrame = {
    val events = EventMatcher.enrich(events0)
    events.join(broadcast(cct.select(col("path_hash"), col("node_id"))),
      Seq(PathHash), "left")
  }
}
