package graft
package registry

import org.apache.spark.sql.functions._

import graft.SparkEntry.T

/** TPC-H-style relational: relational coverage over the TPC-H tables
  * (Catalyst-planned aggregates, joins and windows). */
object RelationalCases extends Family("TPC-H-style relational") {

  val cases: Seq[Case] = Seq(

    // --- relational coverage (Catalyst-planned aggregates/joins/windows) ---
    Case("q1_pricing", (s, dir) => T(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        // EXACT integer-cents discounted revenue: the double
        // SUM(price*(1-disc)) sits on a 1e-4 lattice, so its true value
        // CAN be a .005 round midpoint and engine summation order then
        // flips the cent (caught by the second-seed gate at seed=101);
        // summing cents*(100-disc%) in BIGINT and half-up dividing is
        // order-independent on both engines
        expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |       CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS sum_disc_price,
        |       ROUND(AVG(l_quantity), 4) AS avg_qty,
        |       CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Case("q3_topk", (s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        // exact integer-cents revenue (see q1_pricing)
        .agg(expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },
      """SELECT l_orderkey, CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    Case("q5_region_revenue", (s, dir) => {
      val rev = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      rev.groupBy(col("n_name"))
        // exact integer-cents revenue (see q1_pricing)
        .agg(expr("CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) DIV 100 AS DOUBLE) / 100").as("revenue"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
