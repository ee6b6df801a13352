package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QuerySpec, Tables}

/** Core relational surface: scan → filter → aggregate → join → sort/limit.
  *
  * The reference's query layer (`/root/reference/thisishappening/utils/data_base.py`)
  * is SQLAlchemy filters + sorts; these specs re-express the same shapes over the
  * TPC-H-ish driver tables, Spark-first: filters stay as Column predicates so
  * Catalyst pushes them into the parquet scan, small dimension sides are
  * `broadcast()`, aggregates are declarative so map-side partial aggregation and
  * whole-stage codegen apply.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary (scan + pushed filter + hash agg).
    * At 100 TB this is a single shuffle on a 6-value grouping key with
    * map-side combine; no skew risk.
    */
  val q1PricingSummary: QuerySpec = QuerySpec(
    "q1_pricing_summary",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"),
        )
        .transform(Tables.sortedInOne(_, col("l_returnflag"), col("l_linestatus"))),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 4) AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """.stripMargin.trim),
  )

  /** Revenue by nation: fact ⋈ two broadcast dims → agg. The dims are tiny at
    * every scale factor (supplier grows slowly, nation is 25 rows), so both
    * joins must plan as BroadcastHashJoin — zero shuffle for the join, one
    * shuffle for the final 25-key aggregate.
    */
  val q2RevenueByNation: QuerySpec = QuerySpec(
    "q2_revenue_by_nation",
    (s, d) => {
      val li  = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val nat = Tables.nation(s, d)
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .transform(Tables.sortedInOne(_, col("n_name")))
    },
    Some("""
      SELECT n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name
    """.stripMargin.trim),
  )

  /** Top-k join: orders ⋈ broadcast(customer), global top-10 by totalprice.
    * Spark plans TakeOrderedAndProject — per-partition top-k then a k-row
    * merge on the driver; no full sort at any scale.
    */
  val q3TopOrders: QuerySpec = QuerySpec(
    "q3_top_orders",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(
          col("o_orderkey"),
          col("c_name"),
          round(col("o_totalprice"), 4).as("total_price"),
          col("o_orderpriority"),
        )
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT o_orderkey, c_name, round(o_totalprice, 4) AS total_price, o_orderpriority
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY total_price DESC, o_orderkey
      LIMIT 10
    """.stripMargin.trim),
  )

  /** EXISTS-shaped semi join (orders having a late-shipped lineitem), then a
    * tiny aggregate. left_semi keeps only the probe side's columns so nothing
    * wide flows through the shuffle.
    */
  val q4SemiJoin: QuerySpec = QuerySpec(
    "q4_priority_with_late_items",
    (s, d) => {
      val o  = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      o.join(
          li,
          o("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > o("o_orderdate"),
          "left_semi",
        )
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .transform(Tables.sortedInOne(_, col("o_orderpriority")))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """.stripMargin.trim),
  )

  /** NOT EXISTS-shaped anti join: customers with no orders. */
  val q5AntiJoin: QuerySpec = QuerySpec(
    "q5_customers_without_orders",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey
    """.stripMargin.trim),
  )

  /** TPC-H Q6-shaped selective scan: all three predicates must reach parquet
    * (`PushedFilters` in explain) — at 100 TB this is the difference between
    * reading one column-chunk subset and the whole table.
    */
  val q6RevenueFilter: QuerySpec = QuerySpec(
    "q6_forecast_revenue",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) &&
            col("l_quantity") < 24,
        )
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"),
        ),
    Some("""
      SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24
    """.stripMargin.trim),
  )

  val all: Seq[QuerySpec] = Seq(
    q1PricingSummary,
    q2RevenueByNation,
    q3TopOrders,
    q4SemiJoin,
    q5AntiJoin,
    q6RevenueFilter,
  )
}
