package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Relational / TPC-H-ish oracle queries over the driver tables —
  * exercising the scan/agg/join/window machinery that backs the GTS
  * operators (and giving the bench its headline shuffle/join shapes).
  *
  * Money columns are aggregated as exact integer cents
  * (`round(x*100)` as BIGINT) so sums are engine-order independent.
  */
object RelationalQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pricing-summary aggregation (TPC-H Q1 shape): wide scan → hash agg.
    "r01_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampNTZType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast(LongType)).as("sum_base_cents"),
          sum(round(col("l_extendedprice") * 100).cast(LongType) *
            (lit(100L) - round(col("l_discount") * 100).cast(LongType))).as("sum_disc_c4"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Revenue by nation: fact-to-dim joins; dims are broadcast.
    "r02_revenue_by_nation" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("rev_cents"),
          count(lit(1)).as("n_orders"))
    }),

    // Top-3 orders per customer (window rank with deterministic tiebreak).
    "r03_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast(LongType).as("price_cents"), col("rk"))
    }),

    // Orders per month: calendar mapper family (mapper.year/month —
    // script/mapper/MapperYear.java) over the order date.
    "r04_orders_per_month" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))),

    // Customers with no orders (anti join) — DELETE/selector-complement shape.
    "r05_customers_without_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Multi-way join + filter pushdown: revenue by part brand for a
    // quantity band (TPC-H Q19-ish).
    "r06_brand_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 10 && col("l_quantity") <= 30)
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType)).as("rev_cents"),
          count(lit(1)).as("n_items"))
    }),

    // Distinct counting: exact + per-group (suppliers per part-type prefix).
    "r07_supplier_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity")).as("sum_qty"))),

    // Correlated-style aggregation: each customer's order count and
    // max-price order vs their nation's average order count.
    "r08_cust_vs_nation" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val perCust = o.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        max(round(col("o_totalprice") * 100).cast(LongType)).as("max_cents"))
      val joined = c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("max_cents"), lit(0L)).as("max_cents"))
      val w = Window.partitionBy(col("c_nationkey"))
      joined.withColumn("nation_total_orders", sum(col("n_orders")).over(w))
        .select(col("c_custkey"), col("n_orders"), col("max_cents"),
          col("nation_total_orders"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "r01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |        * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c4,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "r02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "r03_top_orders_per_cust" ->
      """WITH r AS (SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, price_cents, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3""".stripMargin,

    "r04_orders_per_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin,

    "r05_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "r06_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity BETWEEN 10 AND 30
        |GROUP BY 1""".stripMargin,

    "r07_supplier_stats" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_orderkey) AS n_orders, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,

    "r08_cust_vs_nation" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n_orders,
        |    max(CAST(round(o_totalprice*100) AS BIGINT)) AS max_cents
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_custkey, c_nationkey,
        |    coalesce(pc.n_orders, 0) AS n_orders,
        |    coalesce(pc.max_cents, 0) AS max_cents
        |  FROM customer LEFT JOIN pc ON c_custkey = pc.o_custkey)
        |SELECT c_custkey, n_orders, max_cents,
        |  CAST(sum(n_orders) OVER (PARTITION BY c_nationkey) AS BIGINT)
        |    AS nation_total_orders
        |FROM j""".stripMargin
  )
}
