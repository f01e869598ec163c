package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Q2–Q17 — the relational surface (SURVEY §2.B).
  *
  * Cross-engine determinism conventions (validated against the fixture
  * data, which stores all money/value doubles with ≤2 decimal digits):
  *  - money math runs in DECIMAL end-to-end: base columns cast to tight
  *    decimals (lossless for this data), decimal arithmetic is exact in
  *    both engines, SUM over decimal is order-independent, and the final
  *    projection casts to DOUBLE (same exact value → same bits);
  *  - per-row double expressions keep the identical expression tree in
  *    both dialects and are emitted raw — never ROUND(double, n), whose
  *    semantics differ between Spark (shortest-repr HALF_UP) and DuckDB
  *    (binary-value rounding);
  *  - averages are CAST(dec_sum AS DOUBLE) / count — one IEEE division
  *    of identical operands;
  *  - timestamps leave as epoch-micros BIGINT or formatted strings;
  *  - every query ends in a total ORDER BY (oracle side spells out
  *    NULLS FIRST, Spark's ascending default).
  */
object Relational {

  private[queries] def decQty(c: Column)   = c.cast("decimal(12,2)")
  private[queries] def decPrice(c: Column) = c.cast("decimal(14,2)")
  private[queries] def decRate(c: Column)  = c.cast("decimal(4,2)")
  private[queries] val oneDec: Column = lit(new java.math.BigDecimal("1.00"))

  val all: Seq[GraftQuery] = Seq(
    Q2Agg, Q3JoinChain, Q4BroadcastJoin, Q5SemiAnti, Q6TopK, Q7WindowRank,
    Q8WindowFrame, Q9Rollup, Q10Cube, Q11SetOps, Q12DistinctAgg,
    Q12bApproxDistinct, Q12cHllSketchUnion, Q13ScalarFns, Q14Json,
    Q15ArrayFns, Q16RangeJoin,
    Q17Sessionize, Q27OuterJoin, Q28Pivot, Q29ScalarSubquery, Q30Percentiles,
    Q30bApproxPercentiles, Q31MapJson, Q32AsofJoin, Q32bAsofJoinNative,
    Q33GroupingSets, Q34SaltedJoin)
}

/** Q2 — scan+filter+project+hash agg (TPC-H Q1 shape). At scale: one
  * shuffle keyed by (returnflag, linestatus); Catalyst plans the
  * map-side partial agg the reference hand-rolled (main.cpp:234-258). */
object Q2Agg extends GraftQuery {
  import Relational._
  val name = "q2_agg_pricing_summary"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val discPrice = decPrice(col("l_extendedprice")) * (oneDec - decRate(col("l_discount")))
    val charge    = discPrice * (oneDec + decRate(col("l_tax")))
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(decQty(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(decPrice(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(decQty(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(decPrice(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(decRate(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val oracle = Some("""
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.00 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
  """.trim)
}

/** Q3 — multi-way equi join (TPC-H Q5 shape). Big⋈big (lineitem⋈orders,
  * customer⋈orders) shuffle on their keys; only the bounded dimension
  * tables (supplier, nation, region) carry broadcast hints — customer
  * is NOT broadcast-able at 100 TB. */
object Q3JoinChain extends GraftQuery {
  import Relational._
  val name = "q3_join_revenue_by_nation"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    val nation   = Tables.nation(spark, dir)
    val region   = Tables.region(spark, dir)
    val revenue = decPrice(col("l_extendedprice")) * (oneDec - decRate(col("l_discount")))
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }
  val oracle = Some("""
    SELECT n_name,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
  """.trim)
}

/** Q4 — broadcast join: `part` is a classic broadcast-able dimension
  * (bounded catalog vs an unbounded fact table). The explicit
  * broadcast() hint keeps the plan a BroadcastHashJoin at any fact
  * size — no shuffle of lineitem. */
object Q4BroadcastJoin extends GraftQuery {
  import Relational._
  val name = "q4_broadcast_join_brand"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir).filter(col("p_brand") === "Brand#12")
    val revenue = decPrice(col("l_extendedprice")) * (oneDec - decRate(col("l_discount")))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(sum(revenue).cast("double").as("revenue"),
           sum(decQty(col("l_quantity"))).cast("double").as("sum_qty"),
           count(lit(1)).as("n_items"))
      .orderBy(col("p_type"))
  }
  val oracle = Some("""
    SELECT p_type,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#12'
    GROUP BY p_type
    ORDER BY p_type
  """.trim)
}

/** Q5 — left-semi + left-anti join (EXISTS / NOT EXISTS). Semi/anti
  * shuffle only the key column of the probe side; no row duplication. */
object Q5SemiAnti extends GraftQuery {
  val name = "q5_semi_anti_join"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir).select(col("o_custkey"))
    val semi = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_order").as("tag"))
    val anti = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_order").as("tag"))
    semi.unionAll(anti).orderBy(col("tag"), col("c_custkey"))
  }
  val oracle = Some("""
    SELECT c_custkey, 'has_order' AS tag FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_order' AS tag FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY tag, c_custkey
  """.trim)
}

/** Q6 — top-K: groupBy + orderBy + limit plans as partial top-K per
  * partition (TakeOrderedAndProject) — no global sort at scale. */
object Q6TopK extends GraftQuery {
  import Relational._
  val name = "q6_topk_customers"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(decPrice(col("o_totalprice"))).cast("double").as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("o_custkey").asc)
      .limit(10)
  val oracle = Some("""
    SELECT o_custkey,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS revenue,
      COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey ASC LIMIT 10
  """.trim)
}

/** Q7 — ranking window: row_number per customer partition; the window
  * shuffles once on the partition key, then sorts within partitions. */
object Q7WindowRank extends GraftQuery {
  val name = "q7_window_rank_orders"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }
  val oracle = Some("""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
  """.trim)
}

/** Q8 — analytic window with an explicit frame: running sum + lag.
  * The running SUM accumulates DECIMAL (order-defined but engine-exact);
  * epoch-micros keys avoid cross-engine timestamp rendering. */
object Q8WindowFrame extends GraftQuery {
  val name = "q8_window_running_sum"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("running_sum",
        sum(col("value").cast("decimal(14,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }
  val oracle = Some("""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w AS VARCHAR) AS DOUBLE) AS running_sum,
      lag(value, 1) OVER w AS prev_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts_us, event_id
  """.trim)
}

/** Q9 — ROLLUP with grouping_id for unambiguous null handling. */
object Q9Rollup extends GraftQuery {
  import Relational._
  val name = "q9_rollup_orders"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(decPrice(col("o_totalprice"))).cast("double").as("total"),
           grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  val oracle = Some("""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total,
      CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
  """.trim)
}

/** Q10 — CUBE over lineitem flags. */
object Q10Cube extends GraftQuery {
  val name = "q10_cube_lineitem"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  val oracle = Some("""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
  """.trim)
}

/** Q11 — set operations (UNION distinct / INTERSECT / EXCEPT), tagged
  * and stacked so one result covers all three. */
object Q11SetOps extends GraftQuery {
  val name = "q11_set_ops"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    def raw(status: String) =
      orders.filter(col("o_orderstatus") === status).select(col("o_custkey"))
    def custs(status: String) = raw(status).distinct()
    val o = custs("O"); val f = custs("F")
    val u = o.union(f).distinct().select(col("o_custkey"), lit("union").as("op"))
    val i = o.intersect(f).select(col("o_custkey"), lit("intersect").as("op"))
    val e = o.except(f).select(col("o_custkey"), lit("except").as("op"))
    // multiset variants over the NON-distinct inputs (bag semantics)
    val ia = raw("O").intersectAll(raw("F"))
      .select(col("o_custkey"), lit("intersect_all").as("op"))
    val ea = raw("O").exceptAll(raw("F"))
      .select(col("o_custkey"), lit("except_all").as("op"))
    u.unionAll(i).unionAll(e).unionAll(ia).unionAll(ea)
      .orderBy(col("op"), col("o_custkey"))
  }
  val oracle = Some("""
    WITH o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         oraw AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
         fraw AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT o_custkey, 'union' AS op FROM (SELECT * FROM o UNION SELECT * FROM f)
    UNION ALL
    SELECT o_custkey, 'intersect' AS op FROM (SELECT * FROM o INTERSECT SELECT * FROM f)
    UNION ALL
    SELECT o_custkey, 'except' AS op FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
    UNION ALL
    SELECT o_custkey, 'intersect_all' AS op FROM (SELECT * FROM oraw INTERSECT ALL SELECT * FROM fraw)
    UNION ALL
    SELECT o_custkey, 'except_all' AS op FROM (SELECT * FROM oraw EXCEPT ALL SELECT * FROM fraw)
    ORDER BY op, o_custkey
  """.trim)
}

/** Q28 — pivot: orders count + decimal total per priority, pivoted on
  * the closed status domain {F,O,P} (explicit value list keeps the
  * output schema static, which is also the 100 TB posture — a pivot
  * on an open domain needs a values scan first). Oracle = conditional
  * aggregation, the relational algebra pivot desugars to. */
object Q28Pivot extends GraftQuery {
  import Relational._
  val name = "q28_pivot"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
           sum(decPrice(col("o_totalprice"))).cast("double").as("total"))
      .na.fill(0L, Seq("F_n", "O_n", "P_n"))
      .orderBy(col("o_orderpriority"))
  val oracle = Some("""
    SELECT o_orderpriority,
      CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS F_n,
      CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS VARCHAR) AS DOUBLE) AS F_total,
      CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS O_n,
      CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS VARCHAR) AS DOUBLE) AS O_total,
      CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS P_n,
      CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS VARCHAR) AS DOUBLE) AS P_total
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
  """.trim)
}

/** Q29 — scalar + correlated subqueries: customers whose balance
  * exceeds the global average (ScalarSubquery) with their order count
  * (correlated, decorrelated by Catalyst into a join).
  *
  * The threshold is spelled `CAST(dec_sum AS DOUBLE)/COUNT` in BOTH
  * dialects per the file convention — engine-native AVG is Spark
  * DECIMAL(16,6) HALF_UP vs DuckDB double (measured ~5e-7 apart on
  * the fixtures), so a balance landing inside that gap would be
  * included by one engine and excluded by the other. */
object Q29ScalarSubquery extends GraftQuery {
  val name = "q29_scalar_subquery"
  def run(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("g_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("g_orders")
    spark.sql("""
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
             (SELECT COUNT(*) FROM g_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM g_customer c
      WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                           / COUNT(*) FROM g_customer)
      ORDER BY c_custkey
    """)
  }
  val oracle = Some("""
    SELECT c_custkey, CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS DOUBLE) AS bal,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                         / COUNT(*) FROM customer)
    ORDER BY c_custkey
  """.trim)
}

/** Q30 — exact percentiles: median and p90 of quantity/price per
  * return flag. Both engines linearly interpolate on the sorted
  * values; ROUND(…,4) absorbs any last-ulp divergence in the
  * interpolation arithmetic.
  *
  * SMALL-DATA ONLY: exact percentile buffers every group value in one
  * aggregation buffer — with 3 group keys at 100 TB that is billions
  * of doubles in 3 tasks. The at-scale default is Q30b's mergeable
  * approx_percentile sketch; this exact variant is the documented
  * small-data / oracle-calibration tool. */
object Q30Percentiles extends GraftQuery {
  val name = "q30_percentiles"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
           round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
           round(expr("percentile(l_discount, 0.25)"), 4).as("p25_disc"))
      .orderBy(col("l_returnflag"))
  val oracle = Some("""
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      round(quantile_cont(l_discount, 0.25), 4) AS p25_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
  """.trim)
}

/** Q30b — approx percentiles, the 100 TB path for Q30: Spark's
  * approx_percentile (Greenwald-Khanna sketch) is MERGEABLE with
  * constant per-group memory, where Q30's exact percentile buffers
  * every group value in one aggregation buffer (OOM + stragglers at
  * scale). Sketch outputs are engine-specific, so the hash-stable
  * contract is a TOLERANCE CHECK computed in-query: the result
  * carries the exact percentiles (same values as Q30's oracle) plus
  * boolean flags asserting the sketch landed within 5% relative (or
  * one 0.011 discount step, for the discrete-valued p25) of exact —
  * DuckDB's oracle emits literal TRUE, so a drifting sketch
  * hash-fails honestly. At scale the exact columns drop and only the
  * sketch runs; accuracy 10000 bounds rank error at n/10000. */
object Q30bApproxPercentiles extends GraftQuery {
  val name = "q30b_approx_percentiles"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
           round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
           round(expr("percentile(l_discount, 0.25)"), 4).as("p25_disc"),
           expr("approx_percentile(l_quantity, 0.5, 10000)").as("aq"),
           expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("ap"),
           expr("approx_percentile(l_discount, 0.25, 10000)").as("ad"))
      .select(col("l_returnflag"), col("median_qty"), col("p90_price"), col("p25_disc"),
        (abs(col("aq") - col("median_qty")) <=
          greatest(abs(col("median_qty")) * 0.05, lit(0.011))).as("approx_median_ok"),
        (abs(col("ap") - col("p90_price")) <=
          greatest(abs(col("p90_price")) * 0.05, lit(0.011))).as("approx_p90_ok"),
        (abs(col("ad") - col("p25_disc")) <=
          greatest(abs(col("p25_disc")) * 0.05, lit(0.011))).as("approx_p25_ok"))
      .orderBy(col("l_returnflag"))
  val oracle = Some("""
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      round(quantile_cont(l_discount, 0.25), 4) AS p25_disc,
      TRUE AS approx_median_ok, TRUE AS approx_p90_ok, TRUE AS approx_p25_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
  """.trim)
}

/** Q31 — typed JSON structs + MapType functions (the Q14/Q15 halves
  * SURVEY §2.B declares but the array/get_json_object queries never
  * exercised): `from_json` into a typed struct AND into a
  * MAP<STRING,INT>, `map_concat` with a constructed `map()`,
  * `map_keys`, and `explode(map)` → (key, value) rows, aggregated per
  * (event_type, key). Per-row JSON parse + one keyed shuffle — the
  * 100 TB shape for property-bag analytics (the map never becomes a
  * wide schema). DuckDB mirrors the map explode with
  * unnest(json_keys) + dynamic-path json_extract. */
object Q31MapJson extends GraftQuery {
  val name = "q31_map_json"
  def run(spark: SparkSession, dir: String): DataFrame = {
    // The synthetic 'et_len' entry is a UNION branch, not map_concat,
    // mirroring the oracle's shape exactly (round-9 review): map_concat
    // would THROW on a props map already carrying 'et_len' (default
    // mapKeyDedupPolicy=EXCEPTION) where the oracle double-counts, and
    // a NULL/unparseable props row would vanish through explode(null)
    // while the oracle's unconditional branch still emits its row.
    // coalesce(m, map()) keeps those rows flowing; n_keys = size(m)+1
    // is the oracle's len(json_keys)+1 under every collision case.
    // wide: the double from_json below is this query's dominant cost
    // and runs directly on the scan — see Tables.events(wide).
    val ev = Tables.events(spark, dir, wide = true)
      .select(col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("struct_k"),
        expr("coalesce(from_json(props, 'map<string,int>'), " +
          "cast(map() as map<string,int>))").as("m"))
      .select(col("event_type"), col("struct_k"), col("m"),
        (size(map_keys(col("m"))) + 1).as("n_keys"),
        length(col("event_type")).as("etl"))
    val kv = ev.select(col("event_type"), col("struct_k"), col("n_keys"),
        explode(col("m")).as(Seq("pkey", "pval")))
      .unionByName(ev.select(col("event_type"), col("struct_k"),
        col("n_keys"), lit("et_len").as("pkey"), col("etl").as("pval")))
    kv.groupBy(col("event_type"), col("pkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("pval").cast("long")).as("sum_val"),
        min(col("pval")).as("min_val"),
        max(col("pval")).as("max_val"),
        sum(col("struct_k").cast("long")).as("sum_struct_k"),
        max(col("n_keys")).as("max_n_keys"))
      .orderBy(col("event_type"), col("pkey"))
  }
  val oracle = Some("""
    WITH base AS (
      SELECT event_type, props,
        CAST(length(event_type) AS INT) AS etl,
        CAST(json_extract_string(props, 'k') AS INT) AS struct_k,
        CAST(len(json_keys(props)) + 1 AS INT) AS n_keys
      FROM events),
    kv AS (
      SELECT event_type, pkey, CAST(json_extract_string(props, pkey) AS INT) AS pval,
             struct_k, n_keys
      FROM base, unnest(json_keys(props)) AS u(pkey)
      UNION ALL
      SELECT event_type, 'et_len', etl, struct_k, n_keys FROM base)
    SELECT event_type, pkey, count(*) AS n,
      CAST(SUM(CAST(pval AS BIGINT)) AS BIGINT) AS sum_val,
      MIN(pval) AS min_val, MAX(pval) AS max_val,
      CAST(SUM(CAST(struct_k AS BIGINT)) AS BIGINT) AS sum_struct_k,
      MAX(n_keys) AS max_n_keys
    FROM kv GROUP BY event_type, pkey ORDER BY event_type, pkey
  """.trim)
}

/** Q32 — AS-OF join: for every click event, the most recent purchase
  * (ts <= click ts) by the same user — the canonical event/feature
  * alignment operator of a training-data pipeline, which Spark lacks
  * natively. Implemented by composition (the preferred tier (a) of
  * the custom-operator ladder): tag purchases and clicks, union, and
  * carry the last purchase forward with an ignoreNulls last() over a
  * (user, time) window — ONE shuffle on user_id, versus the
  * range-join formulation whose per-user candidate set is quadratic.
  * Purchases sort before clicks at equal timestamps (side 0 < 1), so
  * a same-instant purchase matches — exactly DuckDB's `ASOF ... ON
  * c.ts >= p.ts`, which the oracle uses natively, making it a
  * genuinely independent implementation. The right side is first
  * reduced to one row per (user, ts) (max value) so tie-breaking is
  * engine-independent. */
object Q32AsofJoin extends GraftQuery {
  val name = "q32_asof_join"
  /** Shared input prep for BOTH as-of tiers: purchases pre-reduced to
    * max(value) per (user, ts), clicks selected. One definition, so
    * the composition tier (q32) and the native tier (q32b) — which
    * are pinned to agree row-for-row through one oracle — can never
    * diverge in what they join. */
  private[graft] def asofInputs(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("pval"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("value").as("click_value"))
    (purchases, clicks)
  }
  def run(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = asofInputs(spark, dir)
    val tagged = purchases
      .select(col("user_id"), col("ts_us"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("double").as("click_value"), col("pval"))
      .unionByName(clicks
        .select(col("user_id"), col("ts_us"), lit(1).as("side"),
          col("event_id"), col("click_value"),
          lit(null).cast("double").as("pval")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("purchase_ts_us",
        last(when(col("side") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .withColumn("purchase_value",
        last(when(col("side") === 0, col("pval")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("click_value"),
        col("purchase_ts_us"), col("purchase_value"),
        (col("ts_us") - col("purchase_ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }
  val oracle = Some("""
    WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, event_type FROM events),
    p AS (SELECT user_id, ts_us AS pts, max(value) AS pval
          FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us),
    c AS (SELECT user_id, event_id, ts_us, value AS click_value
          FROM ev WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts_us, c.click_value,
           p.pts AS purchase_ts_us, p.pval AS purchase_value,
           c.ts_us - p.pts AS gap_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.pts
    ORDER BY c.event_id
  """.trim)
}

/** Q32b — the SAME as-of query through the native operator
  * (`plans/AsofJoin.scala`, the (c)-tier rung): a plain left join
  * carrying the `graft_asof_le` marker is rewritten by the injected
  * optimizer rule into the custom logical node and planned onto
  * `AsofJoinExec` — co-partition, sort, ONE streaming merge pass. No
  * union row blow-up, no window buffer, O(1) state beyond the sorts.
  * Shares q32's oracle verbatim (DuckDB's native ASOF LEFT JOIN), so
  * composition tier, native tier, and an independent engine must all
  * agree row-for-row; Round9bSpec pins that AsofJoinExec is actually
  * in the plan (the marker can't silently degrade — it's Unevaluable).
  */
object Q32bAsofJoinNative extends GraftQuery {
  val name = "q32b_asof_join_native"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val (purchases0, clicks) = Q32AsofJoin.asofInputs(spark, dir)
    val purchases = purchases0
      .select(col("user_id").as("p_user"), col("ts_us").as("pts"), col("pval"))
    clicks
      .join(purchases,
        col("user_id") === col("p_user") && expr("graft_asof_le(pts, ts_us)"),
        "left")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("click_value"),
        col("pts").as("purchase_ts_us"), col("pval").as("purchase_value"),
        (col("ts_us") - col("pts")).as("gap_us"))
      .orderBy(col("event_id"))
  }
  val oracle = Q32AsofJoin.oracle
}

/** Q27 — outer join with null-introducing aggregation: every customer
  * with their order count and decimal total, zero/0.00 for customers
  * with no orders (count over the nullable join column + coalesced
  * sum — the null semantics the inner-join pack never exercises). */
object Q27OuterJoin extends GraftQuery {
  import Relational._
  val name = "q27_outer_join"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(sum(decPrice(col("o_totalprice"))),
             lit(0).cast("decimal(14,2)")).cast("double").as("total"))
      .orderBy(col("c_custkey"))
  val oracle = Some("""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
      CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 0) AS VARCHAR) AS DOUBLE) AS total
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
  """.trim)
}

/** Q12 — exact COUNT(DISTINCT) per group + grand total via ROLLUP.
  * Catalyst expands distinct aggregation into a two-phase plan; exact
  * distinct at 100 TB shuffles (flag, partkey) once. */
object Q12DistinctAgg extends GraftQuery {
  val name = "q12_distinct_agg"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           count(lit(1)).as("n_rows"),
           grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first)
  val oracle = Some("""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows,
      CAST(GROUPING(l_returnflag) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag)
    ORDER BY gid, l_returnflag ASC NULLS FIRST
  """.trim)
}

/** Q12b — approx distinct (HLL++). Sketch results are engine-specific →
  * no DuckDB hash oracle (driver records a rows-only check); a ScalaTest
  * (ApproxDistinctSpec) asserts the ±5% envelope against the exact
  * count. rsd = 0.01: the default 0.05 is a 1-sigma bound, so ~1/3 of
  * counts would legitimately land outside ±5%; at 1% rsd a 5% miss is
  * a 5-sigma event. Sketch size is still only ~24 KB per group. */
object Q12bApproxDistinct extends GraftQuery {
  val name = "q12b_approx_distinct"
  def run(spark: SparkSession, dir: String): DataFrame =
    // Deliberately NOT spread (r19): parallelizing the partial HLL
    // (rsd 0.01 → 2^14-register sketches) was measured NET-SLOWER
    // (3.7 → 5.2 s; OPTIMIZATION_r19.md: task time inflated ~40× under 32-way
    // concurrency) — the sketch update itself is the floor here.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
           approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      .orderBy(col("l_returnflag"))
  val oracle = None
}

/** Q12c — MERGEABLE sketch re-aggregation (Apache DataSketches HLL via
  * Spark's public hll_sketch_agg/hll_union_agg): distinct-part
  * sketches are built once per fine-grained (returnflag, linestatus)
  * group, then UNIONED up to per-flag estimates without touching the
  * raw rows again — the at-scale pattern q12b's one-shot
  * approx_count_distinct can't express (persist the sketch column,
  * re-aggregate along any rollup later). Sketch bytes are
  * engine-specific, so the hash-stable contract is the q30b pattern:
  * exact counts plus an in-query tolerance flag (default lgConfigK=12
  * → ~1.6% rsd; the 5% bound is ~3σ), with DuckDB emitting literal
  * TRUE — a drifting sketch hash-fails honestly. */
object Q12cHllSketchUnion extends GraftQuery {
  val name = "q12c_hll_sketch_union"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sub = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
    val merged = sub.groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"))
    merged.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_parts"),
        (abs(col("est") - col("n_parts")) <= col("n_parts") * 0.05).as("sketch_ok"))
      .orderBy(col("l_returnflag"))
  }
  val oracle = Some("""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
           TRUE AS sketch_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
  """.trim)
}

/** Q13 — scalar function surface (string/date/math), row-level so every
  * value is a pure per-row expression — identical IEEE ops both engines. */
object Q13ScalarFns extends GraftQuery {
  val name = "q13_scalar_functions"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
      upper(substring(col("o_orderpriority"), 1, 1)).as("prio_code"),
      concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
      length(col("o_orderpriority")).as("prio_len"),
      abs(col("o_totalprice")).as("abs_price"),
      (col("o_totalprice") / lit(1000.0)).as("price_k"))
      .orderBy(col("o_orderkey"))
  val oracle = Some("""
    SELECT o_orderkey,
      CAST(year(o_orderdate) AS INT) AS yr,
      CAST(month(o_orderdate) AS INT) AS mo,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      upper(substring(o_orderpriority, 1, 1)) AS prio_code,
      concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
      CAST(length(o_orderpriority) AS INT) AS prio_len,
      abs(o_totalprice) AS abs_price,
      o_totalprice / 1000.0 AS price_k
    FROM orders ORDER BY o_orderkey
  """.trim)
}

/** Q14 — JSON extraction + grouped stats. */
object Q14Json extends GraftQuery {
  val name = "q14_json_extract"
  def run(spark: SparkSession, dir: String): DataFrame = {
    // wide: the JSON parse is the dominant map and feeds a map-side
    // partial agg — no downstream keyed exchange to collide with.
    val ev = Tables.events(spark, dir, wide = true)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
    ev.groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"),
           (sum(col("k").cast("long")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))
  }
  val oracle = Some("""
    SELECT event_type, COUNT(k) AS n,
      MIN(k) AS min_k, MAX(k) AS max_k,
      CAST(SUM(CAST(k AS BIGINT)) AS DOUBLE) / COUNT(k) AS avg_k
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
    GROUP BY event_type ORDER BY event_type
  """.trim)
}

/** Q15 — array higher-order functions over embeddings: per-row stats
  * via aggregate() (sequential fold → decimal accumulator keeps the
  * cross-engine sum exact), then grouped per label. */
object Q15ArrayFns extends GraftQuery {
  val name = "q15_array_hof_stats"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val perRow = Tables.embeddings(spark, dir).select(
      col("label"),
      size(col("embedding")).as("dim"),
      aggregate(col("embedding"), lit(new java.math.BigDecimal("0.0000000000")).cast("decimal(30,10)"),
        (acc, x) => (acc + x.cast("decimal(30,10)")).cast("decimal(30,10)")).as("elem_sum_dec"),
      array_min(col("embedding")).as("row_min"),
      array_max(col("embedding")).as("row_max"))
    perRow.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           min(col("dim")).as("min_dim"),
           max(col("dim")).as("max_dim"),
           sum(col("elem_sum_dec")).cast("double").as("sum_elems"),
           min(col("row_min")).as("min_elem"),
           max(col("row_max")).as("max_elem"))
      .orderBy(col("label"))
  }
  val oracle = Some("""
    SELECT label, COUNT(*) AS n_vecs,
      MIN(dim) AS min_dim, MAX(dim) AS max_dim,
      CAST(CAST(SUM(elem_sum_dec) AS VARCHAR) AS DOUBLE) AS sum_elems,
      MIN(row_min) AS min_elem, MAX(row_max) AS max_elem
    FROM (
      SELECT label,
        CAST(len(embedding) AS INT) AS dim,
        list_aggregate(list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(30,10))), 'sum') AS elem_sum_dec,
        list_aggregate(embedding, 'min') AS row_min,
        list_aggregate(embedding, 'max') AS row_max
      FROM embeddings)
    GROUP BY label ORDER BY label
  """.trim)
}

/** Q16 — equi + range (theta) join: SortMergeJoin on the equi key with
  * the BETWEEN as a post-join predicate — the scalable shape (never a
  * cartesian). */
object Q16RangeJoin extends GraftQuery {
  val name = "q16_range_join_shipping"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_ships"),
           (sum(datediff(col("l_shipdate"), col("o_orderdate")).cast("long")).cast("double")
             / count(lit(1))).as("avg_gap_days"))
      .orderBy(col("o_orderstatus"))
  }
  val oracle = Some("""
    SELECT o_orderstatus, COUNT(*) AS n_ships,
      CAST(SUM(CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_gap_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      AND l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderstatus ORDER BY o_orderstatus
  """.trim)
}

/** Q17 — sessionization as batch windows: session boundary = gap > 30
  * min, session id = running count of boundaries. All integer (µs)
  * arithmetic → engine-exact. Must agree with streaming S4. */
object Q17Sessionize extends GraftQuery {
  val name = "q17_sessionize"
  private val GapUs = 30L * 60 * 1000 * 1000
  def run(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("start_us"),
           max(col("ts_us")).as("end_us"),
           sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }
  val oracle = Some("""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
      FROM events),
    s AS (
      SELECT *, SUM(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM e)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id
  """.trim)
}

/** Q33 — explicit GROUPING SETS: two independent one-dimension
  * groupings plus the grand total in ONE scan — the set
  * ((status), (priority), ()) is expressible as neither ROLLUP (which
  * would add (status, priority)) nor CUBE (same), so it exercises the
  * general grouping-sets expansion the Q9/Q10 pack can't reach.
  * Catalyst plans a single Expand + one shuffled aggregation: at
  * 100 TB the fact table is read once, not once per GROUP BY.
  * GROUPING() flags disambiguate "grouped-out" from data nulls. */
object Q33GroupingSets extends GraftQuery {
  import Relational._
  val name = "q33_grouping_sets"
  def run(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           sum(decPrice(col("o_totalprice"))).cast("double").as("total"),
           grouping(col("o_orderstatus")).cast("int").as("g_status"),
           grouping(col("o_orderpriority")).cast("int").as("g_priority"))
      .orderBy(col("g_status"), col("g_priority"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  val oracle = Some("""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total,
      CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_priority,
      o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
  """.trim)
}

/** Q34 — skew-salted join as a first-class query: per-nation order
  * count + decimal revenue, with the orders⋈customer join spread over
  * 16 salt buckets. The probe side derives a uniform salt from a
  * per-row key (hash(o_orderkey) — NOT the join key, which is what's
  * skewed); the build side is replicated ×16 via explode(sequence),
  * so one hot custkey's rows land on 16 tasks instead of one. The
  * salt never reaches the aggregate, so the result is exactly the
  * plain join the oracle computes. This is the manual fallback for
  * single-key skew beyond what AQE's skew-join splitting handles —
  * measured (HISTORY.md, round-12 AQE skew-join): when AQE CAN split, it
  * beats this salt 1.7–2.4× (it splits only hot partitions; salting
  * replicates the build side ×16 for every key), so the plain join
  * under the session's AQE default is the first choice; the salt
  * earns its keep when a downstream aggregation keys on the join key
  * and OptimizeSkewedJoin declines the split (skew=false, 1.4–1.9×
  * for salt + two-level agg) — both behaviors pinned by
  * SkewJoinSpec. BucketingSpec plan-asserts the salted-aggregation
  * twin. */
object Q34SaltedJoin extends GraftQuery {
  import Relational._
  private val Salts = 16
  val name = "q34_salted_skew_join"
  def run(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .withColumn("salt", pmod(hash(col("o_orderkey")), lit(Salts)))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        explode(sequence(lit(0), lit(Salts - 1))).as("salt"))
    orders
      .join(cust, orders("o_custkey") === cust("c_custkey") &&
        orders("salt") === cust("salt"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
           sum(decPrice(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("n_name"))
  }
  val oracle = Some("""
    SELECT n_name, count(*) AS n_orders,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
  """.trim)
}
