package graft.operators

import graft.{Fns, Op, Tables}
import graft.Fns.{cents, centsSql, sumMoney, sumMoneySql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / analytic core (SURVEY.md §2, rows q1–q14).
  *
  * Design notes for 100 TB (SURVEY.md §4): dimension joins are
  * broadcast-hinted; fact-fact joins shuffle on their join keys and rely
  * on AQE for skew; every aggregate the oracle compares sums exact
  * long cents (see [[graft.Fns.cents]]) so results are order-independent.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  // ---- q1_agg: TPC-H Q1 shape — scan + filter pushdown + hash agg ----
  private val q1 = Op(
    "q1_agg",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            / 10000.0).as("sum_disc_price"),
          (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
            * (lit(100L) + cents(col("l_tax")))) / 1000000.0).as("sum_charge"),
          round((sum(cents(col("l_quantity"))) / 100.0) / count(lit(1)), 6)
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${sumMoneySql("l_quantity")} AS sum_qty,
        ${sumMoneySql("l_extendedprice")} AS sum_base_price,
        (SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) / 10000.0) AS sum_disc_price,
        (SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")}) * (100 + ${centsSql("l_tax")})) / 1000000.0) AS sum_charge,
        ROUND((SUM(${centsSql("l_quantity")}) / 100.0) / COUNT(*), 6) AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02'
      GROUP BY l_returnflag, l_linestatus"""))

  // ---- q2_filter_project: predicate + column pruning reach the scan ----
  private val q2 = Op(
    "q2_filter_project",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_size").between(10, 25) && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice")),
    Some("""
      SELECT p_partkey, p_name, p_brand, p_retailprice
      FROM part WHERE p_size BETWEEN 10 AND 25 AND p_type = 'PROMO'"""))

  // ---- q3_join_agg: TPC-H Q3 shape — 3-way join + agg ----
  private val q3 = Op(
    "q3_join_agg",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          / 10000.0).as("revenue"))
    },
    Some(s"""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        (SUM(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})) / 10000.0) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-07-01'
        AND l_shipdate  > TIMESTAMP '1998-07-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority"""))

  // ---- q4_broadcast_dim: star join, dims broadcast ----
  private val q4 = Op(
    "q4_broadcast_dim",
    (s, dir) => {
      val dims = broadcast(
        t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey")))
      t(s, dir, "customer")
        .join(dims, col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sumMoney(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
    },
    Some(s"""
      SELECT r_name, n_name,
        ${sumMoneySql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
      FROM region, nation, customer, orders
      WHERE r_regionkey = n_regionkey AND n_nationkey = c_nationkey
        AND c_custkey = o_custkey
      GROUP BY r_name, n_name"""))

  // ---- q5_sort_topk: total order + limit (deterministic tiebreak) ----
  private val q5 = Op(
    "q5_sort_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(15)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""))

  // ---- q6_window_rank: window functions ----
  private val q6 = Op(
    "q6_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rk"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) WHERE rk <= 3"""))

  // ---- q7_semi_join: EXISTS → left-semi ----
  private val q7 = Op(
    "q7_semi_join",
    (s, dir) =>
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") > 45),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
    Some("""
      SELECT s_suppkey, s_name, s_acctbal FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem
        WHERE l_suppkey = s_suppkey AND l_quantity > 45)"""))

  // ---- q8_anti_join: NOT EXISTS → left-anti ----
  private val q8 = Op(
    "q8_anti_join",
    (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 300000)"""))

  // ---- q9_rollup: grouping sets ----
  private val q9 = Op(
    "q9_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${sumMoneySql("l_quantity")} AS sum_qty, COUNT(*) AS cnt
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""))

  // ---- q10_distinct_agg: exact distinct counts ----
  private val q10 = Op(
    "q10_distinct_agg",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nparts"),
          countDistinct(col("l_suppkey")).as("nsupps"),
          count(lit(1)).as("cnt")),
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nparts,
        COUNT(DISTINCT l_suppkey) AS nsupps, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag"""))

  // ---- q11_union_merge: union-distinct then re-agg ----
  private val q11 = Op(
    "q11_union_merge",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val early = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderstatus"))
      hi.union(early).distinct()
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS cnt FROM (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 300000
        UNION
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderdate < TIMESTAMP '1996-01-01')
      GROUP BY o_orderstatus"""))

  // ---- q12_case_agg: conditional aggregation (TPC-H Q12 shape) ----
  private val q12 = Op(
    "q12_case_agg",
    (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("l_quantity") > 25, 1).otherwise(0)).as("high_qty_lines"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("returned_lines"),
          count(lit(1)).as("lines")),
    Some("""
      SELECT o_orderpriority,
        CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty_lines,
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_lines,
        COUNT(*) AS lines
      FROM orders, lineitem WHERE o_orderkey = l_orderkey
      GROUP BY o_orderpriority"""))

  // ---- q13_time_window: tumbling day window over events ----
  private val q13 = Op(
    "q13_time_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumMoney(col("value")).as("sum_value")),
    Some(s"""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        COUNT(*) AS n, ${sumMoneySql("value")} AS sum_value
      FROM events GROUP BY 1, 2"""))

  // ---- q14_sessionize: gap-based sessions via window lag + cumsum ----
  private val q14 = Op(
    "q14_sessionize",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = unix_micros(col("ts").cast("timestamp")) - lag(unix_micros(col("ts").cast("timestamp")), 1)
        .over(byUser)
      Tables.events(s, dir)
        .withColumn("new_s",
          when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sumMoney(col("value")).as("sum_value"))
    },
    Some(s"""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
          CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                 OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT user_id, ts, value,
          CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(ts) AS session_start, MAX(ts) AS session_end,
        ${sumMoneySql("value")} AS sum_value
      FROM sess GROUP BY user_id, session_id"""))

  val ops: Seq[Op] =
    Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11, q12, q13, q14)
}
