"""Relational query surface: scans, filters, joins, aggregates, sorts,
windows, rollup/cube (SURVEY §2.1, §2.4-§2.7 — the
operator classes the reference exercises, generalized to the driver's
TPC-H-ish tables, plus the grouped-aggregate surface Spark gives for
free per SURVEY §2.6 note).

Every query is declarative DataFrame/SQL — Catalyst pushes the filters
and projections into the parquet scans (verify: ``PushedFilters`` in
``.explain``) and picks broadcast joins for the dimension tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from pipeline311_spark.plans.common import (
    REVENUE_SQL,
    dsum,
    fmt_ts,
    fmt_ts_sql,
    revenue_expr,
    table,
)
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# q01 — TPC-H Q1-style pricing summary (scan → filter → groupBy agg → sort)
# ---------------------------------------------------------------------------

_Q01_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  {REVENUE_SQL} AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q01_pricing_summary", _Q01_SQL, covers=("A-class", "F2", "O1"))
def q01(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            revenue_expr().alias("sum_disc_price"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q03 — shipping priority (3-way join → agg → deterministic top-k)
# ---------------------------------------------------------------------------

_Q03_SQL = f"""
SELECT o_orderkey, {fmt_ts_sql('o_orderdate', micros=False)} AS orderdate, o_orderpriority,
       {REVENUE_SQL} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("q03_shipping_priority", _Q03_SQL, covers=("J-class", "F2", "O4"))
def q03(spark, sf_dir):
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_expr().alias("revenue"))
        .select(
            "o_orderkey",
            fmt_ts("o_orderdate", micros=False).alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q05 — revenue by nation (5-way join; the flagship / entry query)
# ---------------------------------------------------------------------------

_Q05_SQL = f"""
SELECT n_name, r_name, {REVENUE_SQL} AS revenue, COUNT(*) AS n_items
FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name, r_name
"""


@register("q05_nation_revenue", _Q05_SQL, covers=("S1", "F2", "J-class", "A-class"))
def q05(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(revenue_expr().alias("revenue"), F.count("*").alias("n_items"))
    )


# ---------------------------------------------------------------------------
# q10 — returned-item customers (selective join + top-k)
# ---------------------------------------------------------------------------

_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name, {REVENUE_SQL} AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_customers", _Q10_SQL, covers=("J-class", "F1", "O4"))
def q10(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue_expr().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# rollup / cube / distinct aggregates
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@register("q_rollup_counts", _ROLLUP_SQL, covers=("A-class",))
def q_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("q_cube_counts", _CUBE_SQL, covers=("A-class",))
def q_cube(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


@register("q_distinct_counts", _DISTINCT_SQL, covers=("A6",))
def q_distinct(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# sorts / top-k / windows
# ---------------------------------------------------------------------------

_TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
"""


@register("q_topk_orders", _TOPK_SQL, covers=("O1", "O4"))
def q_topk(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    ).limit(25)


_WINDOW_RANK_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders) t
WHERE rn <= 3
"""


@register("q_window_rank", _WINDOW_RANK_SQL, covers=("O5",))
def q_window_rank(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# semi-structured extraction + time bucketing (events)
# ---------------------------------------------------------------------------

_HOURLY_SQL = f"""
SELECT {fmt_ts_sql("date_trunc('hour', ts)", micros=False)} AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("q_hourly_rollup", _HOURLY_SQL, covers=("T1", "A-class"))
def q_hourly(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        fmt_ts(F.date_trunc("hour", "ts"), micros=False).alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
