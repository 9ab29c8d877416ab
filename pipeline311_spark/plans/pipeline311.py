"""Pipeline-parity queries: the reference's dataflow operators
(watermark reads, boundary semantics, MERGE/upsert, deletion
reconciliation, tombstones, backfill windows — SURVEY §2.4-§2.8, §3)
exercised over the driver's ``events``/``customer``/``orders`` tables,
exactly as FIXTURES.md prescribes (events.ts plays ``updated_datetime``,
user_id/event_id play the primary keys).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.operators.backfill import partition_window_filter
from pipeline311_spark.operators.joins import anti_join, semi_join
from pipeline311_spark.operators.merge import latest_per_key, upsert
from pipeline311_spark.plans.common import dsum, fmt_ts, fmt_ts_sql, table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# A1/A3 — watermark reads
# ---------------------------------------------------------------------------

_A1_SQL = f"""
SELECT {fmt_ts_sql('max(ts)')} AS watermark, COUNT(*) AS n_rows FROM events
"""


@register("a1_max_watermark", _A1_SQL, covers=("A1", "A2", "S8"))
def a1_watermark(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return e.agg(fmt_ts(F.max("ts")).alias("watermark"), F.count("*").alias("n_rows"))


_A3_SQL = f"""
SELECT {fmt_ts_sql("coalesce(max(CASE WHEN event_type = 'nope' THEN ts END), TIMESTAMP '1970-01-01 00:00:00')")} AS watermark
FROM events
"""


@register("a3_coalesced_watermark", _A3_SQL, covers=("A3",))
def a3_watermark(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    empty_max = F.max(F.when(F.col("event_type") == "nope", F.col("ts")))
    return e.agg(
        fmt_ts(F.coalesce(empty_max, F.lit("1970-01-01").cast("timestamp"))).alias("watermark")
    )


# ---------------------------------------------------------------------------
# F2/F3/F4 — range + watermark boundary semantics (strict vs inclusive)
# ---------------------------------------------------------------------------

# Watermark = max ts among user_id < 5 — a deterministic mid-range instant
# that exists in the data, so > vs >= differ by exactly the boundary rows.
_F34_SQL = """
WITH w AS (SELECT max(ts) AS w FROM events WHERE user_id < 5)
SELECT
  COUNT(CASE WHEN ts > (SELECT w FROM w) THEN 1 END) AS strict_n,
  COUNT(CASE WHEN ts >= (SELECT w FROM w) THEN 1 END) AS inclusive_n
FROM events
"""


@register("f3_f4_watermark_boundary", _F34_SQL, covers=("F3", "F4"))
def f34_boundary(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = e.filter(F.col("user_id") < 5).agg(F.max("ts")).first()[0]
    return e.agg(
        F.count(F.when(F.col("ts") > F.lit(w), 1)).alias("strict_n"),
        F.count(F.when(F.col("ts") >= F.lit(w), 1)).alias("inclusive_n"),
    )


# ---------------------------------------------------------------------------
# J3/J4 — anti/semi joins
# ---------------------------------------------------------------------------

_J3_SQL = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@register("j3_anti_reconcile", _J3_SQL, covers=("J3", "S3"))
def j3_anti(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return anti_join(cust, orders, "c_custkey").select("c_custkey")


_J4_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_mktsegment
"""


@register("j4_semi_probe", _J4_SQL, covers=("J4", "S5", "F6"))
def j4_semi(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    fo = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return semi_join(cust, fo, "c_custkey").groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# K3/J1 — the MERGE kernel (window-dedup upsert)
# ---------------------------------------------------------------------------

_K3_SQL = f"""
WITH unioned AS (
  SELECT *, 0 AS src FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT *, 1 AS src FROM events WHERE event_id % 2 = 1
),
ranked AS (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, src DESC) AS rn
  FROM unioned
)
SELECT user_id, event_id, event_type, {fmt_ts_sql('ts')} AS ts_str
FROM ranked WHERE rn = 1
"""


@register("k3_upsert_merge", _K3_SQL, covers=("K3", "J1", "J2", "K4", "K7", "O5"))
def k3_upsert(spark, sf_dir):
    e = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    target = e.filter(F.col("event_id") % 2 == 0)
    updates = e.filter(F.col("event_id") % 2 == 1)
    merged = upsert(target, updates, key="user_id", version_col="ts")
    return merged.select("user_id", "event_id", "event_type", fmt_ts("ts").alias("ts_str"))


_O5_SQL = f"""
SELECT user_id, event_id, event_type, {fmt_ts_sql('ts')} AS ts_str
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


@register("o5_latest_per_key", _O5_SQL, covers=("O5", "T1"))
def o5_latest(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    latest = latest_per_key(e, key="user_id", version_col="ts", tiebreak="event_id")
    return latest.select("user_id", "event_id", "event_type", fmt_ts("ts").alias("ts_str"))


# ---------------------------------------------------------------------------
# T2/S10 — partition-pruned backfill window
# ---------------------------------------------------------------------------

_T2_SQL = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS window_total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
"""


@register("t2_backfill_window", _T2_SQL, covers=("T2", "S10", "F2"))
def t2_backfill(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    win = partition_window_filter(o, "o_orderdate", year=1997, month=3)
    return win.agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("window_total")
    )
