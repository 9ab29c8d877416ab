"""Last coverage fills: F8 IN-list predicate, O2 desc-order scan,
P15 UTC-string relocalization."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pipeline311_spark.plans.common import table
from pipeline311_spark.plans.registry import register

_F8_SQL = """
SELECT o_orderstatus, COUNT(*) AS n
FROM orders
WHERE o_custkey IN (1, 7, 42, 99, 123)
GROUP BY o_orderstatus
"""


@register("f8_in_list", _F8_SQL, covers=("F7", "F8"))
def q_f8(spark, sf_dir):
    from pipeline311_spark.operators.filters import key_in

    o = table(spark, sf_dir, "orders")
    return key_in(o, "o_custkey", [1, 7, 42, 99, 123]).groupBy("o_orderstatus").agg(
        F.count("*").alias("n")
    )


# O2: descending scan order made value-visible via row_number
_O2_SQL = """
SELECT s_suppkey, s_name,
       CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey DESC) AS BIGINT) AS scan_pos
FROM supplier
"""


@register("o2_desc_scan_order", _O2_SQL, covers=("O1", "O2"))
def q_o2(spark, sf_dir):
    s = table(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_suppkey").desc())
    return s.select(
        "s_suppkey", "s_name", F.row_number().over(w).cast("long").alias("scan_pos")
    )


# P15: '+0000'-suffixed strings re-rendered as US/Eastern wall time;
# other strings pass through untouched (sync-db2-ago.py:164-169
# semantics, minus its module-level strptime bug).
_P15_SQL = """
WITH src AS (
  SELECT event_id,
         CASE WHEN event_id % 2 = 0
              THEN strftime(ts, '%Y-%m-%d %H:%M:%S') || '+0000'
              ELSE 'already local' END AS s
  FROM events WHERE event_id < 200)
SELECT event_id,
       CASE WHEN s LIKE '%+0000%'
            THEN strftime(timezone('America/New_York',
                          timezone('UTC', strptime(substring(s, 1, 19), '%Y-%m-%d %H:%M:%S'))),
                 '%Y-%m-%d %H:%M:%S')
            ELSE s END AS localized
FROM src
"""


@register("p15_utc_relocalize", _P15_SQL, covers=("P15", "P16", "P9"))
def q_p15(spark, sf_dir):
    from pipeline311_spark.functions.timeparse import utc_string_relocalize

    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    src = e.select(
        "event_id",
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit("+0000")),
        )
        .otherwise(F.lit("already local"))
        .alias("s"),
    )
    return src.select("event_id", utc_string_relocalize("s").alias("localized"))
