"""TPC-H q18 (large orders: HAVING over a grouped decimal sum, joined
back to orders and customer), adapted to the simplified TPC-H columns
of the test data.  ``perfbench``'s ``analytics_mix`` workload runs it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.plans.common import dec, table
from pipeline311_spark.plans.registry import register

# q18 — large orders (HAVING + join back)
_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 140)
SELECT c_custkey, c_name, o_orderkey, total_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
"""


@register("q18_large_orders", _Q18_SQL, covers=("J-class", "A-class", "O4"))
def q18(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 140)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "total_qty")
    )
