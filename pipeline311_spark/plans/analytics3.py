"""Correlated subqueries (TPC-H q17) and connected-components dup
clustering."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import ngram_jaccard_pairs
from pipeline311_spark.ext.graph import dup_clusters
from pipeline311_spark.plans.common import dec, table
from pipeline311_spark.plans.extensions import (
    _JACCARD_MAX_DF,
    _JACCARD_N,
    _JACCARD_THRESHOLD,
    _NGRAM_JACCARD_SQL,
)
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H q17 shape): items far below their
# part's average quantity
# ---------------------------------------------------------------------------

_Q17_SQL = """
SELECT COUNT(*) AS n_small,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
FROM lineitem l
WHERE l_quantity < 0.5 * (
  SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register("q17_below_part_average", _Q17_SQL, covers=("A-class", "J-class", "F5"))
def q17(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(dec("l_quantity")).over(w).cast("double") / F.count("*").over(w)
    small = li.withColumn("avg_qty", avg_qty).filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
    return small.agg(
        F.count("*").alias("n_small"), F.sum(dec("l_extendedprice")).cast("double").alias("small_revenue")
    )


# ---------------------------------------------------------------------------
# Connected-components dup clustering (iterative label propagation vs
# a recursive-CTE oracle)
# ---------------------------------------------------------------------------

# Shared WITH-prefix: the Jaccard-pair CTEs (extracted from
# _NGRAM_JACCARD_SQL up to its final projection) + symmetric edges +
# the recursive reachability CTE.  Built ONCE; both the clusters and
# the surviving-corpus oracles append only their final SELECT.
_REACH_PREFIX = f"""
WITH RECURSIVE
{_NGRAM_JACCARD_SQL.strip().removeprefix('WITH').rsplit('SELECT', 1)[0].rstrip().rstrip(',')},
pairs AS (SELECT doc_a, doc_b FROM allpairs),
sym AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM sym) t
  UNION
  SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.node)"""

_CLUSTERS_SQL = f"""{_REACH_PREFIX}
SELECT node AS doc_id, MIN(r) AS cluster, node = MIN(r) AS is_keeper
FROM reach GROUP BY node
"""


@register("dedup_dup_clusters", _CLUSTERS_SQL, covers=("ext:dedup", "ext:graph"))
def q_dup_clusters(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, max_df=_JACCARD_MAX_DF
    ).select("doc_a", "doc_b")
    return dup_clusters(pairs)
