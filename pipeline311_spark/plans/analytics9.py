"""A referential-integrity audit."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.plans.common import table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Referential-integrity audit: dangling-FK counts across the star
# schema in one pass (the data-quality sweep a warehouse runs after
# every load; generalizes the reference's schema asserts, SURVEY §5).
# ---------------------------------------------------------------------------

_RI_SQL = """
SELECT
  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orders_dangling_cust,
  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS lineitem_dangling_order,
  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS lineitem_dangling_part,
  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS lineitem_dangling_supp,
  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS customer_dangling_nation
"""


@register("audit_referential_integrity", _RI_SQL, covers=("J3", "A6", "S6"))
def q_ri_audit(spark, sf_dir):
    from pipeline311_spark.operators.joins import anti_join

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")

    def dangling(child, parent, child_key, parent_key):
        pk = parent.select(F.col(parent_key).alias(child_key))
        return anti_join(child, pk, child_key, broadcast_right=True).count()

    row = (
        dangling(o, c, "o_custkey", "c_custkey"),
        dangling(li, o, "l_orderkey", "o_orderkey"),
        dangling(li, p, "l_partkey", "p_partkey"),
        dangling(li, s, "l_suppkey", "s_suppkey"),
        dangling(c, n, "c_nationkey", "n_nationkey"),
    )
    return spark.createDataFrame(
        [row],
        "orders_dangling_cust long, lineitem_dangling_order long, "
        "lineitem_dangling_part long, lineitem_dangling_supp long, "
        "customer_dangling_nation long",
    )
