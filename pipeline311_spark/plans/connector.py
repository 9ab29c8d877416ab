"""Connector scans under the oracle gate: a live JDBC scan (S4) with
a pushed predicate and a partitioned read."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipeline311_spark.plans.common import materialize, scratch_dir, table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# S4: live JDBC scan under the oracle gate.  Embedded Derby (on Spark's
# classpath) is the in-container stand-in for the reference's Postgres
# (sync-db2-ago.py:543-571); the supplier table is seeded through
# Spark's JDBC writer, re-read via read_jdbc with a pushed predicate +
# partitioned scan, and the aggregate is compared against DuckDB
# reading the source parquet directly.
# ---------------------------------------------------------------------------

_JDBC_SQL = """
SELECT s_nationkey, COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
WHERE s_acctbal > 0
GROUP BY s_nationkey
"""


@register("s4_jdbc_scan", _JDBC_SQL, covers=("S4",))
def q_jdbc_scan(spark, sf_dir):
    from pipeline311_spark.plans.common import dsum
    from pipeline311_spark.sources.readers import read_jdbc

    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    n_sup = 10000  # generous upper bound on s_suppkey at any test SF
    with scratch_dir("derby") as db:
        url = f"jdbc:derby:{db};create=true"
        try:
            sup.coalesce(1).write.format("jdbc").option("url", url).option(
                "dbtable", "supplier"
            ).mode("overwrite").save()
            back = read_jdbc(
                spark, url, "supplier",
                partition_column="s_suppkey", lower_bound=0, upper_bound=n_sup,
                num_partitions=4,
            )
            return (
                back.filter(F.col("s_acctbal") > 0)  # pushed into the remote WHERE
                .groupBy("s_nationkey")
                .agg(F.count("*").alias("n_suppliers"), dsum("s_acctbal").alias("total_bal"))
            ).transform(materialize)  # materialize before the shutdown and cleanup
        finally:
            _derby_shutdown(spark, db)


def _derby_shutdown(spark, db: str) -> None:
    """Shut an embedded Derby database down: Derby keeps a booted
    database open in the JVM (file handles, lock file, cache) until told
    otherwise.  A clean shutdown reports SQLState 08006."""
    if not os.path.isdir(db):
        return  # never booted
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};shutdown=true")
    except Py4JJavaError as e:
        if e.java_exception.getSQLState() != "08006":
            raise
