"""Bucketed (co-located) joins — the shuffle-elimination path for
repeated fact⋈fact joins at 100 TB.

The reference never joins two big tables (its only joins are key
probes, SURVEY.md §2.5), but the engine's star-schema workload joins
``lineitem ⋈ orders`` constantly.  Bucketing both tables on the join
key at write time hash-partitions the *files*; a later join of two
tables bucketed on the same key with the same bucket count reads
bucket-aligned splits and skips the Exchange entirely — the dominant
cost of a repeated big-big join simply disappears.  ``sortBy`` inside
buckets additionally removes the Sort below a sort-merge join.

Local tests use small bucket counts; at 100 TB you size
``n_buckets`` so one bucket of the *larger* table ≈ 128-512 MB
(e.g. 600 B rows × 100 B ≈ 60 TB → ~200k buckets is too many files;
in practice 16-64k buckets + AQE coalescing of the probe side).

Spark only writes bucketed layouts through the table catalog
(``saveAsTable``), not bare ``parquet(path)`` — that is a Spark
constraint, not ours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pipeline311_spark.sinks.writers import parquet_writer


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table (optionally external
    at ``path``), hash-bucketed on ``bucket_cols``, sorted within each
    bucket by ``sort_cols`` (defaults to the bucket columns)."""
    w = parquet_writer(df).mode(mode).bucketBy(n_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def bucketed_tables_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two cataloged tables; if both are bucketed on ``on`` with
    equal bucket counts, the plan contains no Exchange on either side
    (assert with :func:`exchange_count`)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the executed plan —
    the plan-shape probe used by tests and SCALE.md audits."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line and "BroadcastExchange" not in line
    )
