"""Declarative readers (SURVEY §2.1).

S1 (Salesforce SOQL scan with pushed filter+projection) maps to any
DSv2 source that supports pushdown; in this repo the landed form is
parquet — ``spark.read.parquet(...).select(cols).filter(pred)`` gives
the same pushed projection+filter via Catalyst (check ``PushedFilters``
in ``.explain("formatted")``).  S4 is ``spark.read.jdbc`` with
Catalyst-pushed predicates.  S9 is ``spark.read.csv`` with an explicit
schema (never ``inferSchema`` — SURVEY §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pipeline311_spark.schemas import TESTDATA_SCHEMAS

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """S9 (seed.py:25-36 csv.DictReader) — explicit schema, no inference."""
    return spark.read.schema(schema).option("header", header).csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """S4 (sync-db2-ago.py:543-571 Postgres scan).  At scale, always pass
    ``partition_column`` bounds so the scan parallelizes instead of one
    executor streaming the whole table; filters written on the returned
    DataFrame are pushed into the remote WHERE clause by Catalyst
    (verify: ``PushedFilters`` on the ``Scan JDBCRelation`` node —
    covered by tests/test_jdbc.py against an embedded Derby database).

    ``predicates``: explicit per-partition WHERE clauses (one partition
    per predicate) — the escape hatch when no numeric
    ``partition_column`` exists."""
    if predicates:
        return spark.read.jdbc(
            url=url,
            table=table,
            predicates=list(predicates),
            properties={k: str(v) for k, v in options.items()},
        )
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def normalize_event_time(df: DataFrame, expected: T.StructType | None = None) -> DataFrame:
    """Normalize timestamp columns to one physical type (TIMESTAMP_LTZ)
    so no downstream plan ever sees the parquet's physical encoding.

    The driver testdata has shipped as TIMESTAMP(NANOS) (vectorized
    reader rejects it -> read as long under ``nanosAsLong`` and coerce)
    and as tz-naive micros (Spark 4 infers TIMESTAMP_NTZ).  Both are
    mapped to TimestampType here; the session timezone is pinned to UTC
    (session.prep_session), so NTZ -> LTZ is value-identical and every
    epoch function (``unix_micros`` etc.) works uniformly.
    """
    from pyspark.sql import functions as F

    ts_fields = (
        {f.name for f in expected.fields if isinstance(f.dataType, T.TimestampType)}
        if expected is not None
        else None
    )
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
        elif dtype == "bigint" and ts_fields is not None and col_name in ts_fields:
            # nanos-as-long: floor-divide to micros (matches DuckDB truncation)
            df = df.withColumn(
                col_name, F.timestamp_micros(F.expr(f"`{col_name}` div 1000"))
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md), with event-time
    columns normalized to a single timestamp type regardless of the
    parquet physical encoding (see :func:`normalize_event_time`)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_time(df, TESTDATA_SCHEMAS.get(name))
