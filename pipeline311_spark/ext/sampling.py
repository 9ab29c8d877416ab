"""Deterministic hash buckets (training-data pipeline).

``sample()``/``randomSplit()`` are seed-dependent but *partitioning*-
dependent too — rerunning on a repartitioned 100 TB corpus yields a
different sample.  Hash-based assignment is the production answer:
bucket = hash(stable_id) mod N, sample/split by bucket range.  Fully
deterministic across runs, partitionings, and engines (md5-based portable hash →
the DuckDB oracle reproduces the exact same rows).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pipeline311_spark.ext.hashing import portable_hash, portable_hash_sql


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash(c.cast("string")) % F.lit(buckets)


def hash_bucket_sql(expr: str, buckets: int = 100) -> str:
    return f"({portable_hash_sql(f'CAST({expr} AS VARCHAR)')}) % {buckets}"

