"""Deterministic hash buckets and the two-phase running sum
(training-data pipeline).

``sample()``/``randomSplit()`` are seed-dependent but *partitioning*-
dependent too — rerunning on a repartitioned 100 TB corpus yields a
different sample.  Hash-based assignment is the production answer:
bucket = hash(stable_id) mod N, sample/split by bucket range.  Fully
deterministic across runs, partitionings, and engines (md5-based portable hash →
the DuckDB oracle reproduces the exact same rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipeline311_spark.ext.hashing import portable_hash, portable_hash_sql


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash(c.cast("string")) % F.lit(buckets)


def hash_bucket_sql(expr: str, buckets: int = 100) -> str:
    return f"({portable_hash_sql(f'CAST({expr} AS VARCHAR)')}) % {buckets}"


def running_sum_two_phase(
    df: DataFrame,
    part_col: str,
    order_col: str,
    val_col: str,
    out_col: str = "run_sum",
    n_buckets: int = 32,
) -> DataFrame:
    """INCLUSIVE running sum of ``val_col`` per ``part_col`` in
    ``order_col`` order — the scalable twin of
    ``sum(val) OVER (PARTITION BY part ORDER BY ord ROWS UNBOUNDED
    PRECEDING)``, for when one partition value outgrows a task (the
    dominant-source hazard of sequence packing).

    The running sum is decomposed exactly (the surrogate-id trick,
    operators/merge.py), ordered by a NUMERIC id column:

    1. range-bucket by id value (``(id - lo) div step`` — monotone in
       id, so bucket-asc + within-bucket id order IS the global order);
    2. per-(part, bucket) totals — a tiny aggregate;
    3. exclusive bucket offsets via a window over that tiny table;
    4. within-(part, bucket) running sums — n_buckets-way parallel —
       plus the broadcast offset = the exact global inclusive cumsum.

    Integer math end to end → row-identical to the single-window form
    (property-tested; the flagship pipeline runs both under one DuckDB
    oracle).  The id bounds come from ONE combinable min/max aggregate
    — an explicit driver action (documented, like the surrogate-id
    offsets in operators/merge.py), metadata-scale at any corpus size.
    NULL ids land in sentinel bucket -1, which sorts before every real
    bucket — exactly the window twin's NULLS FIRST.  ``order_col`` must
    be unique within each ``part_col`` group (both forms are
    order-ambiguous otherwise).

    The offsets join back is NULL-SAFE on ``part_col``: the window twin
    keeps a NULL partition value as its own partition, and a plain
    equi-join would silently drop those rows from both phases
    (ADVICE r8).

    The input is persisted (tracked) BEFORE the bounds aggregate: the
    bounds job warms the cache, and the two plan consumers of the
    keyed rows (bucket totals, the final join) read it instead of
    re-executing the caller's upstream — which for the flagship
    pipeline is the whole quality/dedup/decontamination chain (review
    r8: without the pin the upstream ran three times)."""
    from pipeline311_spark.ext.cache import persist_tracked

    df = persist_tracked(df)
    bounds = df.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    # lo is None for an empty frame (everything below is empty anyway)
    # or an all-NULL id column (every row lands in the sentinel bucket)
    lo_i, step = (0, 1) if lo is None else (
        int(lo), (int(hi) - int(lo)) // n_buckets + 1
    )
    keyed = df.withColumn(
        "__bucket",
        F.coalesce(
            F.expr(f"(`{order_col}` - {lo_i}) div {step}"), F.lit(-1).cast("long")
        ),
    )
    totals = keyed.groupBy(part_col, "__bucket").agg(F.sum(val_col).alias("__btot"))
    off_w = (
        Window.partitionBy(part_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "__off", F.sum("__btot").over(off_w) - F.col("__btot")
    ).select(
        F.col(part_col).alias("__part_o"),
        F.col("__bucket").alias("__bucket_o"),
        "__off",
    )
    doc_w = (
        Window.partitionBy(part_col, "__bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.join(
            F.broadcast(offsets),
            F.col(part_col).eqNullSafe(F.col("__part_o"))
            & F.col("__bucket").eqNullSafe(F.col("__bucket_o")),
        )
        .withColumn(out_col, F.col("__off") + F.sum(val_col).over(doc_w))
        .select(*df.columns, out_col)
    )
