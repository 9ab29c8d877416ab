"""Z-order (Morton) data layout for scan pruning at scale.

At 100 TB, a filter on a column the files aren't sorted by reads every
file.  Writing the table clustered by a Z-order key over the two (or
three) most-filtered dimensions makes parquet row-group min/max stats
selective on BOTH columns at once — the standard lakehouse layout move
(Delta/Iceberg ``OPTIMIZE ZORDER BY``), reproduced here for plain
parquet with nothing but Column arithmetic and a range-partitioned,
sorted write.

The key is a pure codegen'd expression (bit interleave of the
bucketized dimensions), so computing it adds no Python/UDF cost to the
write path, and the DuckDB oracle reproduces it bit-for-bit
(plans/extras.py layout_zorder_stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline311_spark.sinks.writers import write_parquet


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton code: interleave the low ``bits`` of two non-negative
    ints — bit i of x lands at position 2i, bit i of y at 2i+1.
    Callers bucketize/clamp the dimensions to [0, 2^bits) first
    (:func:`bucketize`)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def bucketize(col: Column, lo: Column | int, hi: Column | int, buckets: int) -> Column:
    """Map a value in [lo, hi] to an integer bucket in [0, buckets);
    out-of-range values clamp to the edge buckets (layout must not
    drop rows)."""
    lo_c = F.lit(lo) if isinstance(lo, int) else lo
    hi_c = F.lit(hi) if isinstance(hi, int) else hi
    span = (hi_c - lo_c).cast("double")
    # try_divide: a degenerate range (lo == hi, e.g. data-derived
    # bounds over a constant column) must bucket everything to 0, not
    # crash the write under ANSI DIVIDE_BY_ZERO
    raw = F.coalesce(
        F.floor(F.try_divide(col.cast("double") - lo_c, span) * buckets).cast("long"),
        F.lit(0).cast("long"),
    )
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(buckets - 1).cast("long"), raw))


def write_zordered(
    df: DataFrame,
    path: str,
    zkey: Column,
    num_files: int | None = None,
) -> None:
    """Write ``df`` clustered by ``zkey``: range-partition on the key
    (each output file owns a contiguous Z-range → a contiguous region
    of the (x, y) space) and sort within partitions so row-group stats
    are tight inside each file too.  One shuffle — the same cost as any
    repartition write — bought once per table version, repaid on every
    filtered scan."""
    clustered = df.withColumn("__z", zkey)
    part = (
        clustered.repartitionByRange(num_files, "__z")
        if num_files
        else clustered.repartitionByRange("__z")
    )
    write_parquet(part.sortWithinPartitions("__z").drop("__z"), path)


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance pass every
    streaming/incremental sink eventually needs (micro-batch appends at
    100 TB produce millions of KB-sized files; scan planning, footer
    reads, and the driver's split enumeration all degrade).  Rewrites
    ``path`` into ``ceil(total_bytes / target_file_bytes)`` files and
    returns the new file count.

    The rewrite is one job: scan → ``repartition(n)`` (round-robin, no
    key shuffle skew) → optional ``sortWithinPartitions`` to restore
    row-group-stat locality → atomic swap via a staging dir.  At scale
    this runs per partition-directory of the table, bounding the
    shuffle to one partition's bytes at a time.

    LOCAL-FS ONLY by design: the size walk and the two-rename atomic
    swap use ``os`` primitives (object stores have no atomic rename —
    a remote-capable compactor belongs to the table format:
    Delta/Iceberg ``OPTIMIZE``).  On a cluster this is the maintenance pass for the
    local staging tier, not the object-store warehouse.
    """
    import math
    import os
    import shutil

    # Recover a previous crashed swap BEFORE touching anything: if the
    # last run died between its two renames, the only live copy of the
    # table sits in ``.compact.old`` and ``path`` does not exist.
    old = path.rstrip("/") + ".compact.old"
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path).repartition(n)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    staging = path.rstrip("/") + ".compact.tmp"
    write_parquet(df, staging)
    # Swap by two renames — the compacted data is written ONCE
    # (posix/HDFS rename; an object-store deployment would swap the
    # table-format manifest instead).  The swap is NOT atomic: a crash
    # between the renames leaves no live dir at ``path``, which the
    # recovery below repairs on the next run — ``.old`` is only removed
    # once ``path`` exists again, so the data always has a live copy.
    shutil.rmtree(old, ignore_errors=True)  # leftover from a COMPLETED swap only
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return sum(
        1 for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
