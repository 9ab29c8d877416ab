"""Sinks K1-K9 (SURVEY §2.2).

CSV/S3 staging hops (K1/K2) collapse into direct ``df.write`` — with an
``s3a://`` path the same line ships to S3.  The AGO batched REST writer
(K5-K7: 50-feature adds, 26-key deletes, retry ladders,
sync-db2-ago.py:249-380) generalizes to ``batched_foreach_writer``:
batching + retry/backoff live per-partition in the executor, the
DataFrame stays distributed, and batch size/retry policy are parameters
(reference defaults preserved).

**One parquet writer.**  Every table the package persists — the
bronze MERGE, the first-batch and unpartitioned rewrites, and every
row, sum and tombstone log of the stored indexes — is written through
:func:`parquet_writer`; no other module outside ``plans/`` reads
``DataFrame.write`` (``tests/test_tools_imports.py`` enforces it).

* **Format.**  Every file is parquet with the same layout, fixed by
  module constants rather than parameters or package confs: a conf
  would only reach the sessions that set it, and the benchmark and
  ``__spark_entry__.py`` callers bring their own.

  - *Codec.*  :data:`PARQUET_CODEC` (zstd).  Against Spark's default
    snappy it cuts the persisted bytes by a fifth to a quarter
    (SCALE.md, "Storage codec").
  - *Page version.*  :data:`PARQUET_WRITER_VERSION` (``v2``) data
    pages: INT64 columns that leave the dictionary (unique keys,
    timestamps) encode as ``DELTA_BINARY_PACKED``, strings as
    ``DELTA_BYTE_ARRAY``, and dictionaries as ``RLE_DICTIONARY``.
  - *Timestamp type.*  :data:`PARQUET_TIMESTAMP_TYPE`
    (``TIMESTAMP_MICROS``): timestamps are physical INT64 with logical
    type ``TIMESTAMP(MICROS)``, not Spark's default INT96, so they are
    smaller and carry footer min/max statistics, which row-group
    skipping on the ``updated_datetime`` watermark needs.  It cannot
    be a write option: Spark's ``ParquetUtils.prepareWrite`` overwrites
    the Hadoop key from the session's ``SQLConf``, so
    ``.option("spark.sql.parquet.outputTimestampType", ...)`` still
    writes INT96.  :func:`parquet_writer` therefore sets the session
    conf itself, a constant and idempotent ``conf.set`` like the
    ``nanosAsLong`` pin in ``sources/readers.load_table``.  It is
    never restored after the write: ``ext/artifact.run_jobs`` writes
    from pool threads, and a set-and-restore would race and make a
    file's physical type depend on timing.
  - *Sorted columns.*  The columns a caller says each task's rows are
    sorted by (``write_parquet(sorted_by=...)``; today the BM25
    postings' ``(term, doc_id)``, from ``ext/artifact._write_rows``)
    are written without a dictionary, so the v2 pages front-code a
    sorted string column (``DELTA_BYTE_ARRAY``) and d-gap a sorted
    integer column (``DELTA_BINARY_PACKED``).  On the benchmark's
    postings file that is about a fifth fewer bytes than
    ``RLE_DICTIONARY`` (SCALE.md, "Postings encoding").  It is not a
    knob: it states how the rows are laid out, which only the code
    that sorted them knows, and every other column keeps the default
    (a dictionary that falls back to a delta encoding when it does not
    pay).

  Spark, DuckDB 1.0 and pyarrow all read the files.  Spark reads a
  table that mixes INT96 files written before this layout with INT64
  ones as one column of identical values; DuckDB reads INT64
  ``TIMESTAMP(MICROS)`` as ``TIMESTAMP WITH TIME ZONE`` (README,
  "Storage format").
* **Overwrite contract.**  The writer sets no save mode and no
  ``partitionOverwriteMode``; each call site keeps its own.  A
  partitioned ``overwrite`` follows the session's
  ``partitionOverwriteMode`` unless the call site sets it.  The
  partitioned MERGE sets ``dynamic`` itself.  A stored-index batch
  write (``ext/artifact.write_batch_partition``) overwrites its own
  ``batch_id=`` directory and, in the default static mode, replaces
  every sub-directory a crashed attempt left there.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, DataFrameWriter, Row

#: Compression codec of every parquet file the package persists.
PARQUET_CODEC = "zstd"
#: Parquet data-page version of every file the package persists.
PARQUET_WRITER_VERSION = "v2"
#: Physical type of every timestamp column the package persists.
PARQUET_TIMESTAMP_TYPE = "TIMESTAMP_MICROS"


def parquet_writer(df: DataFrame) -> DataFrameWriter:
    """The package's one parquet writer for ``df``: format, codec, page
    version and timestamp type set (the last on ``df``'s session, see
    the module docstring), save mode and partitioning left to the
    caller (see the overwrite contract)."""
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", PARQUET_TIMESTAMP_TYPE)
    return (
        df.write.format("parquet")
        .option("compression", PARQUET_CODEC)
        .option("parquet.writer.version", PARQUET_WRITER_VERSION)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sorted_by: Sequence[str] = (),
) -> None:
    """Write ``df`` to ``path`` through :func:`parquet_writer`.
    ``sorted_by`` names the columns each task's rows are sorted by (a
    fact about ``df``, see "Sorted columns" in the module note); they
    are written without a dictionary."""
    w = parquet_writer(df).mode(mode)
    for col in sorted_by:
        w = w.option(f"parquet.enable.dictionary#{col}", "false")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1 (sync-db2.py:71-72 petl tocsv)."""
    df.write.mode(mode).option("header", True).csv(path)


def overwrite_reload(df: DataFrame, path: str) -> None:
    """K9: truncate + reload (seed.py:20-39)."""
    write_parquet(df, path, mode="overwrite")


def batched_foreach_writer(
    df: DataFrame,
    send: Callable[[list[Row]], None],
    batch_size: int = 50,
    max_tries: int = 5,
    backoff_s: float = 1.0,
    throttle_s: float = 0.0,
    retryable: tuple[type[Exception], ...] = (Exception,),
) -> None:
    """K5/K6/T3/T4/T6: per-partition batched push with bounded retry.

    ``send`` receives at most ``batch_size`` rows and must be idempotent
    (the reference achieves idempotence by delete-then-add, K7).
    Defaults mirror the reference envelope: 50-row batches
    (sync-db2-ago.py:34), 5 tries with sleeps (sync-db2-ago.py:296-336).
    ``throttle_s`` is the politeness pause between successful batches
    (T6, delete-removed-tickets.py:146-147) — note it is per executor
    slot, so the aggregate request rate scales with parallelism; cap
    the writer's partition count to bound it globally.
    Runs on executors — the driver never sees the rows.
    """

    def handle_partition(rows: Iterable[Row]) -> None:
        batch: list[Row] = []

        def flush() -> None:
            if not batch:
                return
            for attempt in range(1, max_tries + 1):
                try:
                    send(list(batch))
                    break
                except retryable:
                    if attempt == max_tries:
                        raise
                    time.sleep(backoff_s * attempt)
            batch.clear()
            if throttle_s:
                time.sleep(throttle_s)

        for row in rows:
            batch.append(row)
            if len(batch) >= batch_size:
                flush()
        flush()

    df.foreachPartition(handle_partition)
