"""Every persisted table is written by the one parquet writer
(``sinks/writers.py``) in its codec, and what it writes reads back the
same in DuckDB as in Spark."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow.parquet as pq

from pipeline311_spark.sinks.writers import PARQUET_CODEC


def _codecs(root):
    """(parquet file count, set of column-chunk codecs) under ``root``."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            codecs.update(group.column(c).compression for c in range(group.num_columns))
    return len(files), codecs


def test_partitioned_merge_writes_zstd_and_duckdb_reads_it_back(spark, tmp_path):
    import duckdb

    from pipeline311_spark.operators.merge_backends import upsert_into

    schema = "key long, version long, bucket int, descr string, amount double, ts timestamp"
    t0 = dt.datetime(2024, 3, 1, 8, 30)

    def row(k, v):
        descr = f"case {k} v{v}" if k % 4 else None
        return (k, v, k % 3, descr, k * 1.25, t0 + dt.timedelta(hours=k, seconds=v))

    def upsert(versions):
        batch = spark.createDataFrame([row(k, v) for k, v in versions], schema)
        upsert_into(spark, bronze, batch, "key", "version", "bucket", assume_stable_partitions=True)

    bronze = str(tmp_path / "bronze")
    # the first batch creates the warehouse; the second runs the
    # partitioned MERGE (updates, a stale version and new keys)
    upsert([(k, 1) for k in range(12)])
    upsert([(1, 2), (4, 0), (5, 3), (20, 1), (21, 1)])

    n_files, codecs = _codecs(bronze)
    assert n_files > 0
    assert codecs == {PARQUET_CODEC.upper()}

    cols = ["key", "version", "bucket", "descr", "amount", "ts"]
    got_spark = sorted(tuple(r) for r in spark.read.parquet(bronze).select(cols).collect())
    con = duckdb.connect()
    try:
        got_duck = sorted(
            con.execute(
                f"SELECT {', '.join(cols)} FROM read_parquet('{bronze}/**/*.parquet', "
                "hive_partitioning = true)"
            ).fetchall()
        )
    finally:
        con.close()
    assert got_duck == got_spark
    assert len(got_spark) == 14
    assert (5, 3) in {(r[0], r[1]) for r in got_spark}


def test_stored_index_logs_write_zstd(spark, tmp_path):
    """Row, sum and tombstone logs of a stored BM25 index."""
    from pipeline311_spark.ext.retrieval import bm25_index_append_batch, bm25_index_delete_batch

    docs = "doc_id long, text string"
    idx = str(tmp_path / "bm25")
    bm25_index_append_batch(
        spark.createDataFrame([(1, "spark merge join"), (2, "merge vector")], docs), 0, idx
    )
    bm25_index_append_batch(spark.createDataFrame([(10, "spark customer")], docs), 1, idx)
    bm25_index_delete_batch(spark.createDataFrame([(2, "merge vector")], docs), 0, idx)

    logs = sorted(d for d in os.listdir(idx) if not d.startswith("_"))
    assert any(d.endswith("_deleted") for d in logs), logs
    for log in logs:
        n_files, codecs = _codecs(os.path.join(idx, log))
        assert n_files > 0, log
        assert codecs == {PARQUET_CODEC.upper()}, log
