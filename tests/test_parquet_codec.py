"""Every persisted table is written by the one parquet writer
(``sinks/writers.py``) in its format (codec, v2 data pages, INT64
``TIMESTAMP(MICROS)`` timestamps, no dictionary on the columns a file
is sorted by), and what it writes reads back the same in DuckDB as in
Spark, also in a warehouse whose older files hold INT96 timestamps."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow.parquet as pq

from pipeline311_spark.sinks.writers import PARQUET_CODEC


def _chunks(root):
    """(file, column path, pyarrow column-chunk metadata, logical type)
    of every column chunk of every parquet file under ``root``."""
    out = []
    for f in sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                out.append((f, chunk.path_in_schema, chunk, meta.schema.column(c).logical_type))
    return out


def _codecs(root):
    """(parquet file count, set of column-chunk codecs) under ``root``."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return len(files), {chunk.compression for _, _, chunk, _ in _chunks(root)}


def _spark_rows(spark, path, cols):
    """Sorted rows of ``cols`` plus ``ts`` as epoch microseconds."""
    df = spark.read.parquet(path).selectExpr(*cols, "unix_micros(ts)")
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(duckdb, path, cols):
    """The same rows as :func:`_spark_rows`, read by DuckDB."""
    con = duckdb.connect()
    try:
        return sorted(
            con.execute(
                f"SELECT {', '.join(cols)}, epoch_us(ts) FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)"
            ).fetchall()
        )
    finally:
        con.close()


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

    # DuckDB reads INT64 TIMESTAMP(MICROS) as TIMESTAMP WITH TIME ZONE
    # and Spark returns naive values: compare the instants, in micros
    cols = ["key", "version", "bucket", "descr", "amount"]
    got_spark = _spark_rows(spark, bronze, cols)
    got_duck = _duck_rows(duckdb, bronze, cols)
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


def _timestamp_layouts(root, ts_cols):
    """{(physical type, logical type, has min/max)} of the columns
    ``ts_cols`` under ``root``."""
    return {
        (chunk.physical_type, str(logical), bool(chunk.statistics and chunk.statistics.has_min_max))
        for _, col, chunk, logical in _chunks(root)
        if col in ts_cols
    }


def test_storage_contract_int64_micros_timestamps_and_v2_pages(spark, tmp_path):
    """Bronze (first batch and partitioned MERGE) and the BM25 logs:
    every timestamp column is INT64 ``TIMESTAMP(MICROS)`` with min/max
    statistics, the data pages are v2, and each postings column has
    exactly its encodings (:data:`POSTINGS_ENCODINGS`)."""
    from pyspark.sql.types import TimestampType

    from pipeline311_spark.ext.retrieval import bm25_index_append_batch
    from pipeline311_spark.operators.merge_backends import upsert_into

    schema = "key long, version long, bucket int, descr string, ts timestamp, seen timestamp"
    t0 = dt.datetime(2024, 3, 1, 8, 30)

    # ``seen`` is mostly null: a nullable column still gets min/max
    def upsert(versions):
        rows = [
            (k, v, k % 3, f"case {k}", t0 + dt.timedelta(hours=k, seconds=v), None if k % 5 else t0)
            for k, v in versions
        ]
        upsert_into(spark, bronze, spark.createDataFrame(rows, schema), "key", "version", "bucket",
                    assume_stable_partitions=True)

    bronze = str(tmp_path / "bronze")
    upsert([(k, 1) for k in range(12)])
    upsert([(1, 2), (4, 0), (5, 3), (20, 1), (21, 1)])

    ts_cols = [f.name for f in spark.read.parquet(bronze).schema.fields if isinstance(f.dataType, TimestampType)]
    assert ts_cols == ["ts", "seen"]
    layouts = _timestamp_layouts(bronze, ts_cols)
    assert layouts and all(
        phys == "INT64" and logical.startswith("Timestamp(") and "timeUnit=microseconds" in logical and stats
        for phys, logical, stats in layouts
    ), layouts
    # v2 data pages: the key column is delta-encoded, never v1 PLAIN
    key_encodings = {enc for _, col, chunk, _ in _chunks(bronze) if col == "key" for enc in chunk.encodings}
    assert "DELTA_BINARY_PACKED" in key_encodings, key_encodings

    idx = str(tmp_path / "bm25")
    docs = spark.createDataFrame([(i, f"spark merge join w{i % 7}") for i in range(40)], "doc_id long, text string")
    bm25_index_append_batch(docs, 0, idx)
    assert _postings_encodings(idx) == {"batch_id=0": POSTINGS_ENCODINGS}
    chunks = [c for c in _chunks(idx) if "/postings/" not in c[0]]
    assert chunks
    for f, col, chunk, _ in chunks:
        # v1 pages write dictionaries as PLAIN_DICTIONARY and fall back to
        # PLAIN; v2 pages write RLE_DICTIONARY and fall back to delta
        assert "PLAIN_DICTIONARY" not in chunk.encodings, (f, col, chunk.encodings)
        assert set(chunk.encodings) & {"RLE_DICTIONARY", "DELTA_BINARY_PACKED", "DELTA_BYTE_ARRAY"}, (
            f, col, chunk.encodings)


#: The encodings of every postings column chunk: the two columns each
#: file is sorted by are written without a dictionary, so ``term`` is
#: front-coded and ``doc_id`` d-gapped; ``tf`` and ``dl`` keep the
#: dictionary (its page is ``PLAIN``).
POSTINGS_ENCODINGS = {
    "term": {"DELTA_BYTE_ARRAY"},
    "doc_id": {"DELTA_BINARY_PACKED"},
    "tf": {"PLAIN", "RLE_DICTIONARY"},
    "dl": {"PLAIN", "RLE_DICTIONARY"},
}


def _postings_encodings(idx):
    """{batch dir: {column: set of encodings}} over every postings file
    of the BM25 index at ``idx``; a column whose chunks disagree maps
    to the union, so it fails an exact comparison."""
    out = {}
    for f, col, chunk, _ in _chunks(os.path.join(idx, "postings")):
        out.setdefault(os.path.basename(os.path.dirname(f)), {}).setdefault(col, set()).update(
            chunk.encodings)
    return out


def test_compacted_bm25_base_keeps_postings_encodings_and_rows(spark, tmp_path):
    """Compacting a two-batch BM25 index with one delete writes a
    ``-1`` base in the same postings layout, serves the same rows and
    top-k as before, and pyarrow and DuckDB read the base's postings
    as Spark serves them."""
    import duckdb

    from pipeline311_spark.ext.retrieval import (
        bm25_index_append_batch,
        bm25_index_compact,
        bm25_index_delete_batch,
        bm25_topk,
        load_bm25_index,
    )

    docs = "doc_id long, text string"
    words = ["spark", "merge", "join", "vector", "customer", "ledger", "watermark"]
    first = [(i, " ".join(words[j % 7] for j in range(i, i + 1 + i % 5))) for i in range(30)]
    second = [(100 + i, f"{words[i % 7]} merge t{i % 4}") for i in range(20)]
    idx = str(tmp_path / "bm25")
    bm25_index_append_batch(spark.createDataFrame(first, docs), 0, idx)
    bm25_index_append_batch(spark.createDataFrame(second, docs), 1, idx)
    bm25_index_delete_batch(spark.createDataFrame([r for r in first if r[0] % 6 == 0], docs), 0, idx)

    queries = spark.createDataFrame(
        [(q, t) for q, terms in enumerate([["spark", "merge"], ["vector"], ["t1", "ledger"]]) for t in terms],
        "query_id long, term string",
    )

    def serve():
        index = load_bm25_index(spark, idx)
        return (
            sorted(map(tuple, index.postings.collect())),
            index.n_docs,
            index.sum_dl,
            sorted(map(tuple, bm25_topk(index, queries, k=5).collect())),
        )

    before = serve()
    assert _postings_encodings(idx) == {"batch_id=0": POSTINGS_ENCODINGS, "batch_id=1": POSTINGS_ENCODINGS}
    bm25_index_compact(spark, idx)
    assert serve() == before
    assert _postings_encodings(idx) == {"batch_id=-1": POSTINGS_ENCODINGS}

    postings = before[0]
    assert postings and not {r[1] for r in postings} & {r[0] for r in first if r[0] % 6 == 0}
    base = os.path.join(idx, "postings", "batch_id=-1")
    files = sorted(glob.glob(os.path.join(base, "*.parquet")))
    cols = ["term", "doc_id", "tf", "dl"]
    got_arrow = sorted(
        row for f in files for row in zip(*pq.read_table(f, columns=cols).to_pydict().values())
    )
    assert got_arrow == postings
    con = duckdb.connect()
    try:
        got_duck = sorted(
            con.execute(f"SELECT {', '.join(cols)} FROM read_parquet('{base}/*.parquet')").fetchall()
        )
    finally:
        con.close()
    assert got_duck == postings


def test_merge_into_int96_warehouse_keeps_values(spark, tmp_path):
    """A warehouse written before the INT64 layout (INT96 timestamps)
    keeps merging: the rewritten partitions turn INT64, the untouched
    ones stay INT96, and Spark and DuckDB read the same instants."""
    import duckdb

    from pipeline311_spark.operators.merge_backends import upsert_into

    schema = "key long, version long, bucket int, descr string, ts timestamp"
    t0 = dt.datetime(2023, 11, 5, 1, 30)

    def row(k, v):
        return (k, v, k % 4, f"case {k} v{v}", t0 + dt.timedelta(hours=k, microseconds=v * 7))

    bronze = str(tmp_path / "bronze")
    first = [row(k, 1) for k in range(16)]
    # the layout before INT64: Spark's default INT96, written bypassing
    # the package writer, which would pin TIMESTAMP_MICROS
    conf = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        spark.createDataFrame(first, schema).write.partitionBy("bucket").parquet(bronze)
    finally:
        spark.conf.set(conf, prior)
    assert {phys for phys, _, _ in _timestamp_layouts(bronze, ["ts"])} == {"INT96"}

    # updates and new keys in buckets 1 and 2; buckets 0 and 3 untouched
    batch = [row(1, 2), row(5, 3), row(6, 0), row(9, 2), row(21, 1)]
    upsert_into(spark, bronze, spark.createDataFrame(batch, schema), "key", "version", "bucket",
                assume_stable_partitions=True)

    latest = {}
    for r in first + batch:
        if r[0] not in latest or r[1] > latest[r[0]][1]:
            latest[r[0]] = r
    epoch = dt.datetime(1970, 1, 1)
    expected = sorted(
        (k, v, b, d, (ts - epoch) // dt.timedelta(microseconds=1)) for k, v, b, d, ts in latest.values()
    )
    cols = ["key", "version", "bucket", "descr"]
    got_spark = _spark_rows(spark, bronze, cols)
    assert got_spark == expected
    assert _duck_rows(duckdb, bronze, cols) == got_spark

    per_bucket = {}
    for f, col, chunk, _ in _chunks(bronze):
        if col == "ts":
            per_bucket.setdefault(os.path.basename(os.path.dirname(f)), set()).add(chunk.physical_type)
    assert per_bucket == {
        "bucket=0": {"INT96"}, "bucket=1": {"INT64"}, "bucket=2": {"INT64"}, "bucket=3": {"INT96"}
    }
