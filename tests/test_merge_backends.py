"""The warehouse MERGE entry point (operators/merge_backends.py
``upsert_into``): first-batch creation, unpartitioned and partitioned
rewrites, the narrowing guard and the URI-safe existence probe."""

from __future__ import annotations

import pytest


def test_parquet_backend_unpartitioned_roundtrip(spark, tmp_path):
    from pipeline311_spark.operators.merge_backends import upsert_into

    path = str(tmp_path / "wh_seam")
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "key long, version long, payload string"
    )
    # first call creates the warehouse
    upsert_into(spark, path, base, "key", "version")
    updates = spark.createDataFrame(
        [(2, 2, "b2"), (3, 1, "c"), (1, 1, "a-tie")],  # update, insert, tie (updates win)
        "key long, version long, payload string",
    )
    upsert_into(spark, path, updates, "key", "version")
    got = {r["key"]: (r["version"], r["payload"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (1, "a-tie"), 2: (2, "b2"), 3: (1, "c")}


def test_parquet_backend_partitioned_delegates_to_pruned_merge(spark, tmp_path):
    from pipeline311_spark.operators.merge_backends import upsert_into

    path = str(tmp_path / "wh_seam_part")
    base = spark.createDataFrame(
        [(1, 1, 0), (2, 1, 1), (3, 1, 0)], "key long, version long, bucket int"
    )
    base.write.partitionBy("bucket").parquet(path)
    updates = spark.createDataFrame([(3, 2, 0), (9, 1, 1)], "key long, version long, bucket int")
    upsert_into(spark, path, updates, "key", "version", partition_col="bucket")
    got = {(r["key"], r["version"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 1), (2, 1), (3, 2), (9, 1)}


def test_parquet_backend_guards_warehouse_narrowing(spark, tmp_path):
    """The unpartitioned merge path refuses a batch that silently lost
    a warehouse column (same guard as the partitioned path) instead of
    reading the warehouse minus that column and writing it back
    narrowed."""
    from pipeline311_spark.operators.merge_backends import upsert_into
    from pipeline311_spark.sources.validate import SchemaMismatch

    path = str(tmp_path / "wh")
    base = spark.createDataFrame(
        [(1, 10, "keep")], "pk long, version long, payload string"
    )
    upsert_into(spark, path, base, "pk", "version")
    narrowed = spark.createDataFrame([(1, 11)], "pk long, version long")
    with pytest.raises(SchemaMismatch, match="payload"):
        upsert_into(spark, path, narrowed, "pk", "version")
    # warehouse untouched
    assert spark.read.parquet(path).columns == ["pk", "version", "payload"]


def test_warehouse_exists_handles_uris(spark, tmp_path):
    """Existence goes through the Hadoop FileSystem API, so scheme'd
    URIs answer correctly (os.path.isdir was always-False for them,
    silently replacing an existing remote warehouse with the batch)."""
    from pipeline311_spark.operators.merge_backends import _warehouse_exists

    p = tmp_path / "x"
    p.mkdir()
    assert _warehouse_exists(spark, str(p))
    assert _warehouse_exists(spark, "file://" + str(p))
    assert not _warehouse_exists(spark, "file://" + str(tmp_path / "missing"))


def test_parquet_backend_empty_updates_batch(spark, tmp_path):
    """An empty updates batch (schema intact, zero rows) must leave the
    warehouse byte-identical — the empty-increment class the registry
    gates elsewhere, through the backend seam."""
    from pipeline311_spark.operators.merge_backends import upsert_into

    path = str(tmp_path / "wh")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "pk long, version long, payload string"
    )
    upsert_into(spark, path, base, "pk", "version")
    empty = spark.createDataFrame([], "pk long, version long, payload string")
    upsert_into(spark, path, empty, "pk", "version")
    rows = sorted(
        (r["pk"], r["version"], r["payload"]) for r in spark.read.parquet(path).collect()
    )
    assert rows == [(1, 10, "a"), (2, 11, "b")]


@pytest.mark.parametrize("partition_col", [None, "bucket"])
def test_first_batch_into_absent_warehouse_keeps_latest_per_key(spark, tmp_path, partition_col):
    """Creating the warehouse is a MERGE into an empty target: a first
    batch carrying superseded versions of a key lands with only the
    newest one, and re-running the same batch changes nothing."""
    from pipeline311_spark.operators.merge_backends import upsert_into

    path = str(tmp_path / "wh_first")
    batch = spark.createDataFrame(
        [(1, 1, "old", 0), (1, 2, "new", 0), (2, 1, "x", 1)],
        "key long, version long, payload string, bucket int",
    )

    def rows():
        return sorted(
            (r["key"], r["version"], r["payload"]) for r in spark.read.parquet(path).collect()
        )

    upsert_into(spark, path, batch, "key", "version", partition_col=partition_col)
    assert rows() == [(1, 2, "new"), (2, 1, "x")]
    upsert_into(spark, path, batch, "key", "version", partition_col=partition_col)
    assert rows() == [(1, 2, "new"), (2, 1, "x")]
