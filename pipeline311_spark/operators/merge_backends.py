"""The warehouse MERGE entry point (K3/K4 at warehouse scale).

Every warehouse MERGE goes through :func:`upsert_into`: the window-dedup
kernel (:func:`pipeline311_spark.operators.merge.upsert`) against a
parquet path — partition-pruned rewrite when ``partition_col`` is given
(:func:`merge_incremental_partitioned`), full lineage-broken rewrite
otherwise.  Exactly the semantics the k3 oracles gate.

Reference parity: the reference upserts via staged-CSV dbtools
(sync-db2.py:78-88) and SQL ``ON CONFLICT DO UPDATE``
(sync-db2-viewer.py:56-79); both map to ``upsert_into``.  A native
table-format MERGE (Delta/Iceberg file-skipping) would be a local change
inside this function; the call sites name only a target ref.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pipeline311_spark.sinks.writers import write_parquet


def _warehouse_exists(spark: SparkSession, target_ref: str) -> bool:
    """Existence probe through the Hadoop FileSystem API so the answer
    is correct for ANY warehouse scheme (file://, hdfs://, s3a://...).
    ``os.path.isdir`` would be always-False for remote URIs, making the
    merge path silently overwrite an existing remote warehouse with
    just the updates batch."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(target_ref)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(path)


def upsert_into(
    spark: SparkSession,
    target_ref: str,
    updates: DataFrame,
    key: str,
    version_col: str,
    partition_col: str | None = None,
    assume_stable_partitions: bool = False,
) -> None:
    """MERGE ``updates`` into the parquet warehouse at ``target_ref``
    (see module docstring).  Pass ``assume_stable_partitions=True`` when
    the partition value is a pure function of the immutable key — it
    skips the per-batch (key, partition) locator scan for moved keys
    (see operators/merge.merge_incremental_partitioned).

    The first batch into an absent warehouse is reduced to the latest
    row per key before it is written, so it lands exactly as a MERGE
    into an empty target would (re-running the batch changes nothing)."""
    from pipeline311_spark.operators.merge import (
        guard_no_warehouse_narrowing,
        latest_per_key,
        merge_incremental_partitioned,
        upsert,
    )

    if not _warehouse_exists(spark, target_ref):
        # An EMPTY first batch into a partitioned warehouse is a no-op:
        # a zero-row partitionBy write produces a footer-less directory
        # no schema can be inferred from — creation waits for the first
        # batch that has rows.
        if partition_col is not None and updates.isEmpty():
            return
        write_parquet(
            latest_per_key(updates, key, version_col),
            target_ref,
            partition_by=[partition_col] if partition_col is not None else None,
        )
        return
    if partition_col is not None:
        merge_incremental_partitioned(
            spark, target_ref, updates, key, version_col, partition_col,
            assume_stable_partitions=assume_stable_partitions,
        )
        return
    from pipeline311_spark.ext.cache import release_local_checkpoint

    guard_no_warehouse_narrowing(spark, target_ref, updates)
    target = spark.read.schema(updates.schema).parquet(target_ref)
    merged = upsert(target, updates, key, version_col)
    # break lineage: Spark refuses to overwrite a path it reads;
    # release the checkpoint once the write (its only consumer) is done
    # so per-batch merges don't accumulate pinned blocks
    ck = merged.localCheckpoint(eager=True)
    write_parquet(ck, target_ref)
    release_local_checkpoint(ck)
