"""MERGE / upsert kernel (SURVEY K3/K4/J1/J2/O5/T1).

The reference upserts three ways — dbtools staged-CSV upsert
(sync-db2.py:78-88), SQL ``ON CONFLICT DO UPDATE`` (sync-db2-viewer.py:
56-79), and AGO delete-then-add (sync-db2-ago.py:629-643).  All are the
same logical MERGE, and the engine has one kernel for it: the
window-dedup MERGE, ``union`` + ``row_number() over (partition by pk
order by version desc)`` = 1 — exactly-once per key, fully shuffled,
scales to any size (no driver materialization).  Warehouse writes go
through :func:`pipeline311_spark.operators.merge_backends.upsert_into`;
the watermark-incremental callers (pipelines, streaming) compose
``max_watermark`` + ``watermark_filter`` + :func:`upsert`.

At 100 TB: the shuffle is on the primary key (unique → no skew), and
the partitioned path below rewrites only touched partitions; nothing
here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipeline311_spark.sinks.writers import parquet_writer


def latest_per_key(df: DataFrame, key: str, version_col: str, tiebreak: str | None = None) -> DataFrame:
    """O5: keep the newest row per key.  ``tiebreak`` orders exact
    version ties deterministically (e.g. a source-priority flag)."""
    order = [F.col(version_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(target: DataFrame, updates: DataFrame, key: str, version_col: str) -> DataFrame:
    """K3/J1: MERGE semantics — updates win over target on key match,
    unmatched updates insert, unmatched target rows survive.

    ``__src`` breaks exact version ties in favor of updates, matching
    ``ON CONFLICT DO UPDATE`` (sync-db2-viewer.py:56-79) which always
    takes the incoming row.
    """
    t = target.select(target.columns).withColumn("__src", F.lit(0))
    u = updates.select(target.columns).withColumn("__src", F.lit(1))
    return latest_per_key(t.unionByName(u), key, version_col, tiebreak="__src").drop("__src")


def guard_no_warehouse_narrowing(spark, target_path: str, updates: DataFrame) -> None:
    """Guard BEFORE trusting ``updates.schema`` for a pruned warehouse
    read: a batch that silently lost a column would otherwise read the
    warehouse minus that column and write it back narrowed (silent data
    loss).  An empty warehouse (zero-row base write, no partition dirs)
    has no inferable schema — nothing to narrow, guard skipped.  Shared
    by the partitioned MERGE below and the unpartitioned path of
    ``upsert_into`` (operators/merge_backends.py).

    Only the two AnalysisException classes that mean "empty/absent
    warehouse" are swallowed: any OTHER failure of the schema read
    (permissions, corrupt footer, remote-FS error) propagates instead
    of silently disabling the guard for the batch."""
    from pyspark.errors import AnalysisException

    try:
        warehouse_cols = [f.name for f in spark.read.parquet(target_path).schema.fields]
    except AnalysisException as e:
        get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        cond = get() if get is not None else None
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return
        raise
    missing = [c for c in warehouse_cols if c not in set(updates.columns)]
    if missing:
        from pipeline311_spark.sources.validate import SchemaMismatch

        raise SchemaMismatch(
            f"updates batch is missing warehouse column(s) {missing}; "
            f"a MERGE would narrow the warehouse at {target_path}"
        )


def merge_incremental_partitioned(
    spark,
    target_path: str,
    updates: DataFrame,
    key: str,
    version_col: str,
    partition_col: str,
    assume_stable_partitions: bool = False,
) -> None:
    """K3 at warehouse scale without a transactional table format:
    MERGE into a parquet warehouse partitioned by ``partition_col``,
    rewriting ONLY the partitions that contain touched keys.

    Mechanics (the file-skipping MERGE the reference's daily upsert
    needs at 100 TB — ``sync-db2.py:78-88`` rewrites the full target):

    1. collect the DISTINCT partition values present in ``updates`` —
       bounded by the partition count, never by data size;
    2. read the target WITH that partition filter — Catalyst turns it
       into ``PartitionFilters`` on the scan, so only touched
       partitions' files are read;
    3. window-dedup MERGE (:func:`upsert`) of the pruned slice against
       the updates;
    4. write back in ``partitionOverwriteMode=dynamic``: only the
       partitions present in the merged output are replaced — files of
       untouched partitions are not even listed.

    ``localCheckpoint`` breaks the lineage before the write (Spark
    refuses to overwrite a path it is still reading from); on a
    cluster this stores the merged slice on executor local storage —
    size-bounded by the touched partitions, not the warehouse.

    Updates whose keys land in brand-new partition values are inserted
    (dynamic overwrite creates the partition; the pruned read simply
    finds no existing rows for it).

    Keys that MOVE partitions (the update carries a different
    ``partition_col`` value than the key's current row) are handled:
    a column-pruned scan of just (key, partition) over the warehouse
    locates the stale copies, their partitions join the touched set,
    and the window-dedup then supersedes them.  A partition whose
    every row was superseded is deleted explicitly — dynamic
    overwrite cannot drop a partition it writes zero rows to (the
    hypothesis merge-roundtrip test caught a stale copy surviving in
    the abandoned partition).  Set ``assume_stable_partitions=True``
    to skip the locator scan when the partition value is derived from
    the immutable key (the common date-of-creation layout) — the scan
    reads two columns of the whole warehouse, which is exactly the
    price of supporting moves without a key index.
    """
    # collect Spark's OWN string rendering alongside each native value:
    # directory names must come from the engine's formatter (cast to
    # string — boolean True writes dir 'true', not Python's 'True';
    # dates/timestamps/decimals likewise), or the emptied-partition
    # delete below silently misses the dir and superseded rows stay
    # resurrectable.  Values are canonicalized through their rendering
    # for SET membership: Python NaN != NaN, so two separately
    # collected NaN objects would otherwise compare unequal and the
    # freshly rewritten pc=NaN directory would land in `emptied` and be
    # deleted — data loss for its surviving rows (review r6).  Spark's
    # cast renders NaN deterministically ('NaN'), making the string the
    # safe identity; `orig` keeps one native value per rendering for
    # the pruning predicate (Spark SQL equality treats NaN = NaN as
    # true, so isin() with the NaN literal still matches).
    render_orig: dict = {}  # rendering -> native value

    def _canon_render(s):
        """Renderings that share the NULL sentinel DIRECTORY fold into
        the NULL identity (ADVICE r6 + review r7): Spark's writer maps
        the empty string AND the literal '__HIVE_DEFAULT_PARTITION__'
        value to the same __HIVE_DEFAULT_PARTITION__ directory as
        NULL, and the read-back surfaces all three as NULL — treating
        them as distinct renderings made the pruning predicate skip
        the default partition's rows while the batch's dynamic
        overwrite replaced that directory, deleting every other key
        that lived there; the emptied-dir delete likewise targeted a
        nonexistent path."""
        return None if s in (None, "", "__HIVE_DEFAULT_PARTITION__") else s

    def _vals_with_render(df: DataFrame) -> set:
        rows = df.select(
            F.col(partition_col).alias("__v"),
            F.col(partition_col).cast("string").alias("__s"),
        ).distinct().collect()
        out = set()
        for r in rows:
            key = _canon_render(r["__s"])
            if key is not None:
                render_orig[key] = r["__v"]
            out.add(key)
        return out

    touched = _vals_with_render(updates)
    guard_no_warehouse_narrowing(spark, target_path, updates)
    if not assume_stable_partitions:
        from pyspark.sql import types as T

        locator_schema = T.StructType(
            [updates.schema[key], updates.schema[partition_col]]
        )
        # no broadcast hint: the distinct update-key set is unbounded
        # (a bulk batch could OOM a forced broadcast) — AQE broadcasts
        # it when it is actually small
        touched |= _vals_with_render(
            spark.read.schema(locator_schema)
            .parquet(target_path)
            .join(updates.select(key).distinct(), key, "left_semi")
        )
    # NULL-safe pruning predicate: isin() never matches NULL, which
    # would (a) strand a stale copy when a key moves OUT of the NULL
    # partition and (b) let a NULL-carrying batch dynamically overwrite
    # __HIVE_DEFAULT_PARTITION__ with only its own rows, deleting every
    # other key that lived there
    non_null = [render_orig[s] for s in sorted(s for s in touched if s is not None)]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if None in touched:
        pred = pred | F.col(partition_col).isNull()
    # schema from the updates side: an empty warehouse (zero-row base
    # write) has no partition dirs to infer from, and parquet matches
    # columns by name anyway
    target = spark.read.schema(updates.schema).parquet(target_path).filter(pred)
    merged = upsert(target, updates.select(target.columns), key, version_col)
    # canonicalize default-partition-identity VALUES to NULL before the
    # write (review r7): a frame mixing NULL with ''/the literal
    # sentinel string makes Spark's dynamic-partition writer collide
    # with ITSELF — two distinct values escape to the same
    # pc=__HIVE_DEFAULT_PARTITION__ directory inside one task and the
    # second open raises FileAlreadyExistsException.  Post-roundtrip
    # semantics are unchanged: Spark's own read-back already surfaces
    # all three as NULL; this just applies the collapse eagerly.
    pc_str = F.col(partition_col).cast("string")
    merged = merged.withColumn(
        partition_col,
        F.when(
            pc_str.isin("", "__HIVE_DEFAULT_PARTITION__"),
            F.lit(None).cast(merged.schema[partition_col].dataType),
        ).otherwise(F.col(partition_col)),
    )
    merged = merged.localCheckpoint(eager=True)
    # written partitions by RENDERING too, same identity as `touched`
    # (''/sentinel fold into None — all write __HIVE_DEFAULT_PARTITION__).
    # With stable partitions no touched partition can come out empty:
    # every one holds an update row, and the MERGE keeps one row per
    # key in the key's only partition — so skip the collect.
    if assume_stable_partitions:
        written = touched
    else:
        written = {
            _canon_render(r[0])
            for r in merged.select(F.col(partition_col).cast("string")).distinct().collect()
        }
    (
        parquet_writer(merged)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .save(target_path)
    )
    # a touched partition with NO surviving rows was not rewritten by
    # the dynamic overwrite — drop its directory so the superseded
    # copies actually disappear.  Directory names are Spark's own
    # cast-to-string rendering (collected with the values above — the
    # writer's formatter, e.g. boolean → 'true' where Python str()
    # gives 'True') passed through Spark's Hive-path escaping (a value
    # like 'US:east' is written as pc=US%3Aeast — a raw f-string path
    # would silently miss it), NULL maps to the Hive default-partition
    # dir, and a failed delete of a still-existing directory raises
    # instead of leaving superseded rows resurrectable.
    emptied = [s for s in touched if s not in written]
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        for s in emptied:
            dirname = (
                "__HIVE_DEFAULT_PARTITION__" if s is None else esc.escapePathName(s)
            )
            p = jvm.org.apache.hadoop.fs.Path(f"{target_path}/{partition_col}={dirname}")
            fs = p.getFileSystem(conf)
            if fs.exists(p) and not fs.delete(p, True):
                raise IOError(f"could not drop emptied partition directory {p}")
    # the write was the checkpoint's only consumer — release the pinned
    # blocks (clearCache cannot; repeated merges would otherwise
    # accumulate a touched-slice-sized RDD per batch)
    from pipeline311_spark.ext.cache import release_local_checkpoint

    release_local_checkpoint(merged)


def merge_with_surrogate(
    target: DataFrame, updates: DataFrame, key: str, version_col: str, objectid_col: str = "objectid"
) -> DataFrame:
    """K4's surrogate-id behavior (``sde.next_rowid``, sync-db2-viewer.py:
    50,79): inserted rows get new ids above the current max; updated rows
    keep their existing id.  Documented caveat (SURVEY §7.4): ids are
    dense per batch, not globally stable across re-runs."""
    base = target.agg(F.coalesce(F.max(objectid_col), F.lit(0))).first()[0]
    merged = upsert(target.drop(objectid_col), updates, key, version_col)
    existing = target.select(key, objectid_col)
    merged = merged.join(existing, key, "left")
    need_id = merged.filter(F.col(objectid_col).isNull())
    have_id = merged.filter(F.col(objectid_col).isNotNull())

    # Two-phase deterministic id assignment (distributed zipWithIndex over
    # key order) — NEVER a global `Window.orderBy` (that funnels the whole
    # insert batch through one task, a scale-killer at 100 TB):
    #   1. range-partition the inserts by key → contiguous key ranges in
    #      partition-id order, sorted in parallel;
    #   2. count rows per partition (tiny: one row per partition) and
    #      build cumulative offsets on the driver;
    #   3. per-partition `row_number` + broadcast offset = the same dense,
    #      key-ordered ids the global window produced.
    ranged = need_id.repartitionByRange(F.col(key)).withColumn(
        "__pid", F.spark_partition_id()
    )
    from pipeline311_spark.ext.cache import local_checkpoint_tracked

    # The __pid layout is LOAD-BEARING: the driver-collected counts
    # below are only valid for the exact physical partitioning they
    # were read from, and repartitionByRange re-samples on recompute
    # (upstream shuffle row order is nondeterministic), which could
    # shift rows across partitions and mis-assign ids against stale
    # offsets.  localCheckpoint truncates the lineage so recompute is
    # impossible — a released/evicted block fails loudly instead of
    # silently recomputing a different layout.  Released by the
    # caller's cache_scope (after which the result is invalid, per the
    # scope's documented checkpoint semantics).
    ranged = local_checkpoint_tracked(ranged)
    counts = ranged.groupBy("__pid").agg(F.count("*").alias("__n")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__n"]
    spark = need_id.sparkSession
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(key)
    assigned = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(objectid_col, F.row_number().over(w) + F.col("__off") + F.lit(base))
        .drop("__pid", "__off")
    )
    return have_id.unionByName(assigned.select(have_id.columns))
