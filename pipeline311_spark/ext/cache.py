"""Cache lifecycle for persisted intermediates.

The dedup/similarity operators persist small intermediates (candidate
sets, signature/group tables, gram arrays) that the RETURNED DataFrame
still reads lazily — so the operator itself can never unpersist them.
Historically reclaim was documented as ``spark.catalog.clearCache()``;
that is fine for a batch job that exits, but leak-by-default in a
long-lived service where batches arrive forever (ADVICE r4: cached
RDDs accumulate until executor storage evicts under pressure).

:func:`cache_scope` gives callers deterministic reclaim::

    with cache_scope():
        pairs = minhash_dedup_pairs(docs, "doc_id", "text")
        pairs.write.parquet(out)          # materialize INSIDE the scope
    # every intermediate persisted by the call is now unpersisted

Every ``persist`` the operator family makes goes through
:func:`persist_tracked`; inside an active scope the handle is recorded
and released (``unpersist(blocking=False)``) at scope exit.  Without a
scope the behavior is unchanged (persist + documented
``clearCache()``), so existing callers and the oracle/bench harnesses
are unaffected.  Scopes nest (inner scopes release only their own
persists) and are thread-local, so concurrent queries on one
SparkSession don't release each other's caches.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_local = threading.local()


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    """persist() that registers the handle with the innermost active
    :func:`cache_scope` (no-op registration when no scope is active)."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    stack = getattr(_local, "scopes", None)
    if stack:
        stack[-1].append(df)
    return df


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of the block-manager storage pinned by a
    ``localCheckpoint``.

    ``DataFrame.unpersist()`` and ``spark.catalog.clearCache()`` do NOT
    reach checkpoint storage — a localCheckpoint pins its RDD in the
    block manager until context GC, which is a leak-by-default for
    iterative operators that checkpoint every round.  The pinned RDD is
    only reachable through the ``LogicalRDD`` plan node the checkpoint
    produced; the accessor is internal API (stable across Spark 3/4),
    so failure is swallowed and merely degrades to today's
    pinned-until-GC behavior.

    DANGER: a localCheckpoint has no lineage — after release the
    DataFrame is INVALID (actions raise on missing blocks), not merely
    slow to recompute.  Only release strictly after the last read."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class _CheckpointHandle:
    """Adapter so a localCheckpoint can ride the scope's unpersist walk."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        release_local_checkpoint(self._df)


def local_checkpoint_tracked(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint()`` that registers a release handle with the
    innermost active :func:`cache_scope`.  Unlike persisted
    intermediates (which recompute after release), a checkpoint-backed
    result is INVALID once its scope exits — consume it inside."""
    ck = df.localCheckpoint(eager=eager)
    stack = getattr(_local, "scopes", None)
    if stack:
        stack[-1].append(_CheckpointHandle(ck))
    return ck


@contextlib.contextmanager
def cache_scope():
    """Unpersist every intermediate persisted (via
    :func:`persist_tracked`) while the scope was the innermost one.

    Materialize results before the scope exits — the returned
    DataFrames stay valid afterwards but would recompute their lineage
    from scratch on the next action.  Exception: results backed by a
    tracked ``localCheckpoint`` (:func:`local_checkpoint_tracked`, e.g.
    ``connected_components`` labels) have no lineage to recompute and
    become INVALID at scope exit."""
    stack = getattr(_local, "scopes", None)
    if stack is None:
        stack = _local.scopes = []
    held: list[DataFrame] = []
    stack.append(held)
    try:
        yield held
    finally:
        stack.pop()
        for df in held:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release
