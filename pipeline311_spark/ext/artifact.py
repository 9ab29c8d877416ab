"""The lifecycle of a batch-id-partitioned, tombstoned row log — the one
stored form of the BM25 index (ext/retrieval.py), the MinHash gram
table (ext/dedup.py) and the IVF-PQ codes (ext/ann_store.py).  This
module is the only code that knows how such a log is appended,
deleted, loaded and compacted; a family describes its log as a
:class:`RowLog` (and BM25 its corpus sums as a :class:`SumLog`) and
calls :func:`admit_append` / :func:`append_rows`, :func:`delete_rows`,
:func:`load_rows` / :func:`load_sum` and :func:`compact_log`.

Layout: under a family ``root``, the row log ``root/<sub>`` holds one
``batch_id=<n>`` partition per batch (:func:`write_batch_partition`;
a one-shot build is batch 0), its tombstone sibling ``<sub>_deleted``
(:func:`tombstone_dir`) holds deleted ids per delete batch, and
``root/_intent`` / ``root/_folded_batches.txt`` hold the intent
markers and the fold marker.  Row ids are disjoint across batches and
never reused: a re-added document carries a NEW id, or its old
tombstone masks it.

A log type may declare a clustering key (``RowLog.cluster_by``; only
the BM25 postings set it, to ``term``).  Every row-log write — an
appended batch and the compacted base alike (:func:`_write_rows`) —
then hash-repartitions its rows on that key and sorts each task by
``(key, id)``.  Each file of a batch dir holds its own set of keys,
in order, so a term's postings sit in one file rather than one per
hash partition, and row-group min/max stats can skip by term.  The
write has to do it: the rows are usually a persisted frame, and Spark
runs a cached plan without AQE, so its shuffle partitions reach the
writer as they are; only a write-time exchange coalesces them (AQE
merges small hash buckets, so a small batch is one file).  The sort
columns are written without a dictionary (``sorted_by``,
``sinks/writers.py``): sorted, ``term`` front-codes
(``DELTA_BYTE_ARRAY``) and ``doc_id`` d-gaps (``DELTA_BINARY_PACKED``),
which makes the benchmark's postings file about a fifth smaller than
with dictionary pages.

* **Append** (:func:`admit_append`, then :func:`append_rows`).  The
  guard runs, in order: crash-swap recovery of every log dir
  (:func:`recover_family` — appending into a compaction's
  between-renames window would resurrect a partial live dir and
  orphan the pre-crash log); the post-fold replay guard
  (:func:`replayed_after_fold`, below); and, on request, the
  ids-never-reused check (:func:`assert_fresh_ids`).  The write then
  overwrites ONLY the batch's own partition under an intent marker
  (:func:`write_intent`), so an at-least-once replay of an uncompacted
  batch is idempotent.  Batches with DISTINCT batch ids and disjoint
  ids may run concurrently from one driver (:func:`run_jobs`): each
  writes only its own directories and declares its own marker.
* **Delete** (:func:`delete_rows`): ids land in the tombstone log
  under a ``delete-<n>`` intent marker (:func:`tombstone_append`,
  which recovers its own dir first); replay overwrites the same
  tombstone partition.
* **Load** (:func:`load_rows`): :func:`read_log` with the explicit
  schema (an absent log is an empty frame; a log mid-compaction-swap
  refuses loudly — serving it as empty would be silent data loss),
  ``batch_id`` dropped, tombstoned ids anti-joined out
  (:func:`apply_tombstones`; no tombstone log, no join).
* **Compact** (:func:`compact_log`), in this order:
  :func:`assert_quiesced` (no intent marker on the root — folding eats
  the per-batch partitions, so a pre-compaction batch replayed after
  the fold would re-add rows the base already holds; every compactor
  refuses instead of corrupting) → :func:`recover_family` →
  :func:`record_folded_batches` (marker FIRST: the recorded partitions
  are still durably in the log, so a skipped replay after a crashed
  fold loses nothing) → :func:`compact_tombstones` FIRST, retaining
  the ids → the row log and every sum-log folded through their loaders
  and swapped (:func:`compact_swap`) to a ``batch_id = -1`` base.  Real
  batch ids are >= 0, so a FRESH stream restarting at 0 never
  overwrites the base.  Swap: write staging → rename live to ``.old``
  → rename staging to live → drop ``.old`` (LOCAL-FS by design; an
  object store swaps via the table format's OPTIMIZE).  A crash
  between the renames is recovered by the next :func:`recover_swap`; a
  stale ``.old`` after the live rename is dropped by the next swap.
  Every fold is value-preserving, so a crash between the per-log swaps
  serves the same values.

The post-fold replay guard (:func:`replayed_after_fold`): a batch whose
id is in the fold marker may be a REPLAY of a folded batch (skip it
with a warning — re-applying double-counts) or a fresh stream recycling
the id space (proceed).  Any id overlap with a probe decides it, and
the probe follows three rules:

1. probe the RAW log ∪ tombstones, never the masked serving view — a
   folded batch whose rows were all deleted is invisible there, yet its
   replay would recreate masked rows or re-add netted stat deltas;
2. exclude the batch's own partition from the writer's OWN log, so a
   fresh stream's partial first attempt heals on replay instead of
   being skipped forever (a fold moves rows to ``-1``, so true replays
   stay visible);
3. never exclude from the tombstone sibling when appending — delete
   batches are numbered in the delete stream's own checkpoint, so equal
   numbers are common.

Folding tombstones first closes the last window: no crash leaves a
folded batch's only evidence in its own (excluded) partition.

Tombstones are RETAINED across compactions (folded to their own
``-1`` base).  Quiescence is the actual guarantee; retention only
narrows the blast radius if it is violated, by keeping deleted ids
deleted.  Tombstone volume is |deleted ids|, metadata-scale next to
the log it guards.

**BM25 extension — a sum-log** (:class:`SumLog`): ``corpus_stats``
holds per-batch ``(n_docs, sum_dl)`` DELTAS beside the postings row
log, folded by summation (per-term df is not stored: it is the count
of a term's live postings).  It rides the same append intent and the
same compaction (recovered, recorded, folded and swapped with the row
log); a delete writes a NEGATIVE delta into it at a caller-chosen key
(``sums_batch_id``).  BM25 alone guards that key against a post-fold
replay (ext/retrieval.py), since only stat deltas can double-subtract.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from typing import Callable, Iterator, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline311_spark.sinks.writers import write_parquet


class RowLog(NamedTuple):
    """A family's tombstoned row log: ``root/<sub>``, read with
    ``schema`` (``batch_id`` included), rows keyed by ``id_field``,
    optionally sub-partitioned under each batch dir, and optionally
    clustered: every row-log write lays its rows out sorted by
    ``(*cluster_by, id_field)`` (:func:`_write_rows`)."""

    sub: str
    schema: T.StructType
    id_field: str
    partition_by: tuple[str, ...] = ()
    cluster_by: tuple[str, ...] = ()


class SumLog(NamedTuple):
    """A stat-delta log riding beside a row log (``root/<sub>``): per-batch
    deltas, summed by ``fold`` into the serving view."""

    sub: str
    schema: T.StructType
    fold: Callable[[DataFrame], DataFrame]


def run_jobs(*thunks: Callable[[], None]) -> None:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (actions are sequential only because driver code calls them
    sequentially; overlapping them lets the next job's tasks
    back-fill executors freed by the current job's stragglers, and —
    the dominant effect for this engine's metadata-scale artifact
    writes — overlaps their fixed per-action driver cost: plan
    analysis, file-commit protocol, py4j round trips).

    Caller contract: the thunks must not depend on each other's
    RESULTS, and must write disjoint paths.  Sharing a not-yet-filled
    persisted frame is fine — and usually faster than sequencing the
    filler first: BlockManager serializes per-partition computation
    under a block write lock (one job's task computes, the others
    block then read the cached block), so the fill happens exactly
    once while the jobs' fixed per-action costs overlap (measured
    1.15 s -> 0.87 s for the BM25 append triple at sf0.1; sequencing
    the filler first is not needed).  Exceptions:
    every thunk runs to completion, then the first failure re-raises —
    so a surrounding :func:`write_intent` keeps its marker exactly
    when some write did not commit cleanly."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    # Spark local properties (job group, description) and job tags live
    # per thread: wrapping here, in the caller's thread, carries them
    # into the pool threads.  Each wrap clones the properties, and each
    # thunk needs its own clone: SQL execution writes its execution ids
    # into them, so a shared one would cross the concurrent writes' ids
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        errs = [f.exception() for f in futures]
        for e in errs:
            if e is not None:
                raise e


def write_batch_partition(
    df: DataFrame,
    path: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (),
    sorted_by: tuple[str, ...] = (),
) -> None:
    """Write one batch's rows straight into their Hive-style partition
    directory (``path/batch_id=<n>``, plain ``overwrite``) instead of a
    dynamic-partition-overwrite ``partitionBy`` write of a constant
    ``batch_id`` column (the dynamic committer stages, enumerates and
    moves partition dirs per write — pure commit-protocol overhead when
    the partition value is a literal the caller already knows; measured
    ~0.1 s of the ~0.45 s wall of a one-partition artifact write at
    sf0.1, and at scale it is driver-side work that grows with
    partition count).

    Read-back identical: :func:`read_log`'s explicit schema fills
    ``batch_id`` from the directory name (the column must NOT be in
    ``df``), and nested ``partition_by`` levels are laid out exactly as
    ``partitionBy("batch_id", *partition_by)`` would.  An all-empty
    batch leaves an empty ``batch_id=<n>`` dir, which reads as zero
    rows.  ``sorted_by`` names the columns each task's rows are sorted
    by; they are written without a dictionary
    (:func:`~pipeline311_spark.sinks.writers.write_parquet`).

    Crash window: plain ``overwrite`` deletes the existing
    ``batch_id=<n>`` dir at job start, so a crash mid-replay leaves the
    partition partial for the whole rewrite.  Only batches whose intent
    marker is still present (never committed cleanly) are ever
    rewritten, so no committed content sits in the window; a serve
    racing that replay can transiently miss its rows."""
    if "batch_id" in df.columns:
        raise ValueError(
            "write_batch_partition: drop the batch_id column — the "
            "directory name provides it at read time"
        )
    write_parquet(
        df,
        os.path.join(path, f"batch_id={int(batch_id)}"),
        partition_by=list(partition_by),
        sorted_by=sorted_by,
    )


def intent_dir(root: str) -> str:
    """The in-flight-batch marker dir INSIDE an artifact family's root
    (underscore-prefixed: Spark never reads it; living inside the root
    means the query wrappers' rmtree cleans it with the store)."""
    return os.path.join(root, "_intent")


@contextmanager
def write_intent(root: str, key: str) -> Iterator[None]:
    """Declare an in-flight batch write on the family rooted at
    ``root``: one empty marker file named ``key`` exists exactly while
    the write is in flight, and :func:`assert_quiesced` makes
    compaction refuse while any marker is present.

    ``key`` must be the batch's DETERMINISTIC identity (e.g.
    ``append-<batch_id>``): a writer that crashes mid-write leaves its
    marker behind — correctly, since that batch is the uncommitted work
    that makes compaction unsafe — and the stream's at-least-once
    replay of the same batch recreates and then clears the same marker.
    The marker is removed ONLY on clean completion."""
    d = intent_dir(root)
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(d, key)
    with open(marker, "w"):
        pass
    yield
    os.remove(marker)


def assert_quiesced(root: str) -> None:
    """Refuse to compact a family with in-flight batch writes (module
    note).  Recovery: let the writing stream finish (its replay clears
    the marker), or — if the writer is known dead with its checkpoint
    discarded — remove the marker file by hand."""
    d = intent_dir(root)
    if not os.path.isdir(d):
        return
    left = sorted(os.listdir(d))
    if left:
        raise RuntimeError(
            f"compaction refused: artifact root {root} has in-flight batch "
            f"write(s) {left} (quiescence contract, ext/artifact.py) — wait "
            "for the writing stream to commit/replay, or remove the marker "
            "only if that writer's checkpoint is discarded"
        )


def folded_marker_path(root: str) -> str:
    return os.path.join(root, "_folded_batches.txt")


def folded_batches(root: str) -> set[int]:
    """Batch ids (appends at >= 0, BM25 delete keys in the negative
    key-space) that a past compaction of the family rooted at ``root``
    has absorbed into its ``batch_id = -1`` base."""
    p = folded_marker_path(root)
    if not os.path.isfile(p):
        return set()
    with open(p) as f:
        return {int(x) for x in f.read().split()}


def record_folded_batches(root: str, subs: Sequence[str]) -> None:
    """Union the batch-id partitions currently in each ``root/<sub>``
    (and everything previously recorded) into the fold marker — at the
    START of compaction, before any fold (module note)."""
    seen = folded_batches(root)
    for sub in subs:
        d = os.path.join(root, sub)
        if os.path.isdir(d):
            seen.update(
                int(name.split("=", 1)[1])
                for name in os.listdir(d)
                if name.startswith("batch_id=")
            )
    seen.discard(-1)  # the base itself, never a batch
    if seen:
        tmp = folded_marker_path(root) + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(str(b) for b in sorted(seen)))
        os.replace(tmp, folded_marker_path(root))


def skip_if_replayed(
    batch_ids: DataFrame, root: str, batch_id: int, probe_ids: DataFrame,
    id_field: str, who: str,
) -> bool:
    """The replay decision: True (with a warning) when the batch's ids
    overlap ``probe_ids`` — fresh batches are id-disjoint, so overlap
    can only mean replay.  Empty batches skip too: an empty replayed
    partition adds nothing."""
    import warnings

    ids = batch_ids.select(id_field)
    overlap = ids.join(probe_ids.select(id_field), id_field, "left_semi").take(1)
    if overlap or not ids.take(1):
        warnings.warn(
            f"{who}: batch {int(batch_id)} was already folded by a compaction "
            f"of {root} and its content is present in the base — skipping the "
            "replayed write (re-applying would double-count); a deliberately "
            "fresh stream recycling this batch id must carry disjoint ids",
            stacklevel=4,
        )
        return True
    return False


def replayed_after_fold(
    root: str,
    fold_key: int,
    batch_id: int,
    ids: DataFrame,
    own: tuple[str, T.StructType],
    also: Sequence[tuple[str, T.StructType]] = (),
    *,
    who: str,
) -> bool:
    """The post-fold replay guard (module note): False unless
    ``fold_key`` is in the fold marker — steady-state batches never pay
    the probe.  Otherwise probe ``ids`` (one column, the id field)
    against the writer's ``own`` log (path, schema) minus partition
    ``batch_id``, unioned with the ``also`` logs unfiltered, and skip
    on overlap."""
    if int(fold_key) not in folded_batches(root):
        return False
    spark, id_field = ids.sparkSession, ids.columns[0]
    probe = (
        read_log(spark, *own)
        .filter(F.col("batch_id") != int(batch_id))
        .select(id_field)
    )
    for path, schema in also:
        probe = probe.unionByName(read_log(spark, path, schema).select(id_field))
    return skip_if_replayed(ids, root, batch_id, probe, id_field, who)


def read_log(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Log-dir read with explicit schema.  A log no batch ever wrote
    (empty source → zero micro-batches → the directory itself is
    absent) folds to an empty frame instead of PATH_NOT_FOUND.  A dir
    mid-compaction-swap fails loudly: serving it as empty would be
    silent data loss."""
    if not os.path.isdir(path):
        if os.path.isdir(path + ".compact.old"):
            raise RuntimeError(
                f"{path} is mid-compaction-swap (found {path}.compact.old); "
                "re-run the artifact's compaction to recover before serving"
            )
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def recover_swap(path: str) -> None:
    """Finish a compaction swap that crashed between its two renames:
    the only live copy is the ``.old`` dir — restore it."""
    old = path + ".compact.old"
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)


def tombstone_dir(path: str) -> str:
    """The naming convention binding a row log to its tombstone sibling
    (``<log>_deleted``)."""
    return path + "_deleted"


def recover_family(root: str, log: RowLog, sums: Sequence[SumLog] = ()) -> None:
    """Recover crashed compaction swaps on every log dir of a family —
    the row log, its tombstone sibling and each sum-log."""
    path = os.path.join(root, log.sub)
    for p in (path, tombstone_dir(path), *(os.path.join(root, s.sub) for s in sums)):
        recover_swap(p)


def reset_log(root: str, path: str) -> None:
    """Drop the log at ``path`` — live dir, crashed-swap leftovers and
    its tombstone sibling — plus the fold marker of the family rooted
    at ``root``: what a full REBUILD does before writing its batch 0.
    A rebuild that kept any of them would serve stale appended rows,
    mask rebuilt ids behind stale tombstones (a leftover tombstone
    ``.compact.old`` is resurrected by the next recovery), or misread
    its own batch ids as post-fold replays."""
    for p in (path, tombstone_dir(path)):
        for suffix in ("", ".compact.old", ".compact.tmp"):
            shutil.rmtree(p + suffix, ignore_errors=True)
    if os.path.isfile(folded_marker_path(root)):
        os.remove(folded_marker_path(root))


def tombstone_schema(id_field: str) -> T.StructType:
    """(id, batch_id) — the tombstone log row."""
    return T.StructType(
        [
            T.StructField(id_field, T.LongType()),
            T.StructField("batch_id", T.LongType()),
        ]
    )


def tombstone_append(ids: DataFrame, batch_id: int, path: str, id_field: str) -> None:
    """Write one delete-batch of ids to the tombstone log at ``path``,
    overwriting ONLY its own ``batch_id`` partition, after recovering a
    crashed compaction swap of that log."""
    recover_swap(path)
    write_batch_partition(
        ids.select(F.col(id_field).cast("long").alias(id_field)).distinct(),
        path,
        batch_id,
    )


def apply_tombstones(
    spark: SparkSession, rows: DataFrame, path: str, id_field: str
) -> DataFrame:
    """``rows`` minus every id in the tombstone log at ``path`` — ONE
    left-anti join against the (metadata-scale) deleted-id set.  No
    tombstone log at plan-construction time returns ``rows`` as they
    are: an empty frame of unknown size would plan a sort-merge
    anti-join for nothing.  No broadcast hint: the deleted set is
    usually tiny (AQE broadcasts it) but is not structurally bounded,
    so the planner keeps the choice."""
    if not os.path.isdir(path) and not os.path.isdir(path + ".compact.old"):
        return rows
    ts = read_log(spark, path, tombstone_schema(id_field)).select(id_field)
    # re-select: the USING-join floats the id column to the front, and
    # artifact readers are column-ordered (explicit schemas)
    return rows.join(ts, id_field, "left_anti").select(rows.columns)


def assert_fresh_ids(batch: DataFrame, path: str, id_field: str) -> None:
    """Opt-in guard for the ids-never-reused contract: re-appending a
    previously deleted id is silently inconsistent — the retained
    tombstone masks the row forever, and for BM25 the append's positive
    stat deltas still count it, skewing n_docs/avgdl with no error.
    One semi-join of the batch's ids against the tombstone log at
    ``path``; raises on the first hit with examples.  It costs one
    batch-side job, so appenders take it as the ``validate_fresh_ids``
    flag — the update-maintenance paths (which re-append near deleted
    ids by construction) turn it on."""
    ts = read_log(
        batch.sparkSession, path, tombstone_schema(id_field)
    ).select(id_field)
    hits = batch.select(id_field).join(ts, id_field, "left_semi").take(5)
    if hits:
        ids = sorted(r[id_field] for r in hits)
        raise ValueError(
            f"assert_fresh_ids: append batch re-uses {len(ids)}+ tombstoned "
            f"id(s) (examples: {ids}) — ids are never reused (ext/artifact.py "
            "module contract); re-added content must carry a NEW id"
        )


def compact_tombstones(spark: SparkSession, path: str, id_field: str) -> None:
    """Fold the tombstone log to its ``batch_id = -1`` base, RETAINING
    the ids (module note)."""
    recover_swap(path)
    if not os.path.isdir(path):
        return
    base = (
        read_log(spark, path, tombstone_schema(id_field))
        .select(id_field)
        .distinct()
    )
    compact_swap(
        path,
        lambda staging: write_batch_partition(base, staging, -1),
    )


def compact_swap(path: str, write_staging: Callable[[str], None]) -> None:
    """Atomically-enough replace ``path`` with freshly written content:
    ``write_staging(staging_dir)`` materializes the new content (it may
    READ the live ``path`` — the write completes before any rename),
    then the two-rename swap installs it.  Crash windows are covered by
    :func:`recover_swap` (between renames) and the stale-``.old`` drop
    below (after the live rename, before cleanup)."""
    old, staging = path + ".compact.old", path + ".compact.tmp"
    write_staging(staging)
    if os.path.isdir(path):
        # stale .old from a crash after a previous swap's live rename:
        # live is authoritative, renaming onto a non-empty dir raises
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# The four lifecycle steps (module note)
# ---------------------------------------------------------------------------


def admit_append(
    root: str,
    log: RowLog,
    ids: DataFrame,
    batch_id: int,
    who: str,
    validate_fresh_ids: bool = False,
    sums: Sequence[SumLog] = (),
) -> bool:
    """The append guard: recover every log dir, skip a post-fold replay
    (own log minus this partition ∪ all tombstones), then optionally
    refuse reused ids.  ``ids`` is the batch's one-column id frame named
    ``log.id_field``.  Returns False when the batch must not be
    written."""
    recover_family(root, log, sums)
    path = os.path.join(root, log.sub)
    tombstones = tombstone_dir(path)
    if replayed_after_fold(
        root, batch_id, batch_id, ids, (path, log.schema),
        ((tombstones, tombstone_schema(log.id_field)),), who=who,
    ):
        return False
    if validate_fresh_ids:
        assert_fresh_ids(ids, tombstones, log.id_field)
    return True


def _write_rows(rows: DataFrame, path: str, batch_id: int, log: RowLog) -> None:
    """The one row-log write (an appended batch or the ``-1`` base):
    a clustered log is hash-repartitioned on ``cluster_by`` and sorted
    within each task by ``(*partition_by, *cluster_by, id_field)``
    (module note; the partition columns lead so the writer's own
    per-partition sort is already satisfied), and the file columns of
    that sort are written without a dictionary."""
    sorted_by: tuple[str, ...] = ()
    if log.cluster_by:
        sorted_by = (*log.cluster_by, log.id_field)
        rows = rows.repartition(*log.cluster_by).sortWithinPartitions(
            *log.partition_by, *sorted_by
        )
    write_batch_partition(rows, path, batch_id, log.partition_by, sorted_by)


def _sum_writes(
    root: str, sums: Sequence[tuple[SumLog, DataFrame]], batch_id: int
) -> list[Callable[[], None]]:
    return [
        lambda s=s, df=df: write_batch_partition(df, os.path.join(root, s.sub), batch_id)
        for s, df in sums
    ]


def append_rows(
    root: str,
    log: RowLog,
    batch_id: int,
    rows: DataFrame,
    sums: Sequence[tuple[SumLog, DataFrame]] = (),
    replace: bool = False,
) -> None:
    """Write one batch's rows (and sum-log deltas) to their own
    ``batch_id`` partitions under one ``append-<n>`` intent marker.  The
    writes are independent actions on disjoint dirs and run
    concurrently (:func:`run_jobs`).  ``replace=True`` (a full rebuild)
    first drops the old row log, its tombstones and the fold marker
    (:func:`reset_log`)."""
    path = os.path.join(root, log.sub)
    with write_intent(root, f"append-{int(batch_id)}"):
        if replace:
            reset_log(root, path)
        run_jobs(
            lambda: _write_rows(rows, path, batch_id, log),
            *_sum_writes(root, sums, batch_id),
        )


def delete_rows(
    root: str,
    log: RowLog,
    ids: DataFrame,
    batch_id: int,
    sums: Sequence[tuple[SumLog, DataFrame]] = (),
    sums_batch_id: int | None = None,
) -> None:
    """Tombstone one delete batch of ``ids`` (one column, the id field)
    under a ``delete-<n>`` intent marker; sum-log deltas, if any, are
    written concurrently at ``sums_batch_id``."""
    path = os.path.join(root, log.sub)
    with write_intent(root, f"delete-{int(batch_id)}"):
        run_jobs(
            lambda: tombstone_append(ids, batch_id, tombstone_dir(path), log.id_field),
            *_sum_writes(root, sums, batch_id if sums_batch_id is None else sums_batch_id),
        )


def load_rows(spark: SparkSession, root: str, log: RowLog) -> DataFrame:
    """The serving view of a row log: every batch, tombstones applied."""
    path = os.path.join(root, log.sub)
    rows = read_log(spark, path, log.schema).drop("batch_id")
    return apply_tombstones(spark, rows, tombstone_dir(path), log.id_field)


def load_sum(spark: SparkSession, root: str, s: SumLog) -> DataFrame:
    """The serving view of a sum-log: its deltas folded."""
    return s.fold(read_log(spark, os.path.join(root, s.sub), s.schema))


def compact_log(
    spark: SparkSession, root: str, log: RowLog, sums: Sequence[SumLog] = ()
) -> None:
    """Fold a row log (tombstoned rows physically dropped) and its
    sum-logs to ``batch_id = -1`` bases, in the module-note order."""
    assert_quiesced(root)
    recover_family(root, log, sums)
    path = os.path.join(root, log.sub)
    if not os.path.isdir(path):
        return  # nothing ever appended
    record_folded_batches(root, [log.sub, *(s.sub for s in sums)])
    compact_tombstones(spark, tombstone_dir(path), log.id_field)
    rows = load_rows(spark, root, log)
    folds = [(os.path.join(root, s.sub), load_sum(spark, root, s)) for s in sums]
    run_jobs(
        lambda: compact_swap(path, lambda staging: _write_rows(rows, staging, -1, log)),
        *[
            lambda p=p, df=df: compact_swap(
                p, lambda staging: write_batch_partition(df, staging, -1)
            )
            for p, df in folds
        ],
    )
