"""Lexical retrieval as a STORED index (BM25) plus rank fusion.

The r7 BM25 query recomputed tf/df/avgdl from raw text on every run —
fine for a one-shot query, wrong at corpus scale where retrieval is a
serving workload: the index must be a per-corpus-version ARTIFACT,
built once, stored, and incrementally maintained, exactly like the
stored gram table the MinHash family uses (ext/dedup.py,
``minhash_pairs_from_grams`` / ``minhash_incremental_from_store``).

Index contract (three tables, all parquet-friendly):

* **postings** ``(term, doc_id, tf, dl)`` — one row per (doc, distinct
  term); ``tf`` is the occurrence count, ``dl`` the doc's token length
  DENORMALIZED onto every posting (the classic posting-with-doclen
  layout) so scoring never joins a doc-length table.  At 100 TB the
  postings are written partitioned/bucketed by ``term`` — a query
  touches only its vocabulary's partitions (partition-pruned read),
  never the corpus.
* **term_stats** ``(term, df)`` — document frequency per term;
  |vocabulary| rows.
* **corpus_stats** ``(n_docs, sum_dl)`` — ONE row.  ``sum_dl`` (not
  avgdl) is stored because sums are combinable: an incremental batch
  merges by addition, no re-scan.

Incremental maintenance: the ONE stored form is an append-only log
partitioned by batch id (the ext/artifact.py contract) — a build is
batch 0 (:func:`bm25_index_append_batch`), and every later batch
writes only its own deltas, built from the batch alone.
:func:`load_bm25_index` folds the log: postings by union, ``term_stats``
by per-term ``df`` addition and ``corpus_stats`` by element addition —
valid because batch doc ids are disjoint (the same disjointness
contract as ``minhash_incremental_from_store``).  Deletes ride the same
folds (:func:`bm25_index_delete_batch`: a doc-id tombstone log plus
NEGATIVE stat deltas), and :func:`bm25_index_compact` folds the log to
one base.  The folded index is REQUIRED to be row-identical to a
one-batch build over the live corpus; the registry queries
``text_bm25_incr_store`` and ``text_bm25_delete_merge`` prove it under
the oracle gate (same DuckDB twin as the from-scratch query).

Scoring (:func:`bm25_score_topk`) keeps the r7 cross-engine
discipline: per-term contributions are folded in SORTED TERM ORDER so
the floating sum is order-identical everywhere, ranks are compared on
``round(score, 6)`` with a doc-id tiebreak, and callers drop the
ln-based double before any oracle hash (DuckDB ``ln`` vs JVM
``Math.log`` can differ by 1 ulp — plans/curation3.py).

Rank fusion (:func:`rrf_fuse`): reciprocal-rank fusion over a VARIABLE
set of rankers (r7 shipped the lexical+dense pair hardcoded; production
fusion takes N lists — lexical, dense, recency, click models...).  The
fused score is Σ 1/(C + rank_i) summed in FIXED RANKER ORDER (one
pivoted column per ranker, an expression-tree sum — not an aggregation
over rows, whose order Spark does not define), so the double is
bit-identical across engines and safely rides the oracle hash.
"""

from __future__ import annotations

import os
from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from pipeline311_spark.ext.textstats import tokens

BM25_K1 = 1.2
BM25_B = 0.75


class Bm25Index(NamedTuple):
    """The stored-index triple.  Each member is a DataFrame view of the
    folded artifact log (:func:`load_bm25_index`)."""

    postings: DataFrame  # term, doc_id, tf, dl
    term_stats: DataFrame  # term, df
    corpus_stats: DataFrame  # n_docs, sum_dl


def _bm25_token_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl, tk) — the ONE tokenize pass every BM25 artifact can
    derive from (``dl = size(tokens(text))``; NULL text absent from
    the index — the engine-wide failed-decode convention)."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("tk"))
        .select("doc_id", F.size("tk").cast("long").alias("dl"), "tk")
    )


def _postings_from_base(base: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) from a token base — explode, then a
    map-side-combined groupBy whose shuffle carries (doc, term)
    partials, not the raw token stream (zero-token docs vanish at the
    explode)."""
    return (
        base.select("doc_id", "dl", F.explode("tk").alias("tok"))
        .select("doc_id", "dl", F.lower("tok").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _corpus_stats_from_base(base: DataFrame) -> DataFrame:
    """(n_docs, sum_dl) from a token base — counts every non-NULL-text
    doc (including zero-token docs, which produce no postings)."""
    return base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )


def bm25_batch_artifacts(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_postings: bool = True,
):
    """The index-delta triple for ONE batch from ONE tokenize pass
    (guide §1.2: the per-artifact builders each re-tokenized the batch,
    so the append/delete ``foreachBatch`` bodies paid three corpus
    passes per micro-batch — tokenize is the dominant per-batch cost at
    scale).  The token base (and, when ``persist_postings``, the
    postings) are persisted MEMORY_AND_DISK — batch-bounded, spillable;
    the caller MUST materialize every frame it uses before calling the
    returned ``release()``.

    Returns ``(postings, term_stats, corpus_stats, release)``.
    ``corpus_stats`` (n_docs, sum_dl) comes from the base, not the
    postings: zero-token docs count toward n_docs but produce no
    posting rows.  Stored as SUMS so batches fold by addition.
    """
    from pyspark.storagelevel import StorageLevel

    base = _bm25_token_base(batch_df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    postings = _postings_from_base(base)
    if persist_postings:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)

    def release() -> None:
        if persist_postings:
            postings.unpersist(False)
        base.unpersist(False)

    return postings, bm25_term_stats(postings), _corpus_stats_from_base(base), release


def bm25_term_stats(postings: DataFrame) -> DataFrame:
    """(term, df) from postings — postings are per-(doc, term) distinct
    by construction, so ``df`` is a plain map-side-combined count."""
    return postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def bm25_score_topk(
    hits: DataFrame,
    term_df: DataFrame,
    stats: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 scoring over matched postings — the SHARED kernel of
    the query-local path (plans/curation3.bm25_scored_frame, which
    aggregates ``hits`` from raw text filtered to the query vocabulary)
    and the stored-index path (:func:`bm25_topk`, which reads them from
    the postings table).

    Inputs: ``hits`` (query_id, term, doc_id, tf, dl); ``term_df``
    (query_id, term, df) — dimension-scale, broadcast; ``stats`` one
    row (n_docs, avgdl).  Output: (query_id, rank, doc_id, bm25,
    tf_sum, dl) — ``bm25`` is ``round(score, 6)``; oracle-hashed
    callers must drop it (module note).

    Determinism: contributions fold in sorted term order; rank ties
    break by doc_id.  Scale: everything after ``hits`` operates on
    matched-posting cardinality; the only shuffle is the per-(query,
    doc) fold aggregation plus the bounded top-k window."""
    contrib = (
        hits.join(F.broadcast(term_df), ["query_id", "term"])
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.log(
                F.lit(1.0)
                + ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda a, s: a + s["c"],
        ).alias("score"),
        F.sum("tf").cast("long").alias("tf_sum"),
        F.min("dl").cast("long").alias("dl"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 6).desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("bm25", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "bm25", "tf_sum", "dl")
    )


def bm25_topk(
    index: Bm25Index,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Serve BM25 top-k from the STORED index: the corpus is never
    touched — the postings join against the broadcast query vocabulary
    is the scan (partition-pruned when postings are stored partitioned
    by term), term_stats restricts to the same vocabulary, and the
    one-row corpus_stats rides along.  ``queries``: (query_id, term)."""
    q = F.broadcast(queries.select("query_id", "term"))
    hits = index.postings.join(q, "term").select(
        "query_id", "term", "doc_id", "tf", "dl"
    )
    term_df = q.join(index.term_stats, "term").select("query_id", "term", "df")
    stats = index.corpus_stats.select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    return bm25_score_topk(hits, term_df, stats, k=k, k1=k1, b=b)


# ---------------------------------------------------------------------------
# Streaming index maintenance: an append-only log of batch deltas
# ---------------------------------------------------------------------------
#
# The on-disk index is an APPEND-ONLY LOG partitioned by batch id
# (read-merge-rewrite would open a swap window per batch) — postings rows, per-batch
# term-df rows, and per-batch one-row corpus stats.  Loading folds the
# deltas: postings read as-is (the union IS the merge, disjoint doc
# ids), term df summed per term (|vocabulary|-scale), corpus stats
# summed (rows = batches).  Replayed micro-batches (crash-recovery's
# at-least-once delivery) are IDEMPOTENT because each append
# dynamically overwrites only its own batch_id partition.

_POSTINGS_LOG_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)
_TERM_LOG_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)
_STATS_LOG_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("sum_dl", T.LongType()),
        T.StructField("batch_id", T.LongType()),
    ]
)


def bm25_index_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate_fresh_ids: bool = False,
) -> None:
    """Append one micro-batch's index deltas (the ``foreachBatch``
    body).  Doc ids must be disjoint across batches (file-split or
    keyed sources give this for free).  Idempotent under replay: every
    write overwrites ONLY its own ``batch_id=<n>`` directory
    (:func:`~pipeline311_spark.ext.artifact.write_batch_partition`), so
    re-delivering a batch rewrites the same rows.

    ``validate_fresh_ids`` (ADVICE r10): semi-join the batch's ids
    against the postings tombstone log and refuse a re-appended
    deleted id — for BM25 specifically, a reused id is SILENTLY
    inconsistent (tombstone masks its postings forever, but the
    append's positive stat deltas still skew n_docs/avgdl/idf).  The
    update-maintenance path turns it on (plans/index_update.py).

    Recovers a crashed compaction swap on each artifact FIRST (review
    r9): appending into the between-renames window would resurrect a
    partial live dir and orphan the pre-crash log in ``.compact.old``,
    which the next compaction deletes — silent data loss."""
    from pipeline311_spark.ext.artifact import (
        assert_fresh_ids,
        folded_batches,
        recover_swap,
        skip_if_replayed,
        tombstone_dir,
        write_intent,
    )

    for sub in ("postings", "term_stats", "corpus_stats"):
        recover_swap(os.path.join(index_dir, sub))
    if int(batch_id) in folded_batches(index_dir):
        # post-fold replay guard (review r11: appends double-ADD stats
        # exactly as deletes double-subtract — the first cut guarded
        # only the delete side).  Content probe against RAW postings ∪
        # tombstones, excluding this batch's own partition (see
        # skip_if_replayed for why both rules matter): a replayed
        # batch overlaps; a fresh stream recycling the id space
        # carries disjoint ids and proceeds.  (A replayed batch of
        # ONLY zero-token docs leaves neither postings nor — having
        # nothing to delete — tombstones, and slips through to
        # double-count n_docs: the residual window, documented; real
        # batches carry tokens.)
        from pipeline311_spark.ext.artifact import read_log, tombstone_schema

        spark_ = batch_df.sparkSession
        p_path = os.path.join(index_dir, "postings")
        # own-partition exclusion applies ONLY to the append stream's
        # own log; the tombstone sibling is numbered in the DELETE
        # stream's independent namespace and is never excluded here
        # (skip_if_replayed's contract, review r11 wave three)
        probe = read_log(spark_, p_path, _POSTINGS_LOG_SCHEMA).filter(
            F.col("batch_id") != int(batch_id)
        ).select("doc_id").unionByName(
            read_log(
                spark_, tombstone_dir(p_path), tombstone_schema("doc_id")
            ).select("doc_id")
        )
        if skip_if_replayed(
            batch_df.select(F.col(id_col).alias("doc_id")),
            index_dir,
            batch_id,
            probe,
            "doc_id",
            "bm25_index_append_batch",
        ):
            return
    if validate_fresh_ids:
        assert_fresh_ids(
            batch_df.select(F.col(id_col).alias("doc_id")),
            tombstone_dir(os.path.join(index_dir, "postings")),
            "doc_id",
        )
    # ONE tokenize pass for all three artifacts (guide §1.2): the
    # persisted token base feeds postings and corpus_stats, the
    # persisted postings feed term_stats — the naive per-artifact
    # builders re-tokenized the batch three times per micro-batch.
    postings, term_stats, corpus_stats, release = bm25_batch_artifacts(
        batch_df, id_col, text_col
    )
    from pipeline311_spark.ext.artifact import write_batch_partition

    def _append(df: DataFrame, sub: str) -> None:
        write_batch_partition(df, os.path.join(index_dir, sub), batch_id)

    # quiescence intent spans all three artifact writes: a crash
    # mid-triple leaves the marker, and compaction refuses until this
    # batch replays (ext/artifact.py, VERDICT r10 item 3).  All three
    # writes run concurrently (guide §2.6: independent actions,
    # disjoint paths).  They share the persisted token base / postings
    # caches, and racing the fill is SAFE and faster: BlockManager
    # serializes per-partition computation under a block write lock
    # (one thread computes, the others block then read), so the fill
    # happens once while the three fixed per-action costs overlap —
    # measured 1.15 s -> 0.87 s per batch at sf0.1 vs the previous
    # postings-first sequencing (round 11, second wave).
    from pipeline311_spark.ext.artifact import run_jobs

    try:
        with write_intent(index_dir, f"append-{int(batch_id)}"):
            run_jobs(
                lambda: _append(postings, "postings"),
                lambda: _append(term_stats, "term_stats"),
                lambda: _append(corpus_stats, "corpus_stats"),
            )
    finally:
        release()


def bm25_index_delete_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """The delete-side ``foreachBatch`` body (the reference's own
    delete-reconciliation lifecycle, delete-removed-tickets.py, at the
    index layer).  ``batch_df`` carries the removed docs EXACTLY as
    indexed (same text): the negative deltas are recomputed from it,
    which is the only way n_docs can account for zero-token docs that
    left no posting rows.  Ids must not repeat across delete batches
    (a double-delete would double-subtract).  Three writes:

    * ``postings_deleted`` (the shared ``tombstone_dir`` convention):
      the doc-id tombstone log
      (:func:`pipeline311_spark.ext.artifact.tombstone_append`) —
      :func:`load_bm25_index` anti-joins it out of the postings fold.
    * ``term_stats`` / ``corpus_stats``: NEGATIVE delta rows riding the
      SAME sum folds the append deltas ride — written at batch id
      ``-(batch_id + 2)``, the negative key-space, because a delete
      stream checkpoints independently of the append stream: its
      micro-batch numbering restarts at 0 and a raw id would
      dynamically overwrite the append stream's partition (and ``-1``
      is the compaction base).  The mapping is injective, so replayed
      delete batches stay idempotent.

    Recovers crashed compaction swaps on every artifact first (the
    appender contract)."""
    from pipeline311_spark.ext.artifact import (
        folded_batches,
        read_log,
        recover_log,
        recover_swap,
        skip_if_replayed,
        tombstone_append,
        tombstone_dir,
        tombstone_schema,
        write_intent,
    )

    recover_log(os.path.join(index_dir, "postings"))  # + tombstone sibling
    for sub in ("term_stats", "corpus_stats"):
        recover_swap(os.path.join(index_dir, sub))
    neg_bid_int = -(int(batch_id) + 2)
    if neg_bid_int in folded_batches(index_dir):
        # ADVICE r10: this delete batch's negative stat deltas were
        # already FOLDED into the compaction base — replaying it would
        # re-subtract df/n_docs/sum_dl the base has netted (the
        # tombstone half is retention-protected, the stat half was
        # not).  Content probe against the tombstone log EXCLUDING this
        # batch's own partition (a crashed first attempt must heal on
        # replay — skip_if_replayed; the tombstone log IS the delete
        # stream's own log, so the exclusion is in-namespace here): a
        # true replay's ids sit in the folded tombstone base — which
        # the compactor folds FIRST, so no crash window strands the
        # evidence in the excluded partition; a fresh delete stream
        # recycling the id space carries not-yet-deleted ids and
        # proceeds.
        ts_probe = read_log(
            batch_df.sparkSession,
            tombstone_dir(os.path.join(index_dir, "postings")),
            tombstone_schema("doc_id"),
        ).filter(F.col("batch_id") != int(batch_id)).select("doc_id")
        if skip_if_replayed(
            batch_df.select(F.col(id_col).alias("doc_id")),
            index_dir,
            batch_id,
            ts_probe,
            "doc_id",
            "bm25_index_delete_batch",
        ):
            return
    # ONE tokenize pass for both negative deltas (guide §1.2): the
    # postings frame has a single consumer (term_stats), so only the
    # token base is persisted.
    _removed_postings, term_stats, corpus_stats, release = bm25_batch_artifacts(
        batch_df, id_col, text_col, persist_postings=False
    )
    try:
        with write_intent(index_dir, f"delete-{int(batch_id)}"):
            from pipeline311_spark.ext.artifact import write_batch_partition

            def _append_neg(df: DataFrame, sub: str) -> None:
                write_batch_partition(
                    df, os.path.join(index_dir, sub), neg_bid_int
                )

            from pipeline311_spark.ext.artifact import run_jobs

            # all three writes are independent (tombstone reads only
            # ids; the two stat deltas share the token-base cache,
            # whose concurrent fill BlockManager serializes under the
            # block write lock) — overlap them (guide §2.6; round 11,
            # second wave: same measurement as the append triple)
            run_jobs(
                lambda: tombstone_append(
                    batch_df.select(F.col(id_col).alias("doc_id")),
                    batch_id,
                    tombstone_dir(os.path.join(index_dir, "postings")),
                    "doc_id",
                ),
                lambda: _append_neg(
                    term_stats.withColumn("df", (-F.col("df")).cast("long")),
                    "term_stats",
                ),
                lambda: _append_neg(
                    corpus_stats.select(
                        (-F.col("n_docs")).cast("long").alias("n_docs"),
                        (-F.col("sum_dl")).cast("long").alias("sum_dl"),
                    ),
                    "corpus_stats",
                ),
            )
    finally:
        release()


def bm25_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold the append-only delta log into a single BASE delta — the
    periodic maintenance pass the log needs (per-batch partitions
    accrete forever; scan planning degrades with file count, the same
    pressure operators/layout.compact_parquet_dir exists for).

    The base is written at ``batch_id = -1``: real micro-batch ids are
    always >= 0, so even a brand-new stream with a FRESH checkpoint
    (which restarts numbering at 0) can never dynamically overwrite
    the compacted base.  Serving is unchanged because compaction is
    value-preserving per artifact — the fold of (base + later deltas)
    equals the fold of the original log — which also makes a crash
    BETWEEN the three artifact swaps harmless: a half-compacted index
    (postings compacted, term_stats still log-form) folds to the same
    values.

    Swap mechanics per artifact: write staging → rename live to .old →
    rename staging to live → remove .old (the layout-module pattern,
    LOCAL-FS by design; an object-store deployment swaps via the table
    format's OPTIMIZE).  A crash between the two renames is recovered
    at the next call; :func:`~pipeline311_spark.ext.artifact.read_log`
    fails loudly in that window instead of silently serving an empty
    artifact."""
    from pipeline311_spark.ext.artifact import (
        assert_quiesced,
        compact_swap,
        recover_log,
        recover_swap,
        tombstone_dir,
    )

    # enforce the quiescence contract FIRST (VERDICT r10 item 3): an
    # in-flight batch write means folding would eat partitions whose
    # batch will later replay on top of the base
    assert_quiesced(index_dir)
    # recover any crashed swap BEFORE reading: in that window the only
    # live copy of an artifact is its .old dir (and read_log refuses
    # to serve it as empty); recover_log covers the postings' tombstone
    # sibling
    recover_log(os.path.join(index_dir, "postings"))
    for sub in ("term_stats", "corpus_stats"):
        recover_swap(os.path.join(index_dir, sub))
    # record EVERY batch this fold will absorb — appends and deletes —
    # BEFORE folding (ADVICE r10 + review r11; marker-first ordering is
    # crash-safe, see ext/artifact.record_folded_batches)
    from pipeline311_spark.ext.artifact import (
        compact_tombstones,
        record_folded_batches,
    )

    record_folded_batches(index_dir, "term_stats")
    # fold tombstones FIRST (review r11 wave three): the replay guard
    # excludes a delete batch's own tombstone partition, so the
    # evidence that a delete was folded must reach the -1 base BEFORE
    # any stat fold can eat its negative partitions — a crash between
    # stat folds and a LAST tombstone fold would otherwise strand the
    # only evidence in the excluded partition and let the replay
    # double-subtract.  Value-preserving in every crash window: a
    # folded tombstone log anti-joins identically, and un-folded stat
    # partitions are still live for the replay to rewrite.
    compact_tombstones(
        spark, tombstone_dir(os.path.join(index_dir, "postings")), "doc_id"
    )
    folded = load_bm25_index(spark, index_dir)
    if not os.path.isdir(os.path.join(index_dir, "postings")):
        return  # nothing ever appended — no log to fold
    parts = {
        "postings": folded.postings,
        "term_stats": folded.term_stats,
        "corpus_stats": folded.corpus_stats,
    }
    # the three per-artifact swaps are independent (disjoint dirs, and
    # the docstring above proves any crash BETWEEN them folds to the
    # same values) — run them concurrently (guide §2.6, round 11)
    from pipeline311_spark.ext.artifact import run_jobs, write_batch_partition

    run_jobs(
        *[
            lambda sub=sub, df=df: compact_swap(
                os.path.join(index_dir, sub),
                lambda staging, df=df: write_batch_partition(df, staging, -1),
            )
            for sub, df in parts.items()
        ]
    )
    # the fold above read THROUGH the tombstones (load_bm25_index), so
    # deleted postings are physically gone from the base; the tombstone
    # ids themselves were folded-but-retained FIRST (see the fold-order
    # note above)


def load_bm25_index(spark: SparkSession, index_dir: str) -> Bm25Index:
    """Fold the append-only log back into the serving triple.  Explicit
    schemas: an index that never saw a batch (or an empty corpus) has
    no part files to infer from.

    Delete-awareness (round 10): postings anti-join the
    ``postings_deleted`` tombstone log (absent log = no-op); the
    term-df sum now nets the delete batches' NEGATIVE deltas, dropping
    terms at df <= 0 (a fresh build over the remaining corpus has no
    zero rows); corpus sums net the negative one-row deltas for free."""
    from pipeline311_spark.ext.artifact import (
        apply_tombstones,
        read_log,
        tombstone_dir,
    )

    postings = read_log(
        spark, os.path.join(index_dir, "postings"), _POSTINGS_LOG_SCHEMA
    )
    term_log = read_log(
        spark, os.path.join(index_dir, "term_stats"), _TERM_LOG_SCHEMA
    )
    stats_log = read_log(
        spark, os.path.join(index_dir, "corpus_stats"), _STATS_LOG_SCHEMA
    )
    return Bm25Index(
        postings=apply_tombstones(
            spark,
            postings.drop("batch_id"),
            tombstone_dir(os.path.join(index_dir, "postings")),
            "doc_id",
        ),
        term_stats=term_log.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") > 0),
        corpus_stats=stats_log.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        ),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion over N rankers
# ---------------------------------------------------------------------------

RRF_C = 60


def rrf_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    k: int = 10,
    c: int = RRF_C,
) -> DataFrame:
    """Fuse N ranked lists by reciprocal rank: RRF(d) = Σ 1/(C+rank_i)
    over the rankers that returned d.  ``rankings`` is an ordered
    sequence of (name, frame) where each frame has (query_id, doc_id,
    rank) — bounded top-k lists, so fusion operates on ≤ Σ k_i·|queries|
    rows regardless of corpus size.  (query_id, doc_id) pairs are
    expected unique per ranker (row_number top-k lists are); a frame
    that nevertheless carries duplicates contributes the pair's BEST
    rank — the min pivot below, not an order-dependent pick.

    Output: (query_id, rank, doc_id, rrf, <name>_rank...) with one
    provenance column per ranker (0 = absent — NULL would float the
    integer column in pandas-side canonicalization, the driver-strict
    rule).  Shape: a tagged union + ONE pivot aggregation (not a chain
    of N-1 full-outer joins), then the per-query top-k window.  The
    fused double sums the per-ranker 1/(C+r) terms in FIXED ranker
    order inside one expression tree — deterministic, unlike a
    row-order-dependent SUM aggregate — so it safely rides the oracle
    value hash."""
    names = [n for n, _ in rankings]
    if not names:
        raise ValueError("rrf_fuse needs at least one ranking")
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate ranker names: {names}")
    tagged = None
    for i, (_, frame) in enumerate(rankings):
        t = frame.select(
            "query_id",
            "doc_id",
            F.lit(i).alias("__ranker"),
            F.col("rank").cast("long").alias("__r"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    # F.min, not F.max: ranker frames are CONTRACTED to unique
    # (query_id, doc_id) pairs (every top-k producer in this repo emits
    # row_number ranks), but if a caller ever passes duplicates the
    # pivot must keep the doc's BEST rank, not silently its worst
    # (ADVICE r8)
    pivoted = tagged.groupBy("query_id", "doc_id").agg(
        *[
            F.min(F.when(F.col("__ranker") == i, F.col("__r")))
            .alias(f"{name}_rank")
            for i, name in enumerate(names)
        ]
    )
    rrf = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        rrf = term if rrf is None else rrf + term
    w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        pivoted.withColumn("rrf", rrf)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "rrf",
            *[
                F.coalesce(f"{name}_rank", F.lit(0)).cast("long").alias(f"{name}_rank")
                for name in names
            ],
        )
    )
