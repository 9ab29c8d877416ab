"""Lexical retrieval as a STORED index (BM25) plus rank fusion.

Recomputing tf/df/avgdl from raw text on every run (the query-local
path, plans/curation3.bm25_scored_frame) is fine for a one-shot query
and wrong at corpus scale, where retrieval is a serving workload: the
index is a per-corpus-version ARTIFACT, built once, stored, and
incrementally maintained, like the stored gram log the MinHash family
uses (ext/dedup.py, ``minhash_pairs_from_grams``).

Index contract (two tables, both parquet):

* **postings** ``(term, doc_id, tf, dl)`` — one row per (doc, distinct
  term); ``tf`` is the occurrence count, ``dl`` the doc's token length
  DENORMALIZED onto every posting (the classic posting-with-doclen
  layout) so scoring never joins a doc-length table.  The postings
  are clustered by ``term``: each file holds its own terms, sorted by
  ``(term, doc_id)``, so a term's postings sit in one file.
* **corpus_stats** ``(n_docs, sum_dl)`` — ONE row.  ``sum_dl`` (not
  avgdl) is stored because sums are combinable: an incremental batch
  merges by addition, no re-scan.  It cannot be derived from the
  postings: zero-token docs count toward ``n_docs`` and leave none.

Document frequency is not stored: a term's ``df`` is the number of its
live postings, so the serve counts it from the postings the query
matched (the DuckDB twin's ``df_t`` counts it the same way,
plans/curation3._bm25_sql).

Incremental maintenance: the ONE stored form is an append-only log
partitioned by batch id (the ext/artifact.py lifecycle: postings are
its tombstoned row log, ``corpus_stats`` its sum-log) — a build is
batch 0 (:func:`bm25_index_append_batch`), and every later batch
writes only its own deltas, built from the batch alone.
:func:`load_bm25_index` folds the log into a serving snapshot:
postings by union minus tombstones, ``corpus_stats`` by element
addition into two driver ints — valid because batch doc ids are
disjoint (the same disjointness contract as the gram log's).  Deletes
ride the same folds (:func:`bm25_index_delete_batch`: a doc-id
tombstone log plus a NEGATIVE ``corpus_stats`` delta), and
:func:`bm25_index_compact` folds the log to one base.  The folded
index is REQUIRED to be row-identical to a one-batch build over the
live corpus; the registry queries ``text_bm25_delete_merge``
(uncompacted fold) and ``text_bm25_delete_maintain`` (two append
batches, a delete, a compaction) prove it under the oracle gate (the
DuckDB twin is a fresh build over the remaining docs).

Scoring (:func:`bm25_score_topk`) keeps the cross-engine
discipline: per-term contributions are folded in SORTED TERM ORDER so
the floating sum is order-identical everywhere, ranks are compared on
``round(score, 6)`` with a doc-id tiebreak, and callers drop the
ln-based double before any oracle hash (DuckDB ``ln`` vs JVM
``Math.log`` can differ by 1 ulp — plans/curation3.py).

The index build and serve plans are Spark SQL text (``selectExpr``,
string ``filter``, ``F.expr`` wrapped once per expression, SQL window
and lambda syntax; doubles through
:func:`~pipeline311_spark.ext.hashing._dlit`): no ``F.col`` call or
``Column`` method runs on them, so building a plan runs no PySpark
call-site capture (ext/hashing.py module note).

Rank fusion (:func:`rrf_fuse`): reciprocal-rank fusion over a VARIABLE
set of rankers (production fusion takes N lists — lexical, dense,
recency, click models...).  The
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

from pipeline311_spark.ext.artifact import (
    RowLog,
    SumLog,
    admit_append,
    append_rows,
    compact_log,
    delete_rows,
    load_rows,
    load_sum,
    recover_family,
    replayed_after_fold,
    tombstone_dir,
    tombstone_schema,
)
from pipeline311_spark.ext.hashing import _dlit, meta_df
from pipeline311_spark.ext.textstats import tokens

BM25_K1 = 1.2
BM25_B = 0.75


class Bm25Index(NamedTuple):
    """A serving snapshot of the stored index (:func:`load_bm25_index`):
    the live postings view and the folded corpus sums as driver ints."""

    postings: DataFrame  # term, doc_id, tf, dl
    n_docs: int
    sum_dl: int


def _bm25_token_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl, tk) — the ONE tokenize pass every BM25 artifact can
    derive from (``dl = size(tokens(text))``; NULL text absent from
    the index — the engine-wide failed-decode convention)."""
    return (
        df.filter(f"{text_col} IS NOT NULL")
        .selectExpr(f"{id_col} AS doc_id", f"{tokens(text_col)} AS tk")
        .selectExpr("doc_id", "CAST(size(tk) AS BIGINT) AS dl", "tk")
    )


def _postings_from_base(base: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) from a token base — explode, then a
    map-side-combined groupBy whose shuffle carries (doc, term)
    partials, not the raw token stream (zero-token docs vanish at the
    explode)."""
    return (
        base.selectExpr("doc_id", "dl", "explode(tk) AS tok")
        .selectExpr("doc_id", "dl", "lower(tok) AS term")
        .groupBy("term", "doc_id", "dl")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _corpus_stats_from_base(base: DataFrame) -> DataFrame:
    """(n_docs, sum_dl) from a token base — counts every non-NULL-text
    doc (including zero-token docs, which produce no postings)."""
    return base.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(dl) AS BIGINT) AS sum_dl"),
    )


def bm25_batch_artifacts(
    batch_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
):
    """The index deltas for ONE batch from ONE tokenize pass (guide
    §1.2: tokenize is the dominant per-batch cost at scale).  The token
    base feeds both deltas, so it is persisted MEMORY_AND_DISK —
    batch-bounded, spillable; the caller MUST materialize every frame
    it uses before calling the returned ``release()``.

    Returns ``(postings, corpus_stats, release)``.  ``corpus_stats``
    (n_docs, sum_dl) comes from the base, not the postings: zero-token
    docs count toward n_docs but produce no posting rows.  Stored as
    SUMS so batches fold by addition.
    """
    from pyspark.storagelevel import StorageLevel

    base = _bm25_token_base(batch_df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return (
        _postings_from_base(base),
        _corpus_stats_from_base(base),
        lambda: base.unpersist(False),
    )


def bm25_score_topk(
    hits: DataFrame,
    n_docs: int,
    sum_dl: int,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 scoring over matched postings — the ONE kernel of the
    query-local path (plans/curation3.bm25_scored_frame, which
    aggregates ``hits`` from raw text filtered to the query vocabulary)
    and the stored-index path (:func:`bm25_topk`, which reads them from
    the postings table).

    Inputs: ``hits`` (query_id, term, doc_id, tf, dl), one row per
    (query, term, matching doc); the corpus sums ``n_docs`` and
    ``sum_dl`` as driver values, planned as literals.  Output:
    (query_id, rank, doc_id, bm25, tf_sum, dl) — ``bm25`` is
    ``round(score, 6)``; oracle-hashed callers must drop it (module
    note).  An empty corpus (``n_docs == 0``, also an all-deleted
    index) has no avgdl and nothing to score: it serves an empty frame
    with the same schema.

    Shape: ONE exchange — the hits are hash-partitioned on
    ``query_id``, and that partitioning serves the per-(query, term)
    ``df`` count window, the (query, doc) fold and the rank window with
    no further shuffle.  A query's scored docs already meet in one
    task at the rank window, so partitioning its hits there adds no
    new skew class.  Determinism: contributions fold in sorted term
    order; rank ties break by doc_id."""
    if n_docs == 0:
        return meta_df(
            hits.sparkSession,
            [],
            "query_id long, rank long, doc_id long, bm25 double, tf_sum long, dl long",
        )
    avgdl = float(sum_dl) / n_docs
    half = _dlit(0.5)
    idf = f"ln({_dlit(1.0)} + (({n_docs} - df + {half}) / (df + {half})))"
    norm = f"({_dlit(1.0 - b)} + {_dlit(b)} * dl / {_dlit(avgdl)})"
    contrib = (
        hits.repartition("query_id")
        .withColumn("df", F.expr("count(*) OVER (PARTITION BY query_id, term)"))
        .withColumn(
            "c",
            F.expr(f"{idf} * (tf * {_dlit(k1 + 1.0)}) / (tf + {_dlit(k1)} * {norm})"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(term, c))), "
            f"{_dlit(0.0)}, (a, s) -> a + s.c) AS score"
        ),
        F.expr("CAST(sum(tf) AS BIGINT) AS tf_sum"),
        F.expr("CAST(min(dl) AS BIGINT) AS dl"),
    )
    rank = "row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id)"
    return (
        scored.withColumn("bm25", F.expr("round(score, 6)"))
        .withColumn("rank", F.expr(f"CAST({rank} AS BIGINT)"))
        .filter(f"`rank` <= {k}")
        .select("query_id", "rank", "doc_id", "bm25", "tf_sum", "dl")
    )


def bm25_topk(
    index: Bm25Index,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Serve BM25 top-k from a STORED index snapshot: the corpus is
    never touched — the postings join against the broadcast query
    vocabulary is the scan, and the corpus sums ride as literals.
    ``queries``: (query_id, term), one row per distinct pair."""
    q = F.broadcast(queries.select("query_id", "term"))
    hits = index.postings.join(q, "term").select(
        "query_id", "term", "doc_id", "tf", "dl"
    )
    return bm25_score_topk(hits, index.n_docs, index.sum_dl, k=k, k1=k1, b=b)


# ---------------------------------------------------------------------------
# Index maintenance: the postings row log plus the corpus-stats sum-log
# ---------------------------------------------------------------------------
#
# The lifecycle (append guard, tombstone delete, load, compaction) is
# ext/artifact.py's; this module knows only the BM25 artifacts: postings
# are the tombstoned row log, clustered by term (each file holds its
# own terms, sorted by (term, doc_id): the inverted-file layout), and
# the one-row corpus stats are a sum-log folded by addition (deletes
# ride it as NEGATIVE deltas).

_POSTINGS = RowLog(
    "postings",
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("tf", T.LongType()),
            T.StructField("dl", T.LongType()),
            T.StructField("batch_id", T.LongType()),
        ]
    ),
    "doc_id",
    cluster_by=("term",),
)


def _fold_corpus_stats(log: DataFrame) -> DataFrame:
    return log.agg(
        F.expr("CAST(sum(n_docs) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(sum_dl) AS BIGINT) AS sum_dl"),
    )


_CORPUS_STATS = SumLog(
    "corpus_stats",
    T.StructType(
        [
            T.StructField("n_docs", T.LongType()),
            T.StructField("sum_dl", T.LongType()),
            T.StructField("batch_id", T.LongType()),
        ]
    ),
    _fold_corpus_stats,
)
_SUMS = (_CORPUS_STATS,)


def bm25_index_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate_fresh_ids: bool = False,
) -> None:
    """Append one micro-batch's index deltas (the ``foreachBatch``
    body), behind the shared append guard
    (:func:`~pipeline311_spark.ext.artifact.admit_append`).  Doc ids
    must be disjoint across batches; a replayed uncompacted batch
    rewrites the same rows.  ``validate_fresh_ids`` refuses a
    re-appended deleted id — for BM25 a reused id is SILENTLY
    inconsistent (the tombstone masks its postings, but the positive
    stat deltas still count it); the update-maintenance path turns it
    on (plans/index_update.py).

    Residual window of the post-fold replay guard: a replayed batch of
    ONLY zero-token docs leaves neither postings nor tombstones to
    probe, and double-counts n_docs; real batches carry tokens."""
    ids = batch_df.selectExpr(f"{id_col} AS doc_id")
    if not admit_append(
        index_dir, _POSTINGS, ids, batch_id, "bm25_index_append_batch",
        validate_fresh_ids, _SUMS,
    ):
        return
    # ONE tokenize pass for both artifacts; the two concurrent writes
    # share the persisted token base, whose fill BlockManager
    # serializes under the block write lock, so it runs once while the
    # two per-write driver costs overlap
    postings, corpus_stats, release = bm25_batch_artifacts(
        batch_df, id_col, text_col
    )
    try:
        append_rows(
            index_dir, _POSTINGS, batch_id, postings, ((_CORPUS_STATS, corpus_stats),)
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
    indexed (same text): the negative ``corpus_stats`` delta is
    recomputed from it, which is the only way n_docs can account for
    zero-token docs that left no posting rows (df needs no delta: the
    serve counts it from the live postings).  Ids must not repeat
    across delete batches (a double-delete would double-subtract).

    The doc ids go to the postings tombstone log; the NEGATIVE
    ``corpus_stats`` delta goes to batch id
    ``-(batch_id + 2)``, the negative key-space, because a delete
    stream checkpoints independently of the append stream: its
    numbering restarts at 0 and a raw id would overwrite the append
    stream's partition (and ``-1`` is the compaction base).  The
    mapping is injective, so replayed delete batches stay idempotent.

    The BM25-only guard: once a compaction has folded this batch's
    negative deltas, replaying it would re-subtract what the base has
    netted.  Its probe is the tombstone log — the delete stream's own
    log — minus this batch's own partition: a true replay's ids sit in
    the folded tombstone base (folded FIRST by the compactor), while a
    fresh delete stream recycling the id space carries not-yet-deleted
    ids and proceeds."""
    recover_family(index_dir, _POSTINGS, _SUMS)
    neg_bid = -(int(batch_id) + 2)
    ids = batch_df.selectExpr(f"{id_col} AS doc_id")
    own = (
        tombstone_dir(os.path.join(index_dir, _POSTINGS.sub)),
        tombstone_schema("doc_id"),
    )
    if replayed_after_fold(
        index_dir, neg_bid, batch_id, ids, own, who="bm25_index_delete_batch"
    ):
        return
    removed = _corpus_stats_from_base(_bm25_token_base(batch_df, id_col, text_col))
    delete_rows(
        index_dir,
        _POSTINGS,
        ids,
        batch_id,
        (
            (
                _CORPUS_STATS,
                removed.selectExpr(
                    "CAST(-n_docs AS BIGINT) AS n_docs",
                    "CAST(-sum_dl AS BIGINT) AS sum_dl",
                ),
            ),
        ),
        sums_batch_id=neg_bid,
    )


def bm25_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Fold the log — postings with deleted docs physically dropped, and
    the corpus-stats sum-log — to ``batch_id = -1`` bases
    (:func:`~pipeline311_spark.ext.artifact.compact_log`).  Serving is
    unchanged: each fold is value-preserving, so even a crash between
    the two swaps (postings compacted, corpus_stats still log-form)
    serves the same values."""
    compact_log(spark, index_dir, _POSTINGS, _SUMS)


def load_bm25_index(spark: SparkSession, index_dir: str) -> Bm25Index:
    """Fold the log into a serving snapshot: the postings view minus
    tombstoned docs, and the corpus sums netting the delete batches'
    negative deltas, folded ONCE (one collect) into driver ints that
    every later ``bm25_topk`` batch plans as literals.  Explicit
    schemas: an index that never saw a batch has no part files to
    infer from (it loads as ``n_docs == 0``).

    Snapshot contract: the postings view is bound to the file listing
    made here, and the sums are values, so an append, delete or
    compaction after the load is invisible to this snapshot — reload
    after maintaining the index.  A log mid-compaction-swap refuses
    here, loudly."""
    postings = load_rows(spark, index_dir, _POSTINGS)
    stats = load_sum(spark, index_dir, _CORPUS_STATS).collect()[0]
    return Bm25Index(postings, stats["n_docs"] or 0, stats["sum_dl"] or 0)


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
