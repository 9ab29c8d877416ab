"""Round-8 retrieval promotion: BM25 as a STORED, incrementally
maintained index (ext/retrieval.py) — the serving shape of lexical
retrieval, mirroring the MinHash family's stored-gram contract
(``stream_minhash_maintain``).

* ``text_bm25_from_store`` — write the corpus as batch 0 of the
  index log (:func:`bm25_index_append_batch`: postings, term-df and
  corpus-stat artifacts from ONE tokenize pass), fold it back
  (:func:`load_bm25_index`), and serve the fixed query set from the
  store.  Its oracle is the one-shot BM25 top-k: the storage hop must be
  invisible in the result, and query time reads only the store.

* ``text_bm25_incr_store`` — the per-batch maintenance path: the base
  corpus slice is batch 0, a disjoint new batch is batch 1 (its
  postings, per-term df deltas and one-row stat deltas — the corpus
  slice is never re-tokenized), served from the UNCOMPACTED fold.
  Same oracle again: the two-batch log must be indistinguishable from
  a fresh full build.

* ``retrieval_rrf_recency`` — N-ranker reciprocal-rank fusion
  (:func:`pipeline311_spark.ext.retrieval.rrf_fuse`): lexical (served
  from the stored BM25 index), dense (brute-force cosine), and a
  recency prior (newest doc ids first — the freshness ranker every
  production fusion stack carries).  r7 hardcoded the two-ranker pair;
  this proves fusion over a variable ranker set, reading the lexical
  store.

Scale shapes: the from-store query's serve path never scans the corpus
— the postings⋈vocabulary join is the read (partition-pruned when the
postings are stored partitioned by term), term/corpus stats are
dimension- and row-scale.  The incremental path's per-batch cost is the
batch tokenize + |vocabulary|-scale stat merges.  Fusion operates on
≤ Σ k·|queries| rows whatever the corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipeline311_spark.ext.retrieval import (
    Bm25Index,
    bm25_index_append_batch,
    bm25_term_stats,
    bm25_topk,
    load_bm25_index,
    rrf_fuse,
)
from pipeline311_spark.plans.common import emb_table, materialize, scratch_dir, table
from pipeline311_spark.plans.curation3 import (
    _BM25_QUERIES,
    _BM25_TOPK,
    _RRF_C,
    _RRF_QUERIES,
    _bm25_sql,
)
from pipeline311_spark.plans.registry import register


def _query_frame(spark):
    from pipeline311_spark.ext.hashing import meta_df

    return meta_df(spark, list(_BM25_QUERIES), "query_id long, term string")


def _drop_score(df):
    # ranks + integer stats only: the ln-based double is dropped before
    # the oracle hash (1-ulp ln hazard — plans/curation3.py)
    return df.select("query_id", "rank", "doc_id", "tf_sum", "dl")


@register(
    "text_bm25_from_store",
    _bm25_sql(),
    covers=("ext:retrieval", "ext:text", "ext:export", "K2", "O4"),
)
def q_bm25_from_store(spark, sf_dir):
    with scratch_dir("bm25") as out:
        bm25_index_append_batch(table(spark, sf_dir, "documents"), 0, out)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)  # materialize before the cleanup below


# The base/batch split for the incremental path: a hash-free modulus on
# the stable id (deterministic, oracle-free — the oracle sees only the
# merged result, which must equal a full fresh build).
_INCR_BATCH_MOD = 7
_INCR_BATCH_RESIDUE = 3


@register(
    "text_bm25_incr_store",
    _bm25_sql(),
    covers=("ext:retrieval", "ext:text", "T1", "K2"),
)
def q_bm25_incr_store(spark, sf_dir):
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_RESIDUE
    with scratch_dir("bm25i") as out:
        d = table(spark, sf_dir, "documents")
        bm25_index_append_batch(d.filter(~is_batch), 0, out)
        bm25_index_append_batch(d.filter(is_batch), 1, out)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


# ---------------------------------------------------------------------------
# Partitioned postings store: the serve layout made concrete
# ---------------------------------------------------------------------------

#: term-hash partition fan-out for the postings store.  At 100 TB this
#: is sized so a bucket's postings are a few GB (buckets ≈ vocabulary
#: bytes / target); 16 keeps the local fixture readable.
_BM25_TERM_BUCKETS = 16


def _term_bucket_col():
    """'t' + (portable_hash64(term) mod buckets) — prefixed so a
    numeric-looking partition value survives Hive-style inference
    verbatim (Hive-style inference would re-type '7' as an int)."""
    from pipeline311_spark.ext.hashing import portable_hash64

    return F.concat(
        F.lit("t"),
        F.pmod(portable_hash64(F.col("term")), F.lit(_BM25_TERM_BUCKETS)).cast(
            "string"
        ),
    )


def _term_bucket_py(term: str) -> str:
    """Driver-side twin of :func:`_term_bucket_col` (the portable hash
    is md5-derived, so the bucket of a LITERAL query term is computable
    without a Spark job — that is what makes the pruning STATIC)."""
    import hashlib

    return "t" + str(
        int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % _BM25_TERM_BUCKETS
    )


@register(
    "text_bm25_partitioned_store",
    _bm25_sql(),
    covers=("ext:retrieval", "ext:export", "K2", "O4"),
)
def q_bm25_partitioned_store(spark, sf_dir):
    """The retrieval scale layout made concrete: postings
    WRITTEN ``partitionBy(term-hash-bucket)``, so a query set's
    vocabulary resolves to a directory list — a partition-pruned file
    read, never a postings scan.  The query terms are plan literals,
    their buckets are computed DRIVER-side from the same md5 hash, and
    the ``isin`` filter lands in the scan's PartitionFilters
    (asserted in tests/test_retrieval_store.py).  A term's postings live
    entirely in its bucket (hash-partitioning by the join key), so
    per-term df derived from the pruned read is exact.  Same oracle as
    every other BM25 form: the layout must be invisible in the result."""
    from pyspark.storagelevel import StorageLevel

    from pipeline311_spark.ext.retrieval import (
        _bm25_token_base,
        _corpus_stats_from_base,
        _postings_from_base,
    )

    with scratch_dir("bm25p") as out:
        d = table(spark, sf_dir, "documents")
        # one tokenize pass for both artifact writes (round 11)
        base = _bm25_token_base(d, "doc_id", "text").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        postings = _postings_from_base(base).withColumn("tb", _term_bucket_col())
        stats = _corpus_stats_from_base(base)
        # the two writes share only the token-base cache, whose
        # concurrent fill BlockManager serializes — overlap them
        # (guide §2.6; round 11, second wave)
        from pipeline311_spark.ext.artifact import run_jobs

        try:
            run_jobs(
                lambda: postings.write.mode("overwrite")
                .partitionBy("tb")
                .parquet(os.path.join(out, "postings")),
                lambda: stats.write.mode("overwrite").parquet(
                    os.path.join(out, "corpus_stats")
                ),
            )
        finally:
            # ADVICE r11: release the token base even when a write
            # fails
            base.unpersist(False)
        stored = spark.read.schema(postings.schema).parquet(
            os.path.join(out, "postings")
        )
        buckets = sorted({_term_bucket_py(t) for _, t in _BM25_QUERIES})
        pruned = stored.filter(F.col("tb").isin(buckets)).drop("tb")
        index = Bm25Index(
            postings=pruned,
            term_stats=bm25_term_stats(pruned),
            corpus_stats=spark.read.schema(stats.schema).parquet(
                os.path.join(out, "corpus_stats")
            ),
        )
        return _drop_score(
            bm25_topk(index, _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


# ---------------------------------------------------------------------------
# Streaming index maintenance
# ---------------------------------------------------------------------------


@register(
    "stream_bm25_index_maintain",
    _bm25_sql(),
    covers=("ext:retrieval", "T1", "K2", "O4"),
)
def q_stream_bm25_index_maintain(spark, sf_dir):
    return _stream_maintained_topk(spark, sf_dir, compact=False)


@register(
    "stream_bm25_compacted",
    _bm25_sql(),
    covers=("ext:retrieval", "T1", "K2"),
)
def q_stream_bm25_compacted(spark, sf_dir):
    """The maintenance cycle COMPLETED: stream the corpus in
    micro-batches, fold the delta log into its batch_id=-1 base
    (:func:`pipeline311_spark.ext.retrieval.bm25_index_compact` — the
    two-rename swap, crash-recoverable), and serve from the compacted
    index.  Same oracle again: compaction must be value-preserving."""
    return _stream_maintained_topk(spark, sf_dir, compact=True)


def _stream_maintained_topk(spark, sf_dir, compact: bool):
    """The index-maintenance loop as a REAL Structured Streaming job:
    the corpus arrives as a file stream (split into 3 files, one
    micro-batch each via maxFilesPerTrigger), every micro-batch appends
    its index deltas through ``foreachBatch`` →
    :func:`pipeline311_spark.ext.retrieval.bm25_index_append_batch`
    (an append-only log partitioned by batch_id — replays overwrite
    their own partition, so crash-recovery's at-least-once delivery is
    idempotent), and serving folds the log.  Same oracle as every
    other BM25 form: a corpus streamed in THREE batches must serve
    exactly what a one-shot build serves."""
    from pipeline311_spark.session import prep_session

    prep_session(spark)  # streaming bypasses table(): pin tz/conf here
    with scratch_dir("bm25s") as out:
        src = os.path.join(out, "src")
        idx = os.path.join(out, "index")
        ckpt = os.path.join(out, "ckpt")
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        d.repartition(3).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(d.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: bm25_index_append_batch(batch, bid, idx)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if compact:
            from pipeline311_spark.ext.retrieval import bm25_index_compact

            bm25_index_compact(spark, idx)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, idx), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


# ---------------------------------------------------------------------------
# Three-ranker fusion: lexical (stored index) + dense + recency
# ---------------------------------------------------------------------------


_DOT = "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (x, y) -> x + y)"
_NORMV = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


def _cos_sql(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORMV.format(a=a)} * {_NORMV.format(a=b)})"


def _rrf_recency_sql() -> str:
    qids = ", ".join(f"({q})" for q in range(_RRF_QUERIES))
    return f"""
WITH lex AS (
  SELECT query_id, doc_id, rank AS lex_rank FROM ({_bm25_sql()}) b
  WHERE query_id < {_RRF_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_RRF_QUERIES}),
dscored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM qv JOIN e ON e.vec_id != query_id),
dense AS (
  SELECT query_id, neighbor_id AS doc_id, CAST(rn AS BIGINT) AS dense_rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM dscored) t
  WHERE rn <= {_BM25_TOPK}),
newest AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY doc_id DESC) AS BIGINT) AS rec_rank
  FROM documents WHERE text IS NOT NULL
  ORDER BY doc_id DESC LIMIT {_BM25_TOPK}),
recency AS (
  SELECT CAST(qs.query_id AS BIGINT) AS query_id, n.doc_id, n.rec_rank
  FROM newest n CROSS JOIN (VALUES {qids}) qs(query_id)),
pairs AS (
  SELECT query_id, doc_id FROM lex
  UNION SELECT query_id, doc_id FROM dense
  UNION SELECT query_id, doc_id FROM recency),
fused AS (
  SELECT p.query_id, p.doc_id, l.lex_rank, d.dense_rank, r.rec_rank
  FROM pairs p
  LEFT JOIN lex l ON l.query_id = p.query_id AND l.doc_id = p.doc_id
  LEFT JOIN dense d ON d.query_id = p.query_id AND d.doc_id = p.doc_id
  LEFT JOIN recency r ON r.query_id = p.query_id AND r.doc_id = p.doc_id),
rrf AS (
  SELECT f.query_id, f.doc_id,
         -- source columns qualified (f.) so the expression can never
         -- bind to the COALESCE'd output aliases of this SELECT — an
         -- absent ranker contributes 0, not 1/(C+0) (ADVICE r7); sum
         -- order is FIXED (lex, dense, recency), matching rrf_fuse's
         -- expression tree term for term
         CAST(COALESCE(f.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(f.dense_rank, 0) AS BIGINT) AS dense_rank,
         CAST(COALESCE(f.rec_rank, 0) AS BIGINT) AS rec_rank,
         COALESCE((1.0::DOUBLE) / ({_RRF_C} + f.lex_rank), 0.0::DOUBLE)
         + COALESCE((1.0::DOUBLE) / ({_RRF_C} + f.dense_rank), 0.0::DOUBLE)
         + COALESCE((1.0::DOUBLE) / ({_RRF_C} + f.rec_rank), 0.0::DOUBLE) AS rrf
  FROM fused f)
SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, rrf,
       lex_rank, dense_rank, rec_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM rrf) t
WHERE rn <= {_BM25_TOPK}
"""


@register(
    "retrieval_rrf_recency",
    _rrf_recency_sql(),
    covers=("ext:retrieval", "ext:similarity", "ext:text", "O4", "O2"),
)
def q_retrieval_rrf_recency(spark, sf_dir):
    from pipeline311_spark.ext.similarity import brute_force_topk

    with scratch_dir("bm25r") as out:
        bm25_index_append_batch(table(spark, sf_dir, "documents"), 0, out)
        lex = (
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
            .filter(F.col("query_id") < _RRF_QUERIES)
            .select("query_id", "doc_id", "rank")
        )
        e = emb_table(spark, sf_dir)
        dense = brute_force_topk(
            e, e.filter(F.col("vec_id") < _RRF_QUERIES), k=_BM25_TOPK
        ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
        # recency prior: global newest-first top-k (orderBy+limit →
        # TakeOrdered, no global sort), ranked over the k surviving
        # rows, replicated per query id
        newest = (
            table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id")
            .orderBy(F.col("doc_id").desc())
            .limit(_BM25_TOPK)
        )
        from pyspark.sql.window import Window

        rec = (
            spark.range(_RRF_QUERIES)
            .select(F.col("id").alias("query_id"))
            .crossJoin(newest)
            .withColumn(
                "rank",
                F.row_number()
                .over(
                    Window.partitionBy("query_id").orderBy(F.col("doc_id").desc())
                )
                .cast("long"),
            )
        )
        return rrf_fuse(
            [("lex", lex), ("dense", dense), ("rec", rec)], k=_BM25_TOPK, c=_RRF_C
        ).transform(materialize)  # materialize before the store cleanup
