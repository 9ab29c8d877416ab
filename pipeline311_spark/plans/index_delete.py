"""Round-10 deletion maintenance for the three stored index families
(VERDICT r9 item 1) — the delete half of the index lifecycle.  The
reference's own core loop reconciles deletions at the TABLE layer
(/root/reference/delete-removed-tickets.py:138-169 — J3 anti-join +
K8 tombstone archive); these queries complete the same lifecycle at
the INDEX layer: a document deleted from the corpus stops serving from
BM25, the MinHash gram store, and the ANN codes log without a full
rebuild.

* ``text_bm25_delete_merge`` — merge-by-SUBTRACTION on the index log:
  the corpus is batch 0, the delete batch writes doc-id tombstones +
  NEGATIVE term/corpus delta rows (decremented from the removed docs'
  own text) in its own negative-key-space partitions, and the serve
  reads the UNCOMPACTED fold — postings anti-joined at read time.
* ``text_bm25_delete_maintain`` — the full log lifecycle: two append
  batches, the delete batch, then compaction physically drops the
  deleted postings before the serve.
* ``dedup_minhash_delete_maintain`` — the gram log holds one row per
  doc: a tombstone log anti-joined at read, dropped at compaction; the
  LSH pipeline then runs from the folded store.
* ``sim_ivfpq_delete_store`` — same tombstone shape for the ANN codes
  log; the FROZEN quantizer is untouched (deletion never retrains — a
  retrain would invalidate every stored code).

All four share one oracle convention: the DuckDB twin is the FULL
from-scratch derivation over corpus-minus-deleted (delete batch =
``id % 9 == 4``), except that the ANN twin's quantizer seeds and query
vectors still come from the FULL corpus head — exactly the frozen-
quantizer contract the engine maintains.  The deletion mechanics
(tombstones, negative deltas, compaction) must be invisible in the
result.

Scale shape: a delete batch costs one batch pass (tombstone write +
for BM25 the batch's own negative-delta tokenize); read-time overhead
is ONE anti-join against the metadata-scale deleted-id set; compaction
folds it to zero.  Nothing rescans the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pipeline311_spark.ext.retrieval import (
    bm25_index_compact,
    bm25_index_delete_batch,
    bm25_index_append_batch,
    bm25_topk,
    load_bm25_index,
)
from pipeline311_spark.plans.ann_store_q import (
    _ANN_CELLS,
    _ANN_K,
    _ANN_NPROBE,
    _ivfpq_sql,
    _query_vecs,
)
from pipeline311_spark.ext.artifact import run_jobs
from pipeline311_spark.plans.common import emb_table, materialize, scratch_dir, table
from pipeline311_spark.plans.curation3 import (
    _BM25_TOPK,
    _bm25_sql,
    _drop_score,
    _query_frame,
)
from pipeline311_spark.plans.extensions import (
    _MH_BANDS,
    _MH_K,
    _MH_N,
    _MH_SEED,
    _MH_THRESHOLD,
    _minhash_pairs_sql,
)
from pipeline311_spark.plans.registry import register

# the delete batch: a deterministic modulus slice, the incremental-
# split convention (oracle-free — the oracle sees only the remaining
# corpus, which must equal a fresh full build over it)
_DEL_MOD = 9
_DEL_RESIDUE = 4
_DEL_PRED_SQL = f"doc_id % {_DEL_MOD} != {_DEL_RESIDUE}"


def _is_deleted(col: str = "doc_id"):
    return F.col(col) % _DEL_MOD == _DEL_RESIDUE


@register(
    "text_bm25_delete_merge",
    _bm25_sql(corpus_pred=f" AND {_DEL_PRED_SQL}"),
    covers=("ext:retrieval", "ext:bm25-delete", "J3", "K8"),
)
def q_bm25_delete_merge(spark, sf_dir):
    """Index the FULL corpus as batch 0, subtract the delete batch with
    :func:`bm25_index_delete_batch` (the corpus is never re-tokenized,
    only the removed docs are), and serve from the UNCOMPACTED fold
    (tombstones anti-joined, negative deltas summed at read time —
    ``text_bm25_delete_maintain`` covers the compacted form):
    indistinguishable from a fresh build over the remaining docs."""
    with scratch_dir("bm25d") as out:
        d = table(spark, sf_dir, "documents")
        bm25_index_append_batch(d, 0, out)
        bm25_index_delete_batch(d.filter(_is_deleted()), 0, out)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


@register(
    "text_bm25_delete_maintain",
    _bm25_sql(corpus_pred=f" AND {_DEL_PRED_SQL}"),
    covers=("ext:retrieval", "ext:bm25-delete-log", "T1", "K2", "K8"),
)
def q_bm25_delete_maintain(spark, sf_dir):
    """The full log-form lifecycle: two append batches build the index,
    one delete batch tombstones its docs and writes negative stat
    deltas (its own negative-key-space partitions — an independent
    delete stream can never clobber the append stream's), compaction
    physically drops the deleted postings, and the serve reads the
    folded log."""
    with scratch_dir("bm25dl") as out:
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        # the two backfill batches are independent (disjoint ids,
        # disjoint batch dirs, per-batch intent markers) — overlap them
        # (guide §2.6; the artifact contract's round-12 corollary)
        run_jobs(
            lambda: bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == 0), 0, out),
            lambda: bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == 1), 1, out),
        )
        bm25_index_delete_batch(d.filter(_is_deleted()), 0, out)
        bm25_index_compact(spark, out)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


@register(
    "stream_bm25_delete_maintain",
    _bm25_sql(corpus_pred=f" AND {_DEL_PRED_SQL}"),
    covers=("ext:retrieval", "ext:bm25-delete-stream", "T1", "K2", "K8"),
)
def q_stream_bm25_delete_maintain(spark, sf_dir):
    """The cross-stream story the delete design argues about, run for
    REAL: an append stream (own checkpoint) builds the index from
    micro-batches, then a SEPARATE delete stream (own checkpoint, its
    micro-batch numbering restarting at 0) tombstones the removed docs
    and writes their negative corpus-stats delta through ``foreachBatch`` →
    :func:`bm25_index_delete_batch` — the negative batch-id key-space
    is what keeps its batch 0 from dynamically overwriting the append
    stream's batch 0.  Compaction folds and physically drops; the serve
    must equal a fresh build over the remaining corpus (same twin as
    the batch-API delete queries)."""
    from pipeline311_spark.session import prep_session

    prep_session(spark)  # streaming bypasses table(): pin tz/conf here
    with scratch_dir("bm25ds") as out:
        src_add, src_del, idx, ck_add, ck_del = (
            os.path.join(out, s) for s in ("add", "del", "index", "ck_add", "ck_del")
        )
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        d.repartition(2).write.mode("overwrite").parquet(src_add)
        stream = spark.readStream.schema(d.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src_add)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: bm25_index_append_batch(batch, bid, idx)
            )
            .option("checkpointLocation", ck_add)
            .trigger(availableNow=True)
            .start()
        )
        # the delete-source write only reads the corpus — it is
        # independent of the append stream draining into idx, so let it
        # run while the stream's micro-batches commit (guide §2.6,
        # round 11); the DELETE stream still starts strictly after
        # ``awaitTermination`` returns (single-writer-per-namespace)
        d.filter(_is_deleted()).repartition(2).write.mode("overwrite").parquet(src_del)
        q.awaitTermination()
        dstream = spark.readStream.schema(d.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src_del)
        q2 = (
            dstream.writeStream.foreachBatch(
                lambda batch, bid: bm25_index_delete_batch(batch, bid, idx)
            )
            .option("checkpointLocation", ck_del)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        bm25_index_compact(spark, idx)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, idx), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


@register(
    "dedup_minhash_delete_maintain",
    _minhash_pairs_sql(corpus_where=f" WHERE {_DEL_PRED_SQL}"),
    covers=("ext:dedup", "ext:gram-delete", "J3", "K8"),
)
def q_minhash_delete_maintain(spark, sf_dir):
    """Gram-store deletion: append the corpus in two batches, tombstone
    the delete batch's doc ids (no stat folding — the log holds one
    gram-array row per doc), compact (physically dropping them), and run
    the whole LSH pipeline from the folded store.  Must equal a
    one-shot run over the remaining docs."""
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
        minhash_pairs_from_grams,
    )

    with scratch_dir("mhd") as out:
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        # overlapped backfill (guide §2.6; artifact round-12 corollary)
        run_jobs(
            lambda: gram_log_append_batch(
                d.filter(F.col("doc_id") % 2 == 0), 0, out, "doc_id", "text", n=_MH_N
            ),
            lambda: gram_log_append_batch(
                d.filter(F.col("doc_id") % 2 == 1), 1, out, "doc_id", "text", n=_MH_N
            ),
        )
        gram_log_delete_batch(d.filter(_is_deleted()).select("doc_id"), 0, out)
        gram_log_compact(spark, out)
        return minhash_pairs_from_grams(
            load_gram_log(spark, out),
            k=_MH_K, bands=_MH_BANDS, threshold=_MH_THRESHOLD, seed=_MH_SEED,
        ).transform(materialize)


@register(
    "sim_ivfpq_delete_store",
    # quantizer seeds + query vectors stay FULL-corpus (the frozen-
    # per-corpus-version contract); only the indexed codes shrink
    _ivfpq_sql(corpus_pred=f"vec_id % {_DEL_MOD} != {_DEL_RESIDUE}"),
    covers=("ext:similarity", "ext:ann-delete", "J3", "K2"),
)
def q_ivfpq_delete_store(spark, sf_dir):
    """ANN-codes deletion: freeze the quantizer on the full corpus,
    stream the codes in two append batches, tombstone the delete
    batch's vec ids, compact (physically dropping their code rows), and
    serve from the folded, pcell-pruned log.  Must equal a fresh build
    over the remaining vectors under the SAME (full-corpus) quantizer."""
    from pipeline311_spark.ext.ann_store import (
        ann_adc_topk_from_store,
        ann_codes_append_batch,
        ann_codes_compact,
        ann_codes_delete_batch,
        ann_quantizer_build,
    )
    from pipeline311_spark.plans.curation4 import _PQ_K

    with scratch_dir("ivfpqd") as out:
        e = emb_table(spark, sf_dir)
        v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        ann_quantizer_build(spark, v, out, n_cells=_ANN_CELLS, pq_k=_PQ_K)
        # overlapped backfill (guide §2.6; artifact round-12 corollary)
        run_jobs(
            lambda: ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == 0), 0, out),
            lambda: ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == 1), 1, out),
        )
        ann_codes_delete_batch(
            e.filter(_is_deleted("vec_id")).select("vec_id"), 0, out
        )
        ann_codes_compact(spark, out)
        return ann_adc_topk_from_store(
            spark, out, _query_vecs(e), k=_ANN_K, nprobe=_ANN_NPROBE
        ).transform(materialize)
