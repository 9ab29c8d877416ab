"""Round-11 UPDATE maintenance for the three stored index families
(VERDICT r10 item 2) — the last gap in the index lifecycle.  The
reference's core loop upserts changed tickets at the TABLE layer
(/root/reference/sync-db2.py:78-88 — J1/J2 delete-then-add match);
these queries demonstrate its INDEX-layer equivalent under the
artifact contract's documented id-reuse rule (ext/artifact.py: ids are
never reused — an updated document re-enters under a NEW id, because
the retained tombstone masks the old one forever):

    update(batch) = delete_batch(old ids) ∘ append_batch(new ids,
                    revised content)

composing the round-10 delete half with the round-8/9 append half.
Each query: build the index from the full corpus in two append
batches, tombstone the changed docs' OLD ids (delete batch 0), append
their revised content under NEW ids (append batch 2, with the
ADVICE-r10 ``validate_fresh_ids`` guard on — the re-append path is
exactly where an id-reuse mistake would happen), compact (physically
dropping the old rows), serve.

The update batch is the deterministic slice ``id % 9 == 7`` (residue
distinct from the delete family's 4); revisions are SQL-derivable so
the DuckDB twin re-derives EVERYTHING from the post-update corpus:
text gains a ``' revised edition'`` suffix, vectors are negated
(exact in both float and double — negation never rounds), new id =
old id + 10_000_000 (disjoint from every real id at any test SF).
The ANN twin's quantizer seeds and query vectors still come from the
ORIGINAL full corpus — the frozen-per-corpus-version contract: an
update maintains codes, it never retrains.

tests/test_index_update.py proves what the oracle can't see: a
stale-id probe cannot resurrect old content after compaction, and the
fresh-id guard refuses an id-reusing re-append.

Scale shape: an update batch costs one delete pass + one append pass
(both batch-sized); read-time overhead is the same single
metadata-scale anti-join the delete family pays; compaction folds it
to zero.  Nothing rescans the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.retrieval import (
    bm25_index_append_batch,
    bm25_index_compact,
    bm25_index_delete_batch,
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

_UPD_MOD = 9
_UPD_RESIDUE = 7
_UPD_OFFSET = 10_000_000
_UPD_SUFFIX = " revised edition"

_BM25_UPD_CORPUS = f"""
SELECT doc_id, text FROM documents WHERE doc_id % {_UPD_MOD} != {_UPD_RESIDUE}
UNION ALL
SELECT doc_id + {_UPD_OFFSET} AS doc_id, text || '{_UPD_SUFFIX}' AS text
FROM documents WHERE doc_id % {_UPD_MOD} = {_UPD_RESIDUE}
"""

_ANN_UPD_CORPUS = f"""
SELECT vec_id, v FROM e WHERE vec_id % {_UPD_MOD} != {_UPD_RESIDUE}
UNION ALL
SELECT vec_id + {_UPD_OFFSET} AS vec_id, list_transform(v, x -> -x) AS v
FROM e WHERE vec_id % {_UPD_MOD} = {_UPD_RESIDUE}
"""


def _is_updated(col: str = "doc_id"):
    return F.col(col) % _UPD_MOD == _UPD_RESIDUE


def _revised_docs(changed):
    """The changed docs under their NEW identity: id + offset, text
    with the revision suffix (concat propagates NULL text on both
    engines — a NULL-text doc stays unindexed before AND after)."""
    return changed.select(
        (F.col("doc_id") + F.lit(_UPD_OFFSET)).alias("doc_id"),
        F.concat("text", F.lit(_UPD_SUFFIX)).alias("text"),
    )


@register(
    "text_bm25_update_maintain",
    _bm25_sql(corpus_sql=_BM25_UPD_CORPUS),
    covers=("ext:retrieval", "ext:bm25-update", "J1", "K7", "K8"),
)
def q_bm25_update_maintain(spark, sf_dir):
    """BM25 document update: old ids tombstoned with their indexed
    text (a negative n_docs/sum_dl delta), revised editions appended
    under new ids (fresh-id-guarded), compacted, served.  Must equal a
    fresh build over the post-update corpus."""
    with scratch_dir("bm25u") as out:
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        # the two backfill batches are independent (disjoint ids,
        # disjoint batch dirs, per-batch intent markers) — overlap them
        # (guide §2.6; the artifact contract's round-12 corollary)
        run_jobs(
            lambda: bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == 0), 0, out),
            lambda: bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == 1), 1, out),
        )
        changed = d.filter(_is_updated())
        bm25_index_delete_batch(changed, 0, out)
        bm25_index_append_batch(
            _revised_docs(changed), 2, out, validate_fresh_ids=True
        )
        bm25_index_compact(spark, out)
        return _drop_score(
            bm25_topk(load_bm25_index(spark, out), _query_frame(spark), k=_BM25_TOPK)
        ).transform(materialize)


@register(
    "dedup_minhash_update_maintain",
    _minhash_pairs_sql(corpus_sql=_BM25_UPD_CORPUS),
    covers=("ext:dedup", "ext:gram-update", "J1", "K8"),
)
def q_minhash_update_maintain(spark, sf_dir):
    """Gram-store document update: the changed docs' old gram arrays are
    tombstoned and physically dropped at compaction, their revised
    editions' grams appended under new ids, and the whole LSH pipeline
    runs from the folded store.  Must equal a one-shot run over the
    post-update corpus."""
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
        minhash_pairs_from_grams,
    )

    with scratch_dir("mhu") as out:
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
        changed = d.filter(_is_updated())
        gram_log_delete_batch(changed.select("doc_id"), 0, out)
        gram_log_append_batch(
            _revised_docs(changed), 2, out, "doc_id", "text", n=_MH_N,
            validate_fresh_ids=True,
        )
        gram_log_compact(spark, out)
        return minhash_pairs_from_grams(
            load_gram_log(spark, out),
            k=_MH_K, bands=_MH_BANDS, threshold=_MH_THRESHOLD, seed=_MH_SEED,
        ).transform(materialize)


@register(
    "sim_ivfpq_update_store",
    # quantizer seeds + query vectors stay the ORIGINAL full corpus
    # (frozen-per-corpus-version — an update maintains codes, it never
    # retrains); only the INDEXED vectors change
    _ivfpq_sql(corpus_sql=_ANN_UPD_CORPUS),
    covers=("ext:similarity", "ext:ann-update", "J1", "K2"),
)
def q_ivfpq_update_store(spark, sf_dir):
    """ANN-codes document update: freeze the quantizer on the original
    corpus, append the codes in two batches, tombstone the changed vec
    ids, append their NEGATED vectors under new ids (encoded by the
    same frozen quantizer, fresh-id-guarded), compact, serve from the
    folded pcell-pruned log.  Must equal a fresh build over the
    post-update vectors under the original quantizer."""
    from pipeline311_spark.ext.ann_store import (
        ann_adc_topk_from_store,
        ann_codes_append_batch,
        ann_codes_compact,
        ann_codes_delete_batch,
        ann_quantizer_build,
    )
    from pipeline311_spark.plans.curation4 import _PQ_K

    with scratch_dir("ivfpqu") as out:
        e = emb_table(spark, sf_dir)
        v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        ann_quantizer_build(spark, v, out, n_cells=_ANN_CELLS, pq_k=_PQ_K)
        # overlapped backfill (guide §2.6; artifact round-12 corollary)
        run_jobs(
            lambda: ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == 0), 0, out),
            lambda: ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == 1), 1, out),
        )
        changed = e.filter(_is_updated("vec_id"))
        ann_codes_delete_batch(changed.select("vec_id"), 0, out)
        revised = changed.select(
            (F.col("vec_id") + F.lit(_UPD_OFFSET)).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        ann_codes_append_batch(revised, 2, out, validate_fresh_ids=True)
        ann_codes_compact(spark, out)
        return ann_adc_topk_from_store(
            spark, out, _query_vecs(e), k=_ANN_K, nprobe=_ANN_NPROBE
        ).transform(materialize)
