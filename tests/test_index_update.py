"""Update maintenance for the three stored index families (round 11,
VERDICT r10 item 2) — the properties the update-maintain oracles can't
see: after update + compaction a STALE-id probe cannot resurrect old
content (the tombstone survives compaction AND the old rows are
physically gone), the ADVICE-r10 fresh-id guard refuses an id-reusing
re-append on every family, and the update composition replays
idempotently."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.retrieval import (
    bm25_index_append_batch,
    bm25_index_compact,
    bm25_index_delete_batch,
    load_bm25_index,
)

SF = "/root/testdata/sf0.001"
OFF = 10_000_000


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )


def _is_upd(col="doc_id"):
    return F.col(col) % 9 == 7


def _revise(changed):
    return changed.select(
        (F.col("doc_id") + OFF).alias("doc_id"),
        F.concat("text", F.lit(" revised edition")).alias("text"),
    )


def _bm25_update(spark, out):
    d = _docs(spark)
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, out)
    changed = d.filter(_is_upd())
    bm25_index_delete_batch(changed, 0, out)
    bm25_index_append_batch(_revise(changed), 2, out, validate_fresh_ids=True)
    return changed


def test_bm25_stale_id_cannot_resurrect_after_compaction(spark, tmp_path):
    """The VERDICT-r10 'done' criterion: once a doc is updated and the
    log compacted, a probe by its OLD id finds nothing — not in the
    served postings, not in the physical base either (the old rows are
    GONE, not merely masked)."""
    out = str(tmp_path / "bm25")
    changed = _bm25_update(spark, out)
    bm25_index_compact(spark, out)
    old_ids = [r["doc_id"] for r in changed.select("doc_id").limit(5).collect()]
    assert old_ids, "fixture must contain update-batch docs"
    served = load_bm25_index(spark, out)
    assert served.postings.filter(F.col("doc_id").isin(old_ids)).count() == 0
    # physical base, read WITHOUT the tombstone anti-join
    raw = spark.read.parquet(os.path.join(out, "postings"))
    assert raw.filter(F.col("doc_id").isin(old_ids)).count() == 0
    # the new identities serve the revised content
    new_hits = served.postings.filter(
        F.col("doc_id").isin([i + OFF for i in old_ids])
    )
    assert new_hits.count() > 0
    assert new_hits.filter(F.col("term") == "revised").count() > 0
    # and a replayed PRE-delete append batch still cannot resurrect the
    # old ids (tombstone retention through compaction)
    d = _docs(spark)
    bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == 0), 0, out)
    again = load_bm25_index(spark, out)
    assert again.postings.filter(F.col("doc_id").isin(old_ids)).count() == 0


def test_bm25_fresh_id_guard_refuses_reused_id(spark, tmp_path):
    """ADVICE r10: re-appending a tombstoned doc_id under
    validate_fresh_ids raises (BM25 is the family where silent reuse
    also corrupts stats); the unguarded call stays permissive for the
    disjoint-by-construction streaming paths."""
    out = str(tmp_path / "bm25")
    changed = _bm25_update(spark, out)
    reused = changed.limit(1)
    with pytest.raises(ValueError, match="re-uses .* tombstoned"):
        bm25_index_append_batch(reused, 3, out, validate_fresh_ids=True)
    # guard is opt-in: the same call without the flag does not raise
    bm25_index_append_batch(reused, 3, out)


def test_bm25_update_composition_replays_idempotently(spark, tmp_path):
    """Replaying the delete batch AND the re-append batch (at-least-
    once delivery) leaves the served index bit-identical."""
    out = str(tmp_path / "bm25")
    changed = _bm25_update(spark, out)

    def snap():
        ix = load_bm25_index(spark, out)
        return sorted(map(tuple, ix.postings.collect())), ix.n_docs, ix.sum_dl

    before = snap()
    bm25_index_delete_batch(changed, 0, out)  # replay the delete
    bm25_index_append_batch(_revise(changed), 2, out)  # replay the add
    assert snap() == before


def test_gram_fresh_id_guard_and_stale_id(spark, tmp_path):
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
    )

    out = str(tmp_path / "grams")
    d = _docs(spark)
    for i in range(2):
        gram_log_append_batch(d.filter(F.col("doc_id") % 2 == i), i, out)
    changed = d.filter(_is_upd())
    gram_log_delete_batch(changed.select("doc_id"), 0, out)
    with pytest.raises(ValueError, match="re-uses .* tombstoned"):
        gram_log_append_batch(changed.limit(1), 2, out, validate_fresh_ids=True)
    gram_log_append_batch(_revise(changed), 2, out, validate_fresh_ids=True)
    gram_log_compact(spark, out)
    old_ids = [r["doc_id"] for r in changed.select("doc_id").limit(5).collect()]
    # the gram table's id column is "doc"
    assert load_gram_log(spark, out).filter(F.col("doc").isin(old_ids)).count() == 0
    raw = spark.read.parquet(os.path.join(out, "grams"))
    assert raw.filter(F.col("doc").isin(old_ids)).count() == 0


def test_ann_fresh_id_guard_and_stale_id(spark, tmp_path):
    from pipeline311_spark.ext.ann_store import (
        ann_codes_append_batch,
        ann_codes_compact,
        ann_codes_delete_batch,
        ann_quantizer_build,
        load_ann_codes_log,
    )

    out = str(tmp_path / "ann")
    e = _emb(spark)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ann_quantizer_build(spark, v, out, n_cells=4, pq_k=4)
    for i in range(2):
        ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == i), i, out)
    changed = e.filter(_is_upd("vec_id"))
    ann_codes_delete_batch(changed.select("vec_id"), 0, out)
    with pytest.raises(ValueError, match="re-uses .* tombstoned"):
        ann_codes_append_batch(changed.limit(1), 2, out, validate_fresh_ids=True)
    revised = changed.select(
        (F.col("vec_id") + OFF).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    ann_codes_append_batch(revised, 2, out, validate_fresh_ids=True)
    ann_codes_compact(spark, out)
    old_ids = [r["vec_id"] for r in changed.select("vec_id").limit(5).collect()]
    folded = load_ann_codes_log(spark, out)
    assert folded.filter(F.col("vec_id").isin(old_ids)).count() == 0
    assert folded.filter(
        F.col("vec_id").isin([i + OFF for i in old_ids])
    ).count() == len(old_ids)
