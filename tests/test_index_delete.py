"""Deletion maintenance for the three stored index families (round 10,
VERDICT r9 item 1) — the properties the delete-maintain oracles can't
see: the uncompacted delete fold equals a fresh build ON THE ARTIFACTS,
compaction PHYSICALLY drops tombstoned rows while retaining the
tombstone ids, delete batches replay idempotently, and a delete landing
in a crashed compaction swap recovers instead of orphaning the log."""

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


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )


def _snap(df):
    return sorted(map(tuple, df.collect()))


def _index_snaps(index):
    return _snap(index.postings), index.n_docs, index.sum_dl


def _is_del():
    # built lazily: module-level Column construction needs a live session
    return F.col("doc_id") % 9 == 4


def test_bm25_delete_dual_equals_fresh_build_artifacts(spark, tmp_path, fresh_bm25):
    """full build + merge-by-subtraction, served from the UNCOMPACTED
    fold == a fresh append of the remaining corpus, on the postings and
    the corpus sums (values, not just served ranks) — including n_docs
    seeing zero-token deleted docs."""
    d = _docs(spark)
    idx = str(tmp_path / "idx")
    bm25_index_append_batch(d, 0, idx)
    bm25_index_delete_batch(d.filter(_is_del()), 0, idx)
    want = _index_snaps(fresh_bm25(d.filter(~_is_del())))
    assert _index_snaps(load_bm25_index(spark, idx)) == want


def test_bm25_delete_log_replay_compaction_and_physical_drop(spark, tmp_path, fresh_bm25):
    """The log form over two append batches: the delete batch folds to
    a fresh build of the remaining docs, replays idempotently (its own
    negative-key-space partitions), and compaction physically drops
    deleted postings while retaining the tombstone ids."""
    d = _docs(spark)
    idx = str(tmp_path / "idx")
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, idx)
    bm25_index_delete_batch(d.filter(_is_del()), 0, idx)

    want = _index_snaps(fresh_bm25(d.filter(~_is_del())))
    assert _index_snaps(load_bm25_index(spark, idx)) == want

    # replay the delete batch: dynamic overwrite of its own partitions
    bm25_index_delete_batch(d.filter(_is_del()), 0, idx)
    assert _index_snaps(load_bm25_index(spark, idx)) == want

    bm25_index_compact(spark, idx)
    assert _index_snaps(load_bm25_index(spark, idx)) == want

    # physical drop: the raw postings base no longer holds deleted docs
    raw = spark.read.parquet(os.path.join(idx, "postings"))
    deleted_ids = {r["doc_id"] for r in d.filter(_is_del()).select("doc_id").collect()}
    assert not set(
        r["doc_id"] for r in raw.select("doc_id").distinct().collect()
    ) & deleted_ids
    # tombstones retained (folded to the -1 base): the quiescence
    # contract is the real guarantee; retention narrows the blast
    # radius of a violated one — deleted ids stay deleted even when a
    # replayed pre-delete append duplicates other rows (ext/artifact.py
    # module note, review r10)
    ts = spark.read.parquet(os.path.join(idx, "postings_deleted"))
    assert {r["batch_id"] for r in ts.select("batch_id").distinct().collect()} == {-1}
    assert {r["doc_id"] for r in ts.collect()} == deleted_ids


def test_bm25_delete_batch_uses_negative_keyspace(spark, tmp_path):
    """Delete batch n lands its corpus-stats delta at batch_id -(n+2):
    an independent delete stream restarting its numbering at 0 can
    never dynamically overwrite an append partition (same ids) or the
    compaction base (-1)."""
    d = _docs(spark)
    idx = str(tmp_path / "idx")
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, idx)
    bm25_index_delete_batch(d.filter(_is_del()), 0, idx)
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(os.path.join(idx, "corpus_stats"))
        .select("batch_id").distinct().collect()
    }
    assert bids == {0, 1, -2}


def test_gram_log_delete_compact_drop_and_replay(spark, tmp_path):
    from pipeline311_spark.ext.dedup import (
        _row_gram_arrays,
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
    )

    d = _docs(spark)
    store = str(tmp_path / "store")
    for i in range(2):
        gram_log_append_batch(d.filter(F.col("doc_id") % 2 == i), i, store)
    gram_log_delete_batch(d.filter(_is_del()).select("doc_id"), 0, store)

    want = _snap(_row_gram_arrays(d.filter(~_is_del()), "doc_id", "text", 5))
    assert _snap(load_gram_log(spark, store)) == want

    gram_log_delete_batch(d.filter(_is_del()).select("doc_id"), 0, store)  # replay
    assert _snap(load_gram_log(spark, store)) == want

    gram_log_compact(spark, store)
    assert _snap(load_gram_log(spark, store)) == want
    raw = spark.read.parquet(os.path.join(store, "grams"))
    deleted_ids = {r["doc_id"] for r in d.filter(_is_del()).select("doc_id").collect()}
    assert not {r["doc"] for r in raw.select("doc").distinct().collect()} & deleted_ids
    ts = spark.read.parquet(os.path.join(store, "grams_deleted"))
    assert {r["batch_id"] for r in ts.select("batch_id").distinct().collect()} == {-1}


def test_gram_delete_into_crashed_swap_recovers(spark, tmp_path):
    """A delete landing in the between-renames window must recover the
    live dir first — the appender contract, delete edition."""
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
    )

    d = _docs(spark)
    store = str(tmp_path / "store")
    gram_log_append_batch(d, 0, store)
    before = _snap(load_gram_log(spark, store))

    path = os.path.join(store, "grams_deleted")
    gram_log_delete_batch(d.filter(_is_del()).select("doc_id"), 0, store)
    os.rename(path, path + ".compact.old")  # crash the tombstone swap
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        load_gram_log(spark, store).collect()
    gram_log_delete_batch(d.filter(_is_del()).select("doc_id"), 1, store)  # recovers
    after = _snap(load_gram_log(spark, store))
    assert after and len(after) < len(before)
    gram_log_compact(spark, store)
    assert _snap(load_gram_log(spark, store)) == after


def test_ann_codes_delete_compact_drop_and_serve(spark, tmp_path):
    """Codes-log deletion: the folded view equals fresh codes over the
    remaining vectors under the SAME frozen quantizer, compaction
    physically drops tombstoned rows, and the pruned log serve ranks
    like a store built without the deleted vectors."""
    from pipeline311_spark.ext.ann_store import (
        ann_adc_topk_from_store,
        ann_codes_append_batch,
        ann_codes_compact,
        ann_codes_delete_batch,
        ann_index_build,
        ann_quantizer_build,
        load_ann_codes_log,
        load_ann_index,
    )

    e = _emb(spark)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    is_del = F.col("vec_id") % 9 == 4
    idx = str(tmp_path / "idx")
    ann_quantizer_build(spark, v, idx, n_cells=8, pq_k=4)
    for i in range(2):
        ann_codes_append_batch(e.filter(F.col("vec_id") % 2 == i), i, idx)
    ann_codes_delete_batch(e.filter(is_del).select("vec_id"), 0, idx)

    # twin store: same (full-corpus) quantizer, remaining vectors only
    store = str(tmp_path / "store")
    ann_index_build(spark, e.filter(~is_del), store, n_cells=8, pq_k=4, seeds=e)
    want = _snap(load_ann_index(spark, store).codes)
    assert _snap(load_ann_codes_log(spark, idx)) == want

    ann_codes_compact(spark, idx)
    assert _snap(load_ann_codes_log(spark, idx)) == want
    raw = spark.read.parquet(os.path.join(idx, "codes"))
    deleted = {r["vec_id"] for r in e.filter(is_del).select("vec_id").collect()}
    assert not {r["vec_id"] for r in raw.select("vec_id").collect()} & deleted

    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 3).collect()
    }
    got = _snap(ann_adc_topk_from_store(spark, idx, qvecs, k=5, nprobe=2))
    assert got == _snap(ann_adc_topk_from_store(spark, store, qvecs, k=5, nprobe=2))
    assert got


def test_serve_query_cap_refuses_loudly(spark, tmp_path):
    from pipeline311_spark.ext.ann_store import (
        SERVE_MAX_QUERIES,
        ann_adc_topk_from_store,
        ann_index_build,
    )

    e = _emb(spark)
    out = str(tmp_path / "idx")
    ann_index_build(spark, e, out, n_cells=8, pq_k=4)
    too_many = {i: [0.0] * 64 for i in range(SERVE_MAX_QUERIES + 1)}
    with pytest.raises(ValueError, match="bounded at"):
        ann_adc_topk_from_store(spark, out, too_many, k=5, nprobe=2)


def test_compaction_recovers_crashed_tombstone_swap(spark, tmp_path):
    """A compaction that crashed INSIDE compact_tombstones (tombstone
    dir renamed to .compact.old, main artifact already folded) must be
    recoverable by re-running the compaction — review r10: the gram and
    codes compactors recovered only their main artifact, so the next
    compact/load raised mid-compaction-swap forever."""
    from pipeline311_spark.ext.ann_store import (
        ann_codes_append_batch,
        ann_codes_compact,
        ann_codes_delete_batch,
        ann_quantizer_build,
        load_ann_codes_log,
    )
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        gram_log_delete_batch,
        load_gram_log,
    )

    d = _docs(spark)
    store = str(tmp_path / "grams")
    gram_log_append_batch(d, 0, store)
    gram_log_delete_batch(d.filter(_is_del()).select("doc_id"), 0, store)
    want = _snap(load_gram_log(spark, store))
    ts = os.path.join(store, "grams_deleted")
    os.rename(ts, ts + ".compact.old")  # crash inside compact_tombstones
    gram_log_compact(spark, store)  # must recover, fold, and succeed
    assert _snap(load_gram_log(spark, store)) == want

    e = _emb(spark)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "ann")
    ann_quantizer_build(spark, v, idx, n_cells=8, pq_k=4)
    ann_codes_append_batch(e, 0, idx)
    ann_codes_delete_batch(
        e.filter(F.col("vec_id") % 9 == 4).select("vec_id"), 0, idx
    )
    want2 = _snap(load_ann_codes_log(spark, idx))
    ts2 = os.path.join(idx, "codes_deleted")
    os.rename(ts2, ts2 + ".compact.old")
    ann_codes_compact(spark, idx)
    assert _snap(load_ann_codes_log(spark, idx)) == want2
