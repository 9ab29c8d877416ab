"""Streaming maintenance of the stored MinHash gram log
(ext/dedup.py gram_log_*, ext/artifact.py) — the operational
properties the oracle twin can't see: replay idempotence, compaction
value-preservation + fresh-checkpoint safety, the crashed-swap
refusal/recovery contract shared with the BM25 log, and the stored
serve path (one gram array per doc, no set rebuild)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import (
    _row_gram_arrays,
    gram_log_append_batch,
    gram_log_compact,
    load_gram_log,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


A = [(1, "a b c d e f g"), (2, "a b c d e f g h")]
B = [(10, "x y z a b c d e"), (11, "p q r s t u v")]
C = [(20, "a b c d e f g")]


def _snap(spark, store):
    return sorted(map(tuple, load_gram_log(spark, store).collect()))


def _snap_arrays(docs):
    return sorted(map(tuple, _row_gram_arrays(docs, "doc_id", "text", 5).collect()))


def test_append_is_idempotent_under_replay(spark, tmp_path):
    store = str(tmp_path / "store")
    gram_log_append_batch(_docs(spark, A), 0, store, n=5)
    gram_log_append_batch(_docs(spark, B), 1, store, n=5)
    before = _snap(spark, store)
    gram_log_append_batch(_docs(spark, B), 1, store, n=5)  # replay
    assert _snap(spark, store) == before


def test_compact_preserves_content_and_fresh_batches_append(spark, tmp_path):
    store = str(tmp_path / "store")
    gram_log_append_batch(_docs(spark, A), 0, store, n=5)
    gram_log_append_batch(_docs(spark, B), 1, store, n=5)
    before = _snap(spark, store)
    gram_log_compact(spark, store)
    assert _snap(spark, store) == before
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(os.path.join(store, "grams")).collect()
    }
    assert bids == {-1}

    # a fresh-checkpoint stream restarts numbering at 0 — must append,
    # never overwrite the base
    gram_log_append_batch(_docs(spark, C), 0, store, n=5)
    want = _snap_arrays(_docs(spark, A + B + C))
    assert _snap(spark, store) == want


def test_mid_swap_refusal_and_recovery(spark, tmp_path):
    store = str(tmp_path / "store")
    gram_log_append_batch(_docs(spark, A), 0, store, n=5)
    before = _snap(spark, store)

    path = os.path.join(store, "grams")
    os.rename(path, path + ".compact.old")  # the between-renames window
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        load_gram_log(spark, store).collect()
    gram_log_compact(spark, store)  # recovers, then folds
    assert _snap(spark, store) == before


def test_empty_store_loads_empty_with_stable_schema(spark, tmp_path):
    out = load_gram_log(spark, str(tmp_path / "never_written"))
    assert out.columns == ["doc", "garr"]
    assert out.count() == 0


def test_stream_query_leaves_no_tmp_dirs(spark):
    import glob
    import tempfile

    from pipeline311_spark.plans import REGISTRY

    pat = os.path.join(tempfile.gettempdir(), "p311_mhs_*")
    before = set(glob.glob(pat))
    rows = REGISTRY["stream_minhash_maintain"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert set(glob.glob(pat)) == before


def test_append_into_crashed_swap_window_recovers_first(spark, tmp_path):
    """An append landing BETWEEN a compaction's two renames must
    recover the swap before writing — otherwise it resurrects a live
    dir holding only the new batch and the next compaction deletes the
    orphaned pre-crash log (review r9)."""
    store = str(tmp_path / "store")
    gram_log_append_batch(_docs(spark, A), 0, store, n=5)
    gram_log_append_batch(_docs(spark, B), 1, store, n=5)

    # the between-renames window: live gone, .old holds everything
    path = os.path.join(store, "grams")
    os.rename(path, path + ".compact.old")

    gram_log_append_batch(_docs(spark, C), 2, store, n=5)  # must recover

    want = _snap_arrays(_docs(spark, A + B + C))
    assert _snap(spark, store) == want
    gram_log_compact(spark, store)  # and compaction stays lossless
    assert _snap(spark, store) == want


def test_concurrent_backfill_batches_equal_sequential(spark, tmp_path):
    """Round 12: the artifact contract's concurrency corollary — two
    append batches with distinct batch ids and disjoint doc ids issued
    CONCURRENTLY (run_jobs, the overlapped-backfill shape the
    delete/update lifecycle queries use) leave the log byte-equal to
    the sequential order, with no intent markers left behind."""
    from pipeline311_spark.ext.artifact import intent_dir, run_jobs

    seq = str(tmp_path / "seq")
    gram_log_append_batch(_docs(spark, A), 0, seq, n=5)
    gram_log_append_batch(_docs(spark, B), 1, seq, n=5)

    conc = str(tmp_path / "conc")
    run_jobs(
        lambda: gram_log_append_batch(_docs(spark, A), 0, conc, n=5),
        lambda: gram_log_append_batch(_docs(spark, B), 1, conc, n=5),
    )
    assert _snap(spark, conc) == _snap(spark, seq)
    leftover = os.listdir(intent_dir(conc)) if os.path.isdir(intent_dir(conc)) else []
    assert leftover == []
    # and the folded state agrees too
    gram_log_compact(spark, conc)
    assert _snap(spark, conc) == _snap(spark, seq)


def test_stored_path_equals_in_memory_without_set_rebuild(spark, sf_dir, tmp_path):
    """The stored serve path: a gram log appended in two batches and
    compacted holds one array row per doc, and
    ``minhash_pairs_from_grams`` over it yields exactly the pairs
    ``minhash_dedup_pairs`` finds from the text.  Its plan never
    rebuilds gram sets with a ``collect_set(g)`` exchange — the verify
    reads the stored arrays (the bucket ``collect_set`` over doc ids
    stays)."""
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs, minhash_pairs_from_grams
    from pipeline311_spark.plans.common import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "store")
    for i in range(2):
        gram_log_append_batch(docs.filter(F.col("doc_id") % 2 == i), i, store, n=5)
    gram_log_compact(spark, store)
    log = load_gram_log(spark, store)
    assert log.count() == log.select("doc").distinct().count()

    kw = dict(k=16, bands=4, threshold=0.5)
    stored = minhash_pairs_from_grams(log, **kw)
    want = minhash_dedup_pairs(docs, "doc_id", "text", n=5, **kw)
    key = ("doc_a", "doc_b", "jaccard")
    got_pairs = sorted(tuple(r[c] for c in key) for r in stored.collect())
    assert got_pairs
    assert got_pairs == sorted(tuple(r[c] for c in key) for r in want.collect())
    plan = formatted_plan(stored)
    assert "collect_set(g" not in plan
    assert "collect_set(" in plan
