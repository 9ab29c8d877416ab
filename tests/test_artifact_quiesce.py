"""Runtime enforcement of the artifact-log quiescence contract
(round 11, VERDICT r10 item 3) and the folded-delete-batch replay
guard (ADVICE r10): compaction must REFUSE while any batch write is in
flight, a crashed writer's leftover marker must block compaction until
the batch replays (and self-heal when it does), and a delete batch
replayed after its fold must be skipped with a warning instead of
double-subtracting the stats the base already netted."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.artifact import (
    assert_quiesced,
    intent_dir,
    run_jobs,
    write_intent,
)
from pipeline311_spark.ext.retrieval import (
    bm25_index_append_batch,
    bm25_index_compact,
    bm25_index_delete_batch,
    load_bm25_index,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _touch_marker(root: str, key: str) -> str:
    os.makedirs(intent_dir(root), exist_ok=True)
    marker = os.path.join(intent_dir(root), key)
    with open(marker, "w"):
        pass
    return marker


def test_write_intent_lifecycle(tmp_path):
    root = str(tmp_path / "log")
    # clean write: marker exists during, gone after
    with write_intent(root, "append-0"):
        assert os.listdir(intent_dir(root)) == ["append-0"]
        assert_quiesced_raises = False
        try:
            assert_quiesced(root)
        except RuntimeError:
            assert_quiesced_raises = True
        assert assert_quiesced_raises
    assert os.listdir(intent_dir(root)) == []
    assert_quiesced(root)  # no-op when clean
    # crashed write: the marker survives the exception...
    with pytest.raises(RuntimeError, match="boom"):
        with write_intent(root, "append-1"):
            raise RuntimeError("boom")
    with pytest.raises(RuntimeError, match="in-flight batch"):
        assert_quiesced(root)
    # ...and the batch's REPLAY (same deterministic key) self-heals it
    with write_intent(root, "append-1"):
        pass
    assert_quiesced(root)


def test_bm25_compaction_refuses_inflight_writer(spark, tmp_path):
    out = str(tmp_path / "bm25")
    d = _docs(spark)
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, out)
    marker = _touch_marker(out, "append-7")
    with pytest.raises(RuntimeError, match="in-flight batch"):
        bm25_index_compact(spark, out)
    os.remove(marker)  # writer commits → compaction proceeds
    bm25_index_compact(spark, out)
    assert load_bm25_index(spark, out).postings.count() > 0


def test_gram_and_ann_compaction_refuse_inflight_writer(spark, tmp_path):
    from pipeline311_spark.ext.ann_store import (
        ann_codes_append_batch,
        ann_codes_compact,
        ann_quantizer_build,
    )
    from pipeline311_spark.ext.dedup import gram_log_append_batch, gram_log_compact

    groot = str(tmp_path / "grams")
    d = _docs(spark).limit(50)
    gram_log_append_batch(d, 0, groot)
    _touch_marker(groot, "delete-3")
    with pytest.raises(RuntimeError, match="in-flight batch"):
        gram_log_compact(spark, groot)

    aroot = str(tmp_path / "ann")
    e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ann_quantizer_build(spark, v, aroot, n_cells=4, pq_k=4)
    ann_codes_append_batch(e, 0, aroot)
    _touch_marker(aroot, "append-9")
    with pytest.raises(RuntimeError, match="in-flight batch"):
        ann_codes_compact(spark, aroot)


def test_folded_delete_batch_replay_is_skipped(spark, tmp_path):
    """ADVICE r10: a pre-compaction delete batch replayed AFTER
    bm25_index_compact must not re-subtract df/n_docs/sum_dl the
    folded base already netted — the replay is skipped with a loud
    warning, and the served index is bit-identical."""
    out = str(tmp_path / "bm25")
    d = _docs(spark)
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, out)
    deleted = d.filter(F.col("doc_id") % 9 == 4)
    bm25_index_delete_batch(deleted, 0, out)
    bm25_index_compact(spark, out)

    def snap():
        ix = load_bm25_index(spark, out)
        return sorted(map(tuple, ix.postings.collect())), ix.n_docs, ix.sum_dl

    before = snap()
    with pytest.warns(UserWarning, match="already folded"):
        bm25_index_delete_batch(deleted, 0, out)  # the post-fold replay
    assert snap() == before
    # a genuinely NEW delete batch (fresh id) still applies
    more = d.filter(F.col("doc_id") % 9 == 5)
    bm25_index_delete_batch(more, 1, out)
    assert load_bm25_index(spark, out).n_docs < before[1]


def test_folded_append_batch_replay_is_skipped(spark, tmp_path):
    """Review r11 (the first guard cut was delete-only): an append
    batch replayed AFTER compaction folded it would double-ADD its
    postings and df/n_docs/sum_dl exactly as a replayed delete
    double-subtracts — the content-based guard skips the replay, while
    a deliberately fresh stream recycling the folded batch id with
    DISJOINT ids proceeds."""
    out = str(tmp_path / "bm25")
    d = _docs(spark)
    half = d.filter(F.col("doc_id") < 500)
    for i in range(2):
        bm25_index_append_batch(half.filter(F.col("doc_id") % 2 == i), i, out)
    bm25_index_compact(spark, out)

    def snap():
        ix = load_bm25_index(spark, out)
        return sorted(map(tuple, ix.postings.collect())), ix.n_docs, ix.sum_dl

    before = snap()
    with pytest.warns(UserWarning, match="already folded"):
        bm25_index_append_batch(half.filter(F.col("doc_id") % 2 == 0), 0, out)
    assert snap() == before
    # fresh id-space recycling: batch id 0 again, but DISJOINT docs —
    # the documented post-compaction fresh-checkpoint workflow
    fresh = d.filter((F.col("doc_id") >= 500) & (F.col("doc_id") < 600))
    bm25_index_append_batch(fresh, 0, out)
    assert load_bm25_index(spark, out).n_docs == before[1] + fresh.filter(
        F.col("text").isNotNull()
    ).count()


@pytest.mark.parametrize("family", ["ann", "gram"])
def test_folded_ann_append_replay_is_skipped(spark, tmp_path, family):
    """The same post-fold replay guard on the ANN codes log and the
    MinHash gram log: a replayed code batch would duplicate base rows
    and a duplicated neighbor eats a top-k slot at serve; replayed gram
    rows inflate set-size denominators downstream."""
    from pipeline311_spark.ext.ann_store import (
        ann_codes_append_batch,
        ann_codes_compact,
        ann_quantizer_build,
        load_ann_codes_log,
    )
    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        load_gram_log,
    )

    out = str(tmp_path / family)
    if family == "ann":
        e = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
            F.col("embedding").isNotNull()
        )
        v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        ann_quantizer_build(spark, v, out, n_cells=4, pq_k=4)
        rows, key = e, "vec_id"
        append, compact, load = (
            ann_codes_append_batch, ann_codes_compact, load_ann_codes_log
        )
    else:
        rows, key = _docs(spark), "doc_id"
        append, compact, load = gram_log_append_batch, gram_log_compact, load_gram_log
    append(rows.filter(F.col(key) < 200), 0, out)
    compact(spark, out)
    n = load(spark, out).count()
    with pytest.warns(UserWarning, match="already folded"):
        append(rows.filter(F.col(key) < 200), 0, out)
    assert load(spark, out).count() == n
    # disjoint ids under the recycled batch id proceed
    append(rows.filter((F.col(key) >= 200) & (F.col(key) < 300)), 0, out)
    assert load(spark, out).count() > n


def test_folded_all_deleted_append_replay_still_skipped(spark, tmp_path):
    """Review r11 second wave: a folded append batch whose docs were
    ALL subsequently deleted is invisible in the tombstone-masked
    serving view — the probe must consult raw ∪ tombstones so the
    replay cannot re-add positive stat deltas the base already
    netted."""
    out = str(tmp_path / "bm25")
    d = _docs(spark)
    a = d.filter(F.col("doc_id") < 100)
    b = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
    bm25_index_append_batch(a, 0, out)
    bm25_index_append_batch(b, 1, out)
    bm25_index_delete_batch(a, 0, out)  # delete EVERY doc of batch 0
    bm25_index_compact(spark, out)
    def sums():
        ix = load_bm25_index(spark, out)
        return ix.n_docs, ix.sum_dl

    before = sums()
    with pytest.warns(UserWarning, match="already folded"):
        bm25_index_append_batch(a, 0, out)  # the post-fold replay
    assert sums() == before


def test_partial_first_attempt_heals_on_replay(spark, tmp_path, fresh_bm25):
    """Review r11 second wave: a FRESH stream recycling a folded batch
    id that crashed mid-multi-artifact write must not see its own
    partial first attempt as a replay — the healing replay rewrites
    the batch (completing corpus_stats) and clears the intent
    marker."""
    from pyspark.sql import functions as SF

    from pipeline311_spark.ext.retrieval import bm25_batch_artifacts

    out = str(tmp_path / "bm25")
    d = _docs(spark)
    base = d.filter(F.col("doc_id") < 200)
    for i in range(2):
        bm25_index_append_batch(base.filter(F.col("doc_id") % 2 == i), i, out)
    bm25_index_compact(spark, out)  # folds batches {0, 1}
    fresh = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
    # simulate the crashed first attempt of the recycled batch 0:
    # postings written, stats not, intent marker left behind
    postings, _, release = bm25_batch_artifacts(fresh)
    (
        postings.withColumn("batch_id", SF.lit(0).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "postings"))
    )
    release()
    marker = _touch_marker(out, "append-0")
    with pytest.raises(RuntimeError, match="in-flight batch"):
        bm25_index_compact(spark, out)  # blocked, as designed
    # the healing replay: must PROCEED (own-partition rows excluded
    # from the probe), complete the triple, and clear the marker
    bm25_index_append_batch(fresh, 0, out)
    assert not os.path.exists(marker)
    want = fresh_bm25(base.unionByName(fresh))
    got = load_bm25_index(spark, out)
    assert (got.n_docs, got.sum_dl) == (want.n_docs, want.sum_dl)
    assert sorted(map(tuple, got.postings.collect())) == sorted(
        map(tuple, want.postings.collect())
    )
    bm25_index_compact(spark, out)  # marker gone -> compaction proceeds


def test_delete_replay_skips_when_compaction_crashes_after_tombstone_fold(
    spark, tmp_path, monkeypatch, fresh_bm25
):
    """Review r11 wave three: the compactors fold tombstones FIRST so
    a crash between the tombstone fold and the artifact folds leaves
    the delete batch's fold evidence in the -1 base — the replayed
    delete is skipped (its still-live negative partitions lose
    nothing) instead of double-subtracting, and a later compaction
    completes the fold."""
    import pipeline311_spark.ext.artifact as art

    out = str(tmp_path / "bm25")
    d = _docs(spark)
    for i in range(2):
        bm25_index_append_batch(d.filter(F.col("doc_id") % 2 == i), i, out)
    deleted = d.filter(F.col("doc_id") % 9 == 4)
    bm25_index_delete_batch(deleted, 0, out)

    real = art.compact_swap
    calls = {"n": 0}

    def crashing(path, write_staging):
        calls["n"] += 1
        if calls["n"] >= 2:  # call 1 = the tombstone fold; 2+ = artifacts
            raise RuntimeError("simulated crash after tombstone fold")
        return real(path, write_staging)

    monkeypatch.setattr(art, "compact_swap", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        bm25_index_compact(spark, out)
    monkeypatch.setattr(art, "compact_swap", real)

    def stats():
        ix = load_bm25_index(spark, out)
        return sorted(map(tuple, ix.postings.collect())), ix.n_docs, ix.sum_dl

    want = fresh_bm25(d.join(deleted.select("doc_id"), "doc_id", "left_anti"))
    expected = sorted(map(tuple, want.postings.collect())), want.n_docs, want.sum_dl
    assert stats() == expected  # half-compacted state serves correctly
    with pytest.warns(UserWarning, match="already folded"):
        bm25_index_delete_batch(deleted, 0, out)  # the replay — skipped
    assert stats() == expected
    bm25_index_compact(spark, out)  # a later compaction completes
    assert stats() == expected


def test_run_jobs_keeps_the_callers_job_group(spark):
    """The concurrent writes run from pool threads, which start with no
    Spark local properties of their own: every job a two-thunk
    ``run_jobs`` starts must still be billed to the caller's job
    group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("run_jobs_caller", "two concurrent counts")
    try:
        run_jobs(lambda: spark.range(10).count(), lambda: spark.range(20).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("run_jobs_caller")) >= 2
    assert not set(tracker.getJobIdsForGroup()) - ungrouped


def test_run_jobs_gives_each_thunk_its_own_local_properties(spark):
    """SQL execution writes its execution ids into the running thread's
    local properties, so concurrent thunks sharing one properties
    object would bill their jobs to each other's executions: a
    property one thunk sets stays invisible to the other thunk and to
    the caller."""
    import threading

    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=60)
    seen = {}

    def thunk(name):
        def run():
            sc.setLocalProperty("run_jobs.test.owner", name)
            both_set.wait()
            seen[name] = sc.getLocalProperty("run_jobs.test.owner")

        return run

    run_jobs(thunk("a"), thunk("b"))
    assert seen == {"a": "a", "b": "b"}
    assert sc.getLocalProperty("run_jobs.test.owner") is None
