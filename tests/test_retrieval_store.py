"""Stored BM25 index + N-ranker RRF (ext/retrieval.py,
plans/curation3.py, plans/index_delete.py) — the properties the oracle
twins can't see:
multi-batch log fold ≡ fresh one-batch build on the ARTIFACTS
themselves (the oracle only compares final top-k), fixed-order fusion
math, and temp-store hygiene."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.retrieval import (
    bm25_index_append_batch,
    bm25_topk,
    load_bm25_index,
    rrf_fuse,
)
from pipeline311_spark.plans.curation3 import _query_frame

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _index_snap(index):
    """The comparable form of an index snapshot: sorted postings rows
    and the two corpus sums."""
    return sorted(map(tuple, index.postings.collect())), index.n_docs, index.sum_dl


def test_incremental_update_equals_fresh_build(spark, tmp_path, fresh_bm25):
    """The index folded from two disjoint append batches is
    row-identical to one append of the union — the contract that makes
    the stored index maintainable without corpus re-tokenization."""
    base = _docs(
        spark,
        [(1, "spark merge join"), (2, "merge merge vector"), (3, None), (4, "")],
    )
    batch = _docs(spark, [(10, "spark spark customer"), (11, "join")])
    idx = str(tmp_path / "idx")
    bm25_index_append_batch(base, 0, idx)
    bm25_index_append_batch(batch, 1, idx)
    merged = load_bm25_index(spark, idx)
    assert _index_snap(merged) == _index_snap(fresh_bm25(base.unionByName(batch)))

    # the ''-text doc carries dl=0 into corpus stats but produces no
    # postings; the NULL doc is absent everywhere
    assert (merged.n_docs, merged.sum_dl) == (5, 10)


def test_bm25_topk_from_index_matches_query_local_path(spark, fresh_bm25):
    """Serving from the index reproduces the query-local plan's result
    exactly (same scoring kernel, same ints in → same doubles out)."""
    from pipeline311_spark.plans.curation3 import (
        _BM25_QUERIES,
        _BM25_TOPK,
        bm25_scored_frame,
    )

    index = fresh_bm25(
        spark.read.parquet(f"{SF}/documents.parquet").filter(
            F.col("text").isNotNull()
        )
    )
    q = spark.createDataFrame(list(_BM25_QUERIES), "query_id long, term string")
    got = sorted(map(tuple, bm25_topk(index, q, k=_BM25_TOPK).collect()))
    want = sorted(map(tuple, bm25_scored_frame(spark, SF).collect()))
    assert got == want


def test_rrf_fuse_three_rankers_closed_form(spark):
    """Three rankers, overlapping and disjoint docs: rrf equals the
    closed form 1/(C+r) summed over present rankers, absent ranks
    render 0, and provenance columns follow ranker order."""
    lex = spark.createDataFrame(
        [(0, 100, 1), (0, 101, 2)], "query_id long, doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(0, 100, 1), (0, 102, 2)], "query_id long, doc_id long, rank long"
    )
    rec = spark.createDataFrame(
        [(0, 102, 1)], "query_id long, doc_id long, rank long"
    )
    out = rrf_fuse([("lex", lex), ("dense", dense), ("rec", rec)], k=10, c=60)
    assert out.columns == [
        "query_id", "rank", "doc_id", "rrf", "lex_rank", "dense_rank", "rec_rank",
    ]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[100]["rrf"] == 1.0 / 61 + 1.0 / 61
    assert rows[101]["rrf"] == 1.0 / 62
    assert rows[102]["rrf"] == 1.0 / 62 + 1.0 / 61
    assert (rows[101]["lex_rank"], rows[101]["dense_rank"], rows[101]["rec_rank"]) == (2, 0, 0)
    # doc 102 (two rankers) outranks doc 101 (one ranker, same best rank)
    assert rows[102]["rank"] < rows[101]["rank"]


def test_rrf_fuse_rejects_duplicate_ranker_names(spark):
    f = spark.createDataFrame([(0, 1, 1)], "query_id long, doc_id long, rank long")
    with pytest.raises(ValueError, match="duplicate ranker names"):
        rrf_fuse([("a", f), ("a", f)])


def test_store_queries_do_not_leak_tmp_dirs(spark):
    """Same hygiene contract as the stored-gram queries (r7): each run
    mints a uuid dir (plans/common.scratch_dir), materializes its
    result, and removes the dir on the way out — the BM25 stores and
    the sink/scan round trips (CSV, overwrite-reload, batched writer,
    throttled sink, Derby)."""
    from pipeline311_spark.plans import REGISTRY

    pat = os.path.join(tempfile.gettempdir(), "p311_*")
    before = set(glob.glob(pat))
    for name in (
        "text_bm25_delete_merge",
        "text_bm25_delete_maintain",
        "stream_bm25_delete_maintain",
        "retrieval_hybrid_rrf",
        "k9_truncate_reload",
        "s9_csv_roundtrip",
        "k5_batched_writer_roundtrip",
        "t5_t6_observe_throttled_sink",
        "s4_jdbc_scan",
    ):
        rows = REGISTRY[name].fn(spark, SF).collect()
        assert rows, name
    after = set(glob.glob(pat))
    assert after == before, f"leaked temp dirs: {sorted(after - before)}"


def test_bm25_batch_append_is_idempotent_under_replay(spark, tmp_path):
    """Crash-recovery delivers a micro-batch at least once; the
    batch_id-partitioned dynamic overwrite must make the second
    delivery a no-op (same index, not doubled counts)."""
    from pipeline311_spark.ext.retrieval import (
        bm25_index_append_batch,
        load_bm25_index,
    )

    idx = str(tmp_path / "idx")
    b0 = _docs(spark, [(1, "spark merge"), (2, "merge")])
    b1 = _docs(spark, [(10, "spark spark")])
    bm25_index_append_batch(b0, 0, idx)
    bm25_index_append_batch(b1, 1, idx)

    before = _index_snap(load_bm25_index(spark, idx))
    bm25_index_append_batch(b1, 1, idx)  # replay
    assert _index_snap(load_bm25_index(spark, idx)) == before
    assert before[1:] == (3, 5)


def test_rrf_fuse_rejects_empty_rankings(spark):
    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse([])


def test_bm25_stream_checkpoint_resume_processes_only_new_files(spark, tmp_path, fresh_bm25):
    """Operational property of the streaming index maintenance: a
    restarted availableNow stream resumes from its checkpoint — files
    already folded into the index are NOT reprocessed, new files are,
    and the final index equals a fresh one-shot build."""
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    a = _docs(spark, [(1, "spark merge"), (2, "merge vector")])
    b = _docs(spark, [(10, "spark customer"), (11, "join join")])

    def run_stream():
        stream = spark.readStream.schema(a.schema).option(
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

    a.coalesce(1).write.mode("append").parquet(src)
    run_stream()
    assert load_bm25_index(spark, idx).n_docs == 2

    b.coalesce(1).write.mode("append").parquet(src)
    run_stream()  # restart: same checkpoint, only the new file folds in

    assert _index_snap(load_bm25_index(spark, idx)) == _index_snap(
        fresh_bm25(a.unionByName(b))
    )
    # batch ids advanced (1 per restart batch) — nothing was replayed
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(os.path.join(idx, "corpus_stats")).collect()
    }
    assert len(bids) == 2


def test_bm25_index_compact_preserves_serve_and_survives_new_batches(
    spark, tmp_path, fresh_bm25
):
    """Compaction folds the delta log into a batch_id=-1 base without
    changing what the index serves; a post-compaction stream restarting
    at batch 0 appends WITHOUT clobbering the base (real ids >= 0);
    and a crashed swap window fails loudly then recovers."""
    from pipeline311_spark.ext.retrieval import bm25_index_compact

    idx = str(tmp_path / "idx")
    a = _docs(spark, [(1, "spark merge"), (2, "merge vector")])
    b = _docs(spark, [(10, "spark customer")])
    c = _docs(spark, [(20, "join join vector")])

    bm25_index_append_batch(a, 0, idx)
    bm25_index_append_batch(b, 1, idx)

    before = _index_snap(load_bm25_index(spark, idx))
    bm25_index_compact(spark, idx)
    assert _index_snap(load_bm25_index(spark, idx)) == before
    # the log physically folded to the single base partition
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(os.path.join(idx, "postings")).collect()
    }
    assert bids == {-1}

    # a fresh-checkpoint stream restarts numbering at 0 — must append,
    # never overwrite the base
    bm25_index_append_batch(c, 0, idx)
    want = _index_snap(fresh_bm25(a.unionByName(b).unionByName(c)))
    assert _index_snap(load_bm25_index(spark, idx)) == want

    # crashed-swap window: live dir renamed away, .old holds the data;
    # the load folds the corpus stats, so it is the load that refuses
    p = os.path.join(idx, "corpus_stats")
    os.rename(p, p + ".compact.old")
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        load_bm25_index(spark, idx)
    bm25_index_compact(spark, idx)  # recovers, then re-folds
    assert _index_snap(load_bm25_index(spark, idx)) == want


def test_compact_crash_between_renames_recovers_end_to_end(spark, tmp_path, monkeypatch):
    """KILL the swap between its two renames (the live dir is gone, the
    only copy sits in .compact.old): serving must refuse loudly, and a
    re-run of bm25_index_compact must recover to exactly the index a
    never-crashed compaction produces (VERDICT r8 item 3 — the seam
    test the guard at ext/retrieval.py lacked)."""
    import pipeline311_spark.ext.retrieval as retrieval_mod
    from pipeline311_spark.ext.retrieval import (
        bm25_index_append_batch,
        bm25_index_compact,
        load_bm25_index,
    )

    def build(idx):
        bm25_index_append_batch(_docs(spark, [(1, "spark merge"), (2, "merge")]), 0, idx)
        bm25_index_append_batch(_docs(spark, [(10, "spark spark join")]), 1, idx)

    # control twin: same log, compacted without any crash
    control = str(tmp_path / "control")
    build(control)
    bm25_index_compact(spark, control)

    idx = str(tmp_path / "idx")
    build(idx)

    real_rename = os.rename

    def dying_rename(src, dst):
        # swap order per artifact: (live -> .old) then (staging ->
        # live); die entering the SECOND rename of the POSTINGS
        # artifact specifically — the artifact swaps run
        # concurrently from driver threads since round 11, so a global
        # rename call count no longer lands in a deterministic window,
        # but the per-artifact two-rename sequence is unchanged
        if dst.endswith(os.sep + "postings"):
            raise RuntimeError("injected crash between the two renames")
        real_rename(src, dst)

    monkeypatch.setattr(retrieval_mod.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        bm25_index_compact(spark, idx)
    monkeypatch.setattr(retrieval_mod.os, "rename", real_rename)

    # the crash window: the postings artifact mid-swap (the concurrent
    # corpus_stats swap ran to completion — run_jobs finishes every
    # thunk before re-raising)
    assert os.path.isdir(os.path.join(idx, "postings.compact.old"))
    assert not os.path.isdir(os.path.join(idx, "postings"))
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        load_bm25_index(spark, idx).postings.collect()

    bm25_index_compact(spark, idx)  # the documented recovery re-invoke

    got = load_bm25_index(spark, idx)
    assert _index_snap(got) == _index_snap(load_bm25_index(spark, control))
    assert not glob.glob(os.path.join(idx, "*.compact.*"))


def test_compact_stale_old_dir_does_not_wedge_next_compaction(spark, tmp_path, fresh_bm25):
    """The OTHER crash window (ADVICE r8): a crash AFTER the
    staging->live rename but BEFORE the .old cleanup leaves a stale
    non-empty .compact.old next to a healthy live dir.  The next
    compaction used to raise OSError renaming onto it — it must instead
    drop the stale dir (live is authoritative) and complete."""
    from pipeline311_spark.ext.retrieval import bm25_index_compact

    idx = str(tmp_path / "idx")
    a = _docs(spark, [(1, "spark merge"), (2, "merge")])
    b = _docs(spark, [(10, "spark spark join")])
    bm25_index_append_batch(a, 0, idx)
    bm25_index_compact(spark, idx)

    # simulate the crash leftovers: live postings intact, stale .old
    stale = os.path.join(idx, "postings.compact.old")
    os.makedirs(stale)
    with open(os.path.join(stale, "leftover.parquet"), "w") as f:
        f.write("stale")

    bm25_index_append_batch(b, 1, idx)
    bm25_index_compact(spark, idx)  # must not raise

    assert _index_snap(load_bm25_index(spark, idx)) == _index_snap(
        fresh_bm25(a.unionByName(b))
    )
    assert not glob.glob(os.path.join(idx, "*.compact.*"))


def test_rrf_fuse_duplicate_pairs_contribute_best_rank(spark):
    """A ranker frame carrying a duplicated (query_id, doc_id) pair
    must contribute the pair's BEST rank to the pivot, not silently its
    worst (ADVICE r8: the F.max pivot kept rank 9 over rank 1)."""
    lex = spark.createDataFrame(
        [(0, 100, 9), (0, 100, 1), (0, 200, 2)],
        "query_id long, doc_id long, rank long",
    )
    out = {
        r["doc_id"]: (r["lex_rank"], r["rrf"])
        for r in rrf_fuse([("lex", lex)], k=10, c=60).collect()
    }
    assert out[100][0] == 1 and out[100][1] == 1.0 / 61
    assert out[200][0] == 2 and out[200][1] == 1.0 / 62


def test_hybrid_rrf_serve_plan_reads_store_not_corpus_text(spark, tmp_path):
    """retrieval_hybrid_rrf must SERVE both rankers from stored
    artifacts (VERDICT r8 item 3 lexical, r9 item 3 dense): the fused
    frame's plan reads the postings/corpus-stats parquet artifacts and
    the pcell-pruned ANN codes — the documents table, its tokenize
    subtree, and any raw-embedding scan must be absent."""
    import io
    from contextlib import redirect_stdout

    from pipeline311_spark.plans.curation3 import hybrid_rrf_frame

    fused = hybrid_rrf_frame(spark, SF, str(tmp_path / "store"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        fused.explain("extended")
    plan = buf.getvalue()
    # store artifacts by schema signature (location strings are
    # truncated under the default maxMetadataStringLength): the
    # postings relation (term, doc_id, tf, dl) and the ANN codes
    # relation (vec_id, code0..); the corpus stats are folded at load
    # and ride as literals
    assert "Relation [term#" in plan and "Relation [n_docs#" not in plan
    assert "code0#" in plan
    assert "documents.parquet" not in plan and "Relation [doc_id#" not in plan
    # the tokenize subtree's signature projections
    assert "regexp_replace" not in plan and "split(" not in plan
    # the dense serve reads M small ints per vector, never the floats
    assert "embedding#" not in plan
    assert fused.count() > 0
    # the lexical ranker of the same store: one exchange, postings only
    index = load_bm25_index(spark, str(tmp_path / "store" / "bm25"))
    _assert_one_exchange_over_postings(bm25_topk(index, _query_frame(spark)))


def _final_plan(df):
    """The executed physical plan after an action (the final adaptive
    plan; its initial-plan half is cut off so nothing counts twice)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _assert_one_exchange_over_postings(served):
    """The stored serve's shape: exactly one shuffle exchange (the hits
    hash-partitioned on query_id), no broadcast nested-loop join, and
    one parquet relation, the postings."""
    import re

    plan = _final_plan(served)
    shuffles = re.findall(r"(?m)^[\s:+\-|]*Exchange ", plan)
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(query_id#" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1 and scans[0].startswith("term#"), plan


def test_bm25_topk_serve_plan_is_one_exchange_over_postings(spark, fresh_bm25):
    """A stored serve batch costs one shuffle: df is counted from the
    matched postings in the same query_id partitioning that the
    per-doc fold and the rank window use, and the corpus stats are
    literals, so no stats relation is scanned or cross-joined."""
    from pipeline311_spark.plans.curation3 import _BM25_TOPK

    index = fresh_bm25(_docs(spark, [(1, "spark merge join"), (2, "merge vector")]))
    served = bm25_topk(index, _query_frame(spark), k=_BM25_TOPK)
    _assert_one_exchange_over_postings(served)
    assert served.count() > 0


def test_bm25_topk_on_an_empty_corpus_serves_nothing(spark, tmp_path, fresh_bm25):
    """n_docs == 0 has no avgdl: a never-appended index, an index whose
    every doc is deleted (uncompacted: the corpus-stats log nets to
    zero rather than being empty) and the same index compacted all
    serve an empty frame with the serve schema instead of dividing by
    zero."""
    from pipeline311_spark.ext.retrieval import (
        bm25_index_compact,
        bm25_index_delete_batch,
    )

    q = _query_frame(spark)
    want = bm25_topk(fresh_bm25(_docs(spark, [(1, "spark merge")])), q).dtypes
    never = str(tmp_path / "never")
    idx = str(tmp_path / "idx")
    both = _docs(spark, [(1, "spark merge"), (2, "merge vector")])
    bm25_index_append_batch(both, 0, idx)
    bm25_index_delete_batch(both, 0, idx)
    for served in (
        bm25_topk(load_bm25_index(spark, never), q),
        bm25_topk(load_bm25_index(spark, idx), q),
    ):
        assert served.dtypes == want
        assert served.collect() == []
    bm25_index_compact(spark, idx)
    served = bm25_topk(load_bm25_index(spark, idx), q)
    assert served.dtypes == want
    assert served.collect() == []


def _assert_postings_term_clustered(idx):
    """Each ``batch_id=`` dir's files are sorted by (term, doc_id) and
    hold disjoint term sets; each file's row-group ``term`` ranges
    ascend (meeting at most at a boundary term), and at least one file
    spans several row groups."""
    import pyarrow.parquet as pq

    batch_dirs = glob.glob(os.path.join(idx, "postings", "batch_id=*"))
    assert batch_dirs
    split_files = 0
    for d in batch_dirs:
        seen = set()
        for f in glob.glob(os.path.join(d, "*.parquet")):
            t = pq.read_table(f, columns=["term", "doc_id"])
            keys = list(zip(t["term"].to_pylist(), t["doc_id"].to_pylist()))
            assert keys == sorted(keys), f
            terms = {k[0] for k in keys}
            assert not terms & seen, f
            seen |= terms
            meta = pq.ParquetFile(f).metadata
            ranges = [
                (meta.row_group(g).column(0).statistics.min,
                 meta.row_group(g).column(0).statistics.max)
                for g in range(meta.num_row_groups)
            ]
            assert all(lo <= hi for lo, hi in ranges), ranges
            assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:])), ranges
            split_files += meta.num_row_groups > 1
    assert split_files, "the block size left every file one row group"


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_bm25_postings_are_term_clustered_on_append_and_compact(spark, tmp_path, aqe):
    """Every postings write — each appended batch and the compacted
    base — is term-clustered.  With AQE on a batch this small is one
    file; with AQE off it stays one file per hash bucket, so the
    one-term-one-file check has several files to compare.  A small
    ``parquet.block.size`` makes a batch span several row groups, whose
    ascending term ranges are what a pushed term filter prunes on."""
    import random

    from pipeline311_spark.ext.retrieval import bm25_index_compact, bm25_index_delete_batch

    rng = random.Random(7)
    words = [f"w{i:03d}" for i in range(300)]
    docs = _docs(spark, [(i, " ".join(rng.choices(words, k=20))) for i in range(400)])
    idx = str(tmp_path / "idx")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    hconf.setInt("parquet.block.size", 4096)
    try:
        bm25_index_append_batch(docs.filter("doc_id < 200"), 0, idx)
        bm25_index_append_batch(docs.filter("doc_id >= 200"), 1, idx)
        _assert_postings_term_clustered(idx)
        bm25_index_delete_batch(docs.filter("doc_id < 20"), 0, idx)
        bm25_index_compact(spark, idx)
        assert os.listdir(os.path.join(idx, "postings")) == ["batch_id=-1"]
        _assert_postings_term_clustered(idx)
    finally:
        hconf.unset("parquet.block.size")
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
