"""Stored IVF+PQ dense index (ext/ann_store.py, plans/ann_store_q.py)
— the properties the oracle twin can't see: incremental append ≡ fresh
build on the ARTIFACTS, static partition pruning of the serve read,
a rebuild replacing the whole codes log, the driver/executor fold
twins, and temp-store hygiene (the same checklist the BM25 store
family carries in tests/test_retrieval_store.py)."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.ann_store import (
    ann_adc_topk_from_store,
    ann_codes_append_batch,
    ann_codes_delete_batch,
    ann_index_build,
    load_ann_index,
    probe_cells_py,
    sqdist_py,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )


def test_incremental_append_equals_fresh_build_artifacts(spark, tmp_path):
    """Frozen-quantizer encode is a pure per-row function, so base
    build + batch append must be row-identical to a fresh full build —
    on the stored code rows themselves, not just the served top-k."""
    e = _emb(spark)
    is_batch = F.col("vec_id") % 5 == 2

    fresh_dir, incr_dir = str(tmp_path / "fresh"), str(tmp_path / "incr")
    ann_index_build(spark, e, fresh_dir, n_cells=8, pq_k=4)
    ann_index_build(spark, e.filter(~is_batch), incr_dir, n_cells=8, pq_k=4, seeds=e)
    ann_codes_append_batch(e.filter(is_batch), 1, incr_dir)

    fresh, incr = load_ann_index(spark, fresh_dir), load_ann_index(spark, incr_dir)
    assert sorted(map(tuple, incr.codes.collect())) == sorted(
        map(tuple, fresh.codes.collect())
    )
    assert sorted(map(tuple, incr.centroids.collect())) == sorted(
        map(tuple, fresh.centroids.collect())
    )
    assert sorted(map(tuple, incr.codebook.collect())) == sorted(
        map(tuple, fresh.codebook.collect())
    )


def test_rebuild_replaces_appended_batches_and_tombstones(spark, tmp_path):
    """A build REPLACES the store: the old codes log's appended
    batches, its tombstones and its fold markers must not survive a
    rebuild on the same dir — a stale batch-1 row would serve a vector
    the new corpus lacks, and a stale tombstone would mask a rebuilt
    id.  The rebuilt store must equal a build into a fresh dir."""
    e = _emb(spark)
    third = F.col("vec_id") % 3
    out, fresh_dir = str(tmp_path / "idx"), str(tmp_path / "fresh")
    ann_index_build(spark, e.filter(third == 0), out, n_cells=8, pq_k=4, seeds=e)
    ann_codes_append_batch(e.filter(third == 1), 1, out)
    ann_codes_delete_batch(
        e.filter((third == 0) & (F.col("vec_id") % 2 == 0)).select("vec_id"), 0, out
    )
    # drops every batch-1 vector, re-indexes every tombstoned one
    rebuilt = e.filter(third != 1)
    ann_index_build(spark, rebuilt, out, n_cells=8, pq_k=4, seeds=e)
    ann_index_build(spark, rebuilt, fresh_dir, n_cells=8, pq_k=4, seeds=e)

    def snap(df):
        return sorted(map(tuple, df.collect()))

    got = snap(load_ann_index(spark, out).codes)
    assert got == snap(load_ann_index(spark, fresh_dir).codes)
    assert {r[0] for r in got} == {r["vec_id"] for r in rebuilt.select("vec_id").collect()}
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    served = snap(ann_adc_topk_from_store(spark, out, qvecs, k=5, nprobe=2))
    assert served and served == snap(
        ann_adc_topk_from_store(spark, fresh_dir, qvecs, k=5, nprobe=2)
    )


def test_serve_read_is_partition_pruned_to_probed_cells(spark, tmp_path):
    """The scale contract of the store: the codes scan carries the
    probed cells as PartitionFilters (a directory-list read across
    every batch dir of the log), never a post-scan data filter."""
    import io
    from contextlib import redirect_stdout

    e = _emb(spark)
    out = str(tmp_path / "idx")
    is_batch = F.col("vec_id") % 5 == 2
    ann_index_build(spark, e.filter(~is_batch), out, n_cells=8, pq_k=4, seeds=e)
    ann_codes_append_batch(e.filter(is_batch), 1, out)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 2).collect()
    }
    served = ann_adc_topk_from_store(spark, out, qvecs, k=5, nprobe=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [pcell" in plan and " IN (c" in plan
    # the probed-cell restriction must reach the scan, and nothing else
    # may rescan the corpus: exactly ONE parquet scan.  Count the
    # per-scan 'Location:' detail entries, not the doubled tree+detail
    # 'Scan parquet' lines (ADVICE r9: the doubling is a formatting
    # artifact that an engine upgrade could change spuriously)
    assert plan.count("Location:") == 1
    assert served.count() > 0


def test_driver_probe_twin_matches_stored_assignment(spark, tmp_path):
    """A corpus member used as a query must probe ITS OWN cell first:
    the driver-side sqdist fold (probe_cells_py) and the executor-side
    fold (assign_cells) are the same left fold, so the top-1 probe cell
    equals the stored pcell for every head vector."""
    e = _emb(spark)
    out = str(tmp_path / "idx")
    ann_index_build(spark, e, out, n_cells=8, pq_k=4)
    index = load_ann_index(spark, out)
    cents = {r["cell"]: list(r["cv"]) for r in index.centroids.collect()}
    head = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 12).collect()
    }
    stored = {
        r["vec_id"]: r["pcell"]
        for r in index.codes.filter(F.col("vec_id") < 12).collect()
    }
    probes = probe_cells_py(head, cents, nprobe=1)
    assert stored and all(f"c{probes[i][0]}" == stored[i] for i in stored)
    # the fold twin really is the fold: zero distance to itself
    assert all(sqdist_py(v, v) == 0.0 for v in cents.values())


def test_empty_corpus_build_and_serve_keep_stable_schema(spark, tmp_path):
    e = _emb(spark).filter(F.lit(False))
    out = str(tmp_path / "idx")
    ann_index_build(spark, e, out, n_cells=8, pq_k=4)
    served = ann_adc_topk_from_store(spark, out, {}, k=5, nprobe=2)
    assert served.columns == ["query_id", "rank", "neighbor_id"]
    assert served.count() == 0


def test_store_queries_do_not_leak_tmp_dirs(spark):
    from pipeline311_spark.plans import REGISTRY

    pat = os.path.join(tempfile.gettempdir(), "p311_ivfpq*")
    before = set(glob.glob(pat))
    assert REGISTRY["sim_ivfpq_from_store"].fn(spark, SF).collect()
    after = set(glob.glob(pat))
    assert after == before, f"leaked temp dirs: {sorted(after - before)}"


def test_update_against_empty_quantizer_refuses(spark, tmp_path):
    """An empty-corpus build stores zero centroids; an append against
    it cannot encode anything and must refuse loudly instead of
    silently dropping the batch (review r9)."""
    e = _emb(spark)
    out = str(tmp_path / "idx")
    ann_index_build(spark, e.filter(F.lit(False)), out, n_cells=8, pq_k=4)
    with pytest.raises(ValueError, match="quantizer .* is empty"):
        ann_codes_append_batch(e.filter(F.col("vec_id") < 5), 1, out)


def test_codes_log_replay_idempotent_and_compacts_lossless(spark, tmp_path):
    """The streamed codes log (third delta-log instance): replayed
    micro-batches overwrite their own batch_id partition, compaction
    folds to batch_id=-1 without changing the folded view, and the
    streamed, compacted log serves exactly what a one-shot build
    serves."""
    from pipeline311_spark.ext.ann_store import (
        ann_codes_compact,
        ann_quantizer_build,
        load_ann_codes_log,
    )

    e = _emb(spark)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "idx")
    ann_quantizer_build(spark, v, idx, n_cells=8, pq_k=4)

    b0 = e.filter(F.col("vec_id") % 3 == 0)
    b1 = e.filter(F.col("vec_id") % 3 == 1)
    b2 = e.filter(F.col("vec_id") % 3 == 2)
    for i, b in enumerate((b0, b1, b2)):
        ann_codes_append_batch(b, i, idx)

    def snap():
        return sorted(map(tuple, load_ann_codes_log(spark, idx).collect()))

    before = snap()
    ann_codes_append_batch(b1, 1, idx)  # replay
    assert snap() == before

    ann_codes_compact(spark, idx)
    assert snap() == before
    bids = {
        r["batch_id"]
        for r in spark.read.parquet(os.path.join(idx, "codes"))
        .select("batch_id").distinct().collect()
    }
    assert bids == {-1}

    # streamed + compacted serve == one-shot build serve
    store = str(tmp_path / "store")
    ann_index_build(spark, e, store, n_cells=8, pq_k=4)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 3).collect()
    }
    got = sorted(
        map(tuple, ann_adc_topk_from_store(spark, idx, qvecs, k=5, nprobe=2).collect())
    )
    want = sorted(
        map(tuple, ann_adc_topk_from_store(spark, store, qvecs, k=5, nprobe=2).collect())
    )
    assert got == want and got


def test_pq_train_codebook_exact_means_and_empty_cluster_retention(spark):
    """Lloyd training with exact decimal means: centroids equal the
    per-cluster per-dim arithmetic mean of the assigned subvectors
    (computed in Python over the same assignment), clusters that win no
    vectors keep their previous entry, and two runs produce identical
    codebooks (the determinism requirement for a registry query)."""
    from pipeline311_spark.ext.ann_store import pq_train_codebook, sqdist_py

    # 8 tiny 4-dim vectors, m=2 subspaces of 2 dims, k=2 seeds
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [1.0, 1.0, 11.0, 11.0]),
        (2, [0.5, 0.5, 10.5, 10.5]),
        (3, [0.2, 0.1, 10.2, 10.1]),
        (4, [0.9, 0.8, 10.9, 10.8]),
    ]
    v = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = pq_train_codebook(v, pq_k=2, m=2, subdim=2)
    assert set(got) == {0, 1}

    # python twin of one Lloyd step over the same seed assignment
    seeds = {0: rows[0][1], 1: rows[1][1]}
    sums = {}
    for _, vec in rows:
        for j in range(2):
            sub = vec[2 * j : 2 * j + 2]
            cid = min(
                (sqdist_py(sub, seeds[c][2 * j : 2 * j + 2]), c) for c in seeds
            )[1]
            s, n = sums.get((j, cid), ([0.0, 0.0], 0))
            sums[(j, cid)] = ([s[0] + sub[0], s[1] + sub[1]], n + 1)
    want = {c: list(seeds[c]) for c in seeds}
    for (j, cid), (s, n) in sums.items():
        want[cid][2 * j] = s[0] / n
        want[cid][2 * j + 1] = s[1] / n
    for c in want:
        assert got[c] == pytest.approx(want[c], abs=1e-12)

    # empty cluster: a far-away seed that wins nothing keeps its value
    v2 = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [100.0, 100.0, 100.0, 100.0]), (2, [0.1, 0.1, 0.1, 0.1])],
        "vec_id long, v array<double>",
    )
    got2 = pq_train_codebook(v2, pq_k=2, m=2, subdim=2)
    # cluster 1 only wins itself; cluster 0 absorbs vec 0 and 2
    assert got2[1] == [100.0, 100.0, 100.0, 100.0]

    # determinism across invocations
    assert pq_train_codebook(v, pq_k=2, m=2, subdim=2) == got


def test_codes_log_crashed_swap_refusal_recovery_and_append_window(spark, tmp_path):
    """The codes log inherits the shared swap contract: mid-swap load
    refuses loudly, compaction recovers, and an append landing in the
    window recovers FIRST instead of orphaning the pre-crash log (the
    gram-log tests, dense edition)."""
    from pipeline311_spark.ext.ann_store import (
        ann_codes_append_batch,
        ann_codes_compact,
        ann_quantizer_build,
        load_ann_codes_log,
    )

    e = _emb(spark)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    idx = str(tmp_path / "idx")
    ann_quantizer_build(spark, v, idx, n_cells=8, pq_k=4)
    b0 = e.filter(F.col("vec_id") % 2 == 0)
    b1 = e.filter(F.col("vec_id") % 2 == 1)
    ann_codes_append_batch(b0, 0, idx)

    def snap():
        return sorted(map(tuple, load_ann_codes_log(spark, idx).collect()))

    before = snap()
    path = os.path.join(idx, "codes")
    os.rename(path, path + ".compact.old")  # the between-renames window
    with pytest.raises(RuntimeError, match="mid-compaction-swap"):
        load_ann_codes_log(spark, idx).collect()

    ann_codes_append_batch(b1, 1, idx)  # must recover, not orphan b0
    full = snap()
    assert sorted(r[0] for r in full) == sorted(
        r["vec_id"] for r in e.select("vec_id").collect()
    )
    assert before and set(map(tuple, before)) <= set(map(tuple, full))

    ann_codes_compact(spark, idx)
    assert snap() == full


def test_tiny_corpus_degrades_to_empty_serve_not_crash(spark, tmp_path):
    """A corpus smaller than n_cells + 1 cannot fill the disjoint
    codebook slice: the store keeps its centroids, stores ZERO codes,
    and serves zero rows — the documented degradation (ANN below
    |cells| vectors is meaningless; brute force is the tool), matching
    the twin's LIMIT/OFFSET semantics so hostile/tiny corpora stay
    parity-green (r10 hostile-gate regression).  Appends against such
    a store are zero-row no-ops, not errors."""
    e = _emb(spark).filter(F.col("vec_id") < 7)
    out = str(tmp_path / "idx")
    ann_index_build(spark, e, out, n_cells=8, pq_k=4)
    idx = load_ann_index(spark, out)
    assert idx.centroids.count() == 7 and idx.codebook.count() == 0
    assert idx.codes.count() == 0
    qv = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 2).collect()
    }
    assert ann_adc_topk_from_store(spark, out, qv, k=5, nprobe=2).count() == 0
    ann_codes_append_batch(_emb(spark).filter(F.col("vec_id") == 7), 1, out)
    assert load_ann_index(spark, out).codes.count() == 0
    ann_codes_append_batch(_emb(spark).filter(F.col("vec_id") == 8), 2, out)


def test_serve_query_cap_wins_over_empty_store(spark, tmp_path):
    """Adjudicated ADVICE r10: the SERVE_MAX_QUERIES refusal is a
    structural contract on the caller and fires even when the store is
    empty or quantizer-less — an over-cap query set is a caller bug
    that an accidentally-empty store must not mask with zero rows."""
    import pytest

    from pipeline311_spark.ext.ann_store import (
        SERVE_MAX_QUERIES,
        ann_adc_topk_from_store,
    )

    out = str(tmp_path / "idx")
    # a store built over an EMPTY corpus: artifacts exist, quantizer
    # and codes are empty — the zero-row short-circuit's home turf
    ann_index_build(spark, _emb(spark).filter(F.col("vec_id") < 0), out,
                    n_cells=8, pq_k=4)
    too_many = {i: [0.0] * 64 for i in range(SERVE_MAX_QUERIES + 1)}
    with pytest.raises(ValueError, match="bounded at"):
        ann_adc_topk_from_store(spark, out, too_many, k=5, nprobe=2)
    # an in-cap query set against the same empty store keeps the
    # zero-row contract
    few = {i: [0.0] * 64 for i in range(2)}
    assert ann_adc_topk_from_store(spark, out, few, k=5, nprobe=2).count() == 0
