"""Unit tests for the extension operators (dedup, similarity, text,
multimodal) — semantic properties, not just row counts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from pipeline311_spark.ext.multimodal import (
    decode_image_features,
    documents_as_media,
    frame_sample,
    media_manifest,
)
from pipeline311_spark.ext.similarity import brute_force_topk
from pipeline311_spark.ext.textstats import (
    lang_pred_from_scores,
    lang_scores_on_tokens,
    quality_score,
    token_count,
    tokens,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near-dup of 0
    (2, "completely different content about spark shuffles and partition pruning"),
    (3, "The  Quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0 mod case/ws
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalizes_case_and_ws(docs):
    kept = exact_dedup(docs, "doc_id", "text")
    assert {r["doc_id"] for r in kept.collect()} == {0, 1, 2}  # 3 collapses into 0


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) in got and (0, 3) in got and (1, 3) in got
    assert not any(2 in p for p in got)


def test_minhash_identical_signatures(docs):
    sig = minhash_signatures(docs, "doc_id", "text", k=8, n=3)
    rows = {r["doc"]: tuple(r[f"mh{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[0] == rows[3]  # identical after normalization
    assert rows[0] != rows[2]


def test_minhash_dedup_pairs(docs):
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", k=8, bands=4, n=3, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 3)] == 1.0
    assert (0, 1) in got
    assert not any(2 in p for p in got)


def test_minhash_verify_plan_reads_gram_cache(docs):
    # the verify branch must read the persisted gram table
    # (InMemoryTableScan), never re-scan the source text
    def plan_of(df):
        spark = df.sparkSession
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )

    kw = dict(k=8, bands=4, n=3, threshold=0.5)
    plan = plan_of(minhash_dedup_pairs(docs, "doc_id", "text", **kw))
    # a string-negative check on source-scan text is impossible here:
    # InMemoryRelation nodes print their stored child plan
    assert "InMemoryTableScan" in plan


def test_minhash_unigram_signatures(docs):
    # n=1 must work through the generic gram fold (regression: the old
    # lead-window formulation special-cased it and once referenced a
    # nonexistent h0 column)
    sig = minhash_signatures(docs, "doc_id", "text", k=4, n=1)
    rows = {r["doc"]: tuple(r[f"mh{i}"] for i in range(4)) for r in sig.collect()}
    assert rows[0] == rows[3]  # same token set after normalization
    assert rows[0] != rows[2]


def test_lsh_hot_bucket_capped(spark):
    # 30 identical docs land in one bucket; max_bucket=10 must drop the
    # bucket before membership collection — zero pairs, no blowup.
    from pipeline311_spark.ext.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [(i, "same exact text repeated for every single document here") for i in range(30)]
        + [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
           (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(docs, "doc_id", "text", k=8, n=3)
    pairs = lsh_candidate_pairs(sig, k=8, bands=4, max_bucket=10).collect()
    flat = {d for r in pairs for d in (r["doc_a"], r["doc_b"])}
    assert not (flat & set(range(30)))  # hot bucket fully suppressed
    assert (100, 101) in {(r["doc_a"], r["doc_b"]) for r in pairs}  # small bucket survives


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [-1.0, 0.0, 0.0]),
    (4, [0.8, 0.2, 0.0]),
]


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_topk_ordering(vecs):
    q = vecs.filter("vec_id = 0")
    res = brute_force_topk(vecs, q, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert order == [1, 4, 2]  # by cosine to (1,0,0)
    assert res[0]["cos_sim"] <= 1.0 + 1e-12


def test_lsh_bucket_requires_dim_and_runs_no_job(spark, vecs):
    from pipeline311_spark.ext.similarity import lsh_bucket

    with pytest.raises(ValueError, match="dim is required"):
        lsh_bucket(vecs, "vec_id", "embedding", n_planes=4)
    # plan construction with dim given must not trigger a Spark job
    sc = spark.sparkContext
    sc.setJobGroup("lsh-plan-audit", "plan construction only")
    try:
        _plan = lsh_bucket(vecs, "vec_id", "embedding", n_planes=4, dim=3)
        jobs = sc.statusTracker().getJobIdsForGroup("lsh-plan-audit")
    finally:
        sc.setJobGroup("", "")
    assert list(jobs) == []


def test_lsh_partitioned_corpus_prunes_probe_reads(spark, sf_dir, tmp_path):
    """The ANN scale layout: corpus written partitionBy(bucket) must
    give partition-PRUNED probe reads — a literal bucket predicate
    lands in the scan's PartitionFilters (directory pruning), never a
    post-scan filter over all files.  Also guards the 'b' prefix:
    bit-string partition values survive read-back verbatim."""
    import io
    from contextlib import redirect_stdout

    from pipeline311_spark.ext.similarity import lsh_bucket

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = (
        lsh_bucket(e, "vec_id", "embedding", n_planes=4, seed=7, dim=64)
        .withColumn("pkey", F.concat(F.lit("b"), F.col("bucket")))
        .drop("bucket")
    )
    out = str(tmp_path / "annprune")
    cb.write.mode("overwrite").partitionBy("pkey").parquet(out)
    back = spark.read.parquet(out)

    # partition values survive verbatim (leading zeros intact)
    vals = {r["pkey"] for r in back.select("pkey").distinct().collect()}
    assert vals == {("b" + r["bucket"]) for r in
                    lsh_bucket(e, "vec_id", "embedding", n_planes=4, seed=7, dim=64)
                    .select("bucket").distinct().collect()}
    assert all(len(v) == 5 and v.startswith("b") for v in vals)

    probe = back.filter(F.col("pkey") == sorted(vals)[0])
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(pkey" in plan
    # the predicate must NOT degrade to a data Filter node after the scan
    assert "Filter (" not in plan


def test_ivf_partitioned_cells_prune_probe_reads(spark, sf_dir, tmp_path):
    """Same contract for the IVF store layout: cell assignment written
    partitionBy(cell) must give partition-pruned probe reads."""
    import io
    from contextlib import redirect_stdout

    from pipeline311_spark.ext.similarity import ivf_assign

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    cells = (
        ivf_assign(e, e.filter(F.col("vec_id") < 8))
        .withColumn("pkey", F.concat(F.lit("c"), F.col("centroid_id").cast("string")))
        .drop("centroid_id")
    )
    out = str(tmp_path / "ivfprune")
    cells.write.mode("overwrite").partitionBy("pkey").parquet(out)
    back = spark.read.parquet(out)
    probe = back.filter(F.col("pkey") == "c0")
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(pkey" in plan
    assert "Filter (" not in plan


def test_textstats_basics(docs):
    # language ID in the staged form text_lang_id runs: lowered tokens
    # once, then the per-language scores, then the argmax
    staged = docs.selectExpr(
        "doc_id", "text", f"transform({tokens('text')}, x -> lower(x)) AS __tl"
    )
    out = staged.selectExpr(
        f"{token_count('text')} AS n",
        f"{lang_pred_from_scores(lang_scores_on_tokens('__tl'))} AS lang",
        f"{quality_score('text')} AS q",
    ).collect()
    assert all(r["n"] > 5 for r in out)
    assert out[0]["lang"] == "en"  # 'the' markers
    assert all(0.0 <= r["q"] <= 1.0 for r in out)


def test_multimodal_manifest_and_decode(docs):
    media = documents_as_media(docs)
    man = {r["media_id"]: r for r in media_manifest(media).collect()}
    assert man[0]["byte_len"] == len(DOCS[0][1].encode())
    feats = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert feats[0]["byte_len"] == man[0]["byte_len"]
    assert len(feats[0]["features"]) == 8
    assert all(0 <= f <= 1 for f in feats[0]["features"])
    # deterministic: same payload -> same features
    again = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert feats[0]["features"] == again[0]["features"]


def test_frame_sample_shapes(docs):
    media = documents_as_media(docs)
    frames = frame_sample(media, every_bytes=16, max_frames=3).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["media_id"], []).append(r)
    assert all(len(v) <= 3 for v in by_doc.values())
    assert all(len(bytes(r["frame"])) <= 16 for r in frames)


def test_decode_real_codec_degrades_non_png_to_null_features(docs):
    """r6: fake=False is REAL now (stdlib PNG codec) — document text
    bytes are not PNGs, so every row degrades to NULL features while
    byte_len/sha survive (the quarantine contract; see
    tests/test_codecs.py for actual-PNG decoding)."""
    out = decode_image_features(documents_as_media(docs), fake=False).collect()
    assert len(out) == len(DOCS)
    assert all(r["features"] is None for r in out)
    assert all(r["byte_len"] >= 0 and len(r["sha256"]) == 64 for r in out)


def test_connected_components_clusters(spark):
    from pipeline311_spark.ext.cache import cache_scope
    from pipeline311_spark.ext.graph import connected_components, dup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    # cache_scope: release the final checkpoints deterministically —
    # a leaked checkpoint reaped ASYNCHRONOUSLY by the ContextCleaner
    # mid-count flakes the storage-accounting test below (r8)
    with cache_scope():
        cc = {r["node"]: r["component"] for r in connected_components(edges, "doc_a", "doc_b").collect()}
        keepers = {
            r["doc_id"] for r in dup_clusters(edges).filter("is_keeper").collect()
        }
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert keepers == {1, 10, 20}


def test_connected_components_long_chain_converges(spark):
    # adversarial worst case: a 40-node path graph (diameter 39) —
    # min-label propagation must still converge inside max_iter because
    # hash-to-min shortcuts via the min label spreading BOTH directions,
    # and the result is a single component rooted at node 0.
    from pipeline311_spark.ext.cache import cache_scope
    from pipeline311_spark.ext.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_a long, doc_b long"
    )
    with cache_scope():  # deterministic checkpoint release (see clusters test)
        cc = connected_components(edges, "doc_a", "doc_b", max_iter=50).collect()
    assert len(cc) == 40
    assert {r["component"] for r in cc} == {0}


def test_semantic_dedup_keep_rules(spark):
    from pipeline311_spark.ext.similarity import semantic_dedup_keep

    # two well-separated clusters; in-cluster ids 0/1/2 are near-identical
    # (drop 1 and 2, keep 0), id 3 is same-cluster but dissimilar (kept)
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),
            (2, [0.998, 0.02, 0.0]),
            (3, [0.6, 0.0, 0.8]),       # x-cluster, but far from 0/1/2
            (10, [0.0, 1.0, 0.0]),
            (11, [0.0, 0.999, 0.01]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    kept = {
        (r["vec_id"], r["centroid_id"])
        for r in semantic_dedup_keep(corpus, cents, threshold=0.95).collect()
    }
    assert kept == {(0, 100), (3, 100), (10, 200)}

    # oversized-cluster exemption: with max_cluster below the x-cluster
    # size, that cluster is kept WHOLE (no pruning), the other still prunes
    kept2 = {
        r["vec_id"]
        for r in semantic_dedup_keep(corpus, cents, threshold=0.95, max_cluster=3).collect()
    }
    assert kept2 == {0, 1, 2, 3, 10}


def test_degenerate_identical_corpus_star_pairs(spark):
    """The ultimate hot bucket: EVERY doc identical.  Since the r5
    content collapse, the fuzzy generators no longer drop these pairs
    (the r4 semantics ADVICE flagged: the strongest duplicates were
    exactly the ones silently lost) — the 500-member group exceeds
    max_group, so each op emits the 499 STAR pairs rep↔member: linear
    output, bounded work (one representative reaches banding), full
    connectivity for downstream clustering."""
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.dedup import (
        exact_dup_groups,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog tonight again").alias("text"),
    )
    groups = exact_dup_groups(d, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["n_docs"] == 500
    kw = dict(k=16, bands=4, n=5, threshold=0.2)
    mh = minhash_dedup_pairs(d, "doc_id", "text", **kw).collect()
    assert len(mh) == 499
    assert all(r["doc_a"] == 0 and r["jaccard"] == 1.0 for r in mh)
    assert {r["doc_b"] for r in mh} == set(range(1, 500))
    ng = ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.2, max_df=50).collect()
    assert len(ng) == 499 and all(r["doc_a"] == 0 and r["jaccard"] == 1.0 for r in ng)


def test_identical_group_clique_and_cross_recall(spark):
    """Content collapse semantics: a small identical group emits its
    full clique (J = 1), dup mass no longer saturates buckets (a
    near-dup pair of OTHER docs is still found next to 300 identical
    docs — the r4 gate dropped the whole bucket), and cross near-dup
    pairs expand to every member of each group."""
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.dedup import minhash_dedup_pairs

    # long text so band recall is ~certain (J = 34/36; one-token change)
    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word39", "changed")
    rows = [(i, base) for i in range(300)] + [(1000, near), (1001, "totally unrelated words "
            "about spark adaptive query execution and shuffle partition coalescing")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(
            d, "doc_id", "text", k=16, bands=4, n=5, threshold=0.2, max_group=400
        ).collect()
    }
    # clique: C(300, 2) identical pairs, all J=1
    ident = {p for p in pairs if p[0] < 300 and p[1] < 300}
    assert len(ident) == 300 * 299 // 2
    assert all(pairs[p] == 1.0 for p in ident)
    # cross recall: EVERY member pairs with the near-dup doc at the
    # same jaccard (expansion), despite 300 docs sharing the bucket
    cross = {p for p in pairs if p[1] == 1000}
    assert cross == {(i, 1000) for i in range(300)}
    assert len({round(pairs[p], 12) for p in cross}) == 1
    assert not any(1001 in p for p in pairs)


def test_cache_scope_releases_persisted_intermediates(spark):
    """cache_scope: after materializing a MinHash result inside the
    scope, exiting the scope unpersists every intermediate the operator
    family pinned (gram table, signature/group table, candidate set)."""
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.cache import cache_scope
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs

    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    # Track the scope's OWN handles, not global getPersistentRDDs()
    # deltas: the JVM ContextCleaner asynchronously releases earlier
    # tests' collected checkpoint RDDs at arbitrary points, so a
    # global count can DROP mid-test by more than this scope pins —
    # the count-delta form of this test flaked exactly that way in the
    # full suite (r8) once the registry grew more checkpoint-leaving
    # queries ahead of it.
    with cache_scope() as held:
        out = minhash_dedup_pairs(d, "doc_id", "text", k=8, bands=4, n=3)
        assert out.count() >= 1
        # intermediates pinned while in scope: the operator family
        # registered handles, and each tracked DataFrame is cached
        dfs = [h for h in held if hasattr(h, "storageLevel")]
        assert dfs, "operator registered no persisted intermediates"
        assert all(h.storageLevel.useMemory or h.storageLevel.useDisk for h in dfs)
    # scope exit released every tracked persist
    assert all(
        not (h.storageLevel.useMemory or h.storageLevel.useDisk) for h in dfs
    )


def test_connected_components_releases_round_checkpoints(spark):
    """r5: each propagation round's localCheckpoint is released once the
    next round is materialized — only the final labels stay pinned, and
    a cache_scope reclaims even that."""
    from pipeline311_spark.ext.cache import cache_scope, release_local_checkpoint
    from pipeline311_spark.ext.graph import connected_components

    # The JVM holds persisted RDDs by weak reference, so leftovers of
    # earlier tests can drop out at any GC: count only the RDDs this
    # test persists, by id.
    base = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    jvm_cached = lambda: len(set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - base)
    # a 6-node chain forces several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11)], "doc_a long, doc_b long"
    )
    cc = connected_components(edges, "doc_a", "doc_b")
    got = {r["node"]: r["component"] for r in cc.collect()}
    assert got == {**{i: 1 for i in range(1, 7)}, 10: 10, 11: 10}
    # intermediate rounds released in-loop: only the final labels remain
    assert jvm_cached() == 1
    release_local_checkpoint(cc)
    assert jvm_cached() == 0

    with cache_scope():
        n = connected_components(edges, "doc_a", "doc_b").count()
        assert n == 8
    assert jvm_cached() == 0  # scope reclaimed the final checkpoint


def test_jvm_memo_keyed_on_gateway(spark, monkeypatch):
    """ADVICE r4: memoized Column trees pin py4j handles; a relaunched
    gateway must be a cache MISS (fresh tree), not a dead handle."""
    from pyspark import SparkContext

    from pipeline311_spark.ext.hashing import jvm_memo

    calls = []

    @jvm_memo(maxsize=4)
    def build(tag):
        calls.append(tag)
        return object()

    a1 = build("x")
    a2 = build("x")
    assert a1 is a2 and calls == ["x"]  # memoized within one gateway

    class FakeSC:
        _gateway = object()  # a different gateway identity

    monkeypatch.setattr(SparkContext, "_active_spark_context", FakeSC())
    b1 = build("x")
    assert b1 is not a1 and calls == ["x", "x"]  # gateway change -> rebuild
    build.cache_clear()


def test_band_math_rejects_non_divisible(spark):
    """bands that don't divide k would silently produce zero-width
    band keys (one global bucket, size-gated to nothing) — the band
    builder must fail loudly instead."""
    import pytest as _pytest

    from pipeline311_spark.ext.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    sig = minhash_signatures(docs, "doc_id", "text", k=8, n=3)
    with _pytest.raises(ValueError, match="bands must divide k"):
        lsh_candidate_pairs(sig, k=8, bands=3)
    with _pytest.raises(ValueError, match="bands must divide k"):
        lsh_candidate_pairs(sig, k=8, bands=16)


def test_dedup_family_handles_null_and_empty_text(spark):
    """NULL, empty, and whitespace-only texts must neither crash nor
    pair: they have no grams (tokens() -> empty/NULL array), so every
    fuzzy operator drops them; exact dedup groups NULL-normalized
    variants by their md5 (NULL fingerprint rows are NULL-keyed and
    must not join each other into pairs)."""
    from pipeline311_spark.ext.dedup import (
        exact_dup_groups,
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   \t  "),
            (4, "alpha beta gamma delta epsilon"),
            (5, "alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    mh = minhash_dedup_pairs(docs, "doc_id", "text", k=8, bands=4, n=3, threshold=0.3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in mh} == {(4, 5)}
    nj = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in nj} == {(4, 5)}
    exact_dup_groups(docs, "doc_id", "text").collect()  # must not raise
    # and the fingerprints behind it: 4/5 collide, NULL text -> NULL fp
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.selectExpr(
            "doc_id", "md5(trim(regexp_replace(lower(text), '\\\\s+', ' '))) AS fp"
        ).collect()
    }
    assert fp[4] == fp[5] and fp[1] is None


def test_zero_vectors_never_crash_similarity(spark):
    """A zero embedding (failed encode / padding row) must not kill
    the job under ANSI DIVIDE_BY_ZERO: its cosine is NULL (undefined),
    so it ranks below every real neighbor and never pairs."""
    from pipeline311_spark.ext.similarity import (
        brute_force_topk,
        embedding_near_dup_pairs,
        semantic_dedup_keep,
    )

    rows = [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 3.0]), (3, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(9, [1.0, 1.0, 1.0])], "vec_id long, embedding array<double>")

    top = brute_force_topk(df, q, k=2).collect()
    assert sorted(r["neighbor_id"] for r in top) == [2, 3]  # zero vector outranked

    pairs = embedding_near_dup_pairs(df, threshold=0.9, n_planes=2, dim=3).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in pairs) == [(2, 3)]

    cents = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    kept = semantic_dedup_keep(df, cents, threshold=0.95).collect()
    assert {r["vec_id"] for r in kept} >= {1, 2}  # no crash; zero vec survives


def test_connected_components_raises_on_nonconvergence(spark):
    """r8: a component whose diameter exceeds max_iter must FAIL
    loudly, not silently return non-minimal labels (which would make
    downstream survivor sets silently diverge from the exact
    transitive closure)."""
    import pytest

    from pipeline311_spark.ext.graph import connected_components

    # a path graph 0-1-2-...-12: min-label needs ~diameter rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2).collect()
    # and with enough rounds the same graph converges to one component
    labels = connected_components(edges, max_iter=15).collect()
    assert {r["component"] for r in labels} == {0}
    assert len(labels) == 13


def test_connected_components_converging_exactly_at_max_iter(spark):
    """r8 review: convergence reached ON the last allowed round used to
    raise spuriously (a zero-change round is the only way the loop can
    OBSERVE convergence) — the verification pass must accept it."""
    import pytest

    from pipeline311_spark.ext.graph import connected_components

    # path 0-1-2: seeding gives [0,0,1]; exactly ONE round fixes node 2
    from pipeline311_spark.ext.cache import cache_scope

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with cache_scope():  # release the final checkpoint (storage hygiene)
        labels = {
            r["node"]: r["component"]
            for r in connected_components(edges, max_iter=1).collect()
        }
    assert labels == {0: 0, 1: 0, 2: 0}

    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)


def test_brute_force_topk_rejects_unknown_metric(spark):
    """r8 review: a typo'd metric must not silently rank by cosine."""
    import pytest

    from pipeline311_spark.ext.similarity import brute_force_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="unknown metric"):
        brute_force_topk(df, df, k=1, metric="l2")
