"""Property-based tests (hypothesis): the vectorized cleaning kernel
must agree with a direct Python re-implementation of the reference
semantics (common.py:112-224) on arbitrary dirty input, and the MERGE
kernel must hold its algebraic properties on random tables."""

from __future__ import annotations

import re
import unicodedata

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pipeline311_spark.functions.cleaning import (
    district_number,
    parent_id,
    private_flag,
    text_field_guard,
)
from pipeline311_spark.functions.text import nfkd_ascii, strip_edge_chars
from pipeline311_spark.operators.merge import upsert

# --- Python oracles: literal transcriptions of the reference semantics ---


def py_district(v):
    try:
        match = re.findall(r"\d+", v)
        out = int(match[0]) if match else None
    except Exception:
        return None
    if out and out > 100:
        return None
    return out


def py_parent(v):
    try:
        return int(v) if v != 0 and v != "0" else None
    except Exception:
        return None


def py_private(v):
    return 0 if v in [False, "false"] else 1


def py_guard(v):
    return (v or "")[:2000]


def py_clean(v):
    if v is None:
        return None
    s = v.strip("<>'")
    return unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode()


dirty_strings = st.one_of(
    st.none(),
    st.text(max_size=30),
    st.text(alphabet="0123456789-PPD.district<>'é🚧 ", max_size=30),
    st.sampled_from(["0", "false", "true", "911", "22nd", "1e3", "12.5", " 7 ", "<x>"]),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(dirty_strings, min_size=1, max_size=40))
def test_scalar_kernels_match_reference_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = df.select(
        district_number("v").alias("d"),
        parent_id("v").alias("p"),
        private_flag("v").alias("f"),
        text_field_guard("v").alias("g"),
        nfkd_ascii(strip_edge_chars(F.col("v"))).alias("c"),
    ).collect()
    for v, row in zip(values, got):
        assert row["d"] == py_district(v), (v, row["d"], py_district(v))
        # int() parses python-specific forms like '1_0'; try_cast is the
        # declared engine behavior — compare where python accepts plain ints
        if v is None or not re.fullmatch(r"\s*[+-]?\d+\s*", v or ""):
            assert row["p"] == py_parent(v) or py_parent(v) is None
        else:
            # int() and try_cast both tolerate surrounding whitespace, so
            # the raw value goes straight through (the '0'-vs-'00' raw
            # string check is part of the semantics under test)
            assert row["p"] == py_parent(v)
        assert row["f"] == py_private(v)
        assert row["g"] == py_guard(v)
        assert row["c"] == py_clean(v)


def test_int_kernels_match_python_beside_every_code_point(spark):
    """``int()`` and ``re``'s ``\\d`` read every Unicode decimal digit
    and ``int()`` strips Unicode whitespace: '7' before, after and
    without each of U+0000..U+3000, plus digits beyond the JVM's Unicode
    tables (Tangsa U+16AC3, Unicode 14), the SMP's mathematical and
    segmented digits, and a district run too long for a long."""
    cps = [*range(0x3001), 0x16AC3, 0x1D7D5, 0x1FBF7]
    values = [v for cp in cps for v in (chr(cp) + "7", "7" + chr(cp), chr(cp))]
    values += ["9" * 25 + "x", "　٣ ", "٣7x", "+٣", "٠"]
    got = (
        spark.createDataFrame([(v,) for v in values], "v string")
        .select("v", district_number("v").alias("d"), parent_id("v").alias("p"))
        .collect()
    )
    bad = [
        (r["v"], r["d"], r["p"])
        for r in got
        if r["d"] != py_district(r["v"]) or r["p"] != py_parent(r["v"])
    ]
    assert len(got) == len(values) and not bad, bad[:10]


keys = st.integers(min_value=0, max_value=8)
versions = st.integers(min_value=0, max_value=5)
tables = st.lists(st.tuples(keys, versions), min_size=0, max_size=15)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(tables, tables)
def test_upsert_algebra(spark, t_rows, u_rows):
    import datetime as dt

    def mk(rows, tag):
        data = [
            (k, f"{tag}{i}", dt.datetime(2024, 1, 1 + ver)) for i, (k, ver) in enumerate(rows)
        ]
        df = spark.createDataFrame(data, "pk long, val string, updated_datetime timestamp")
        # upsert requires unique keys per side (tables, not logs)
        from pipeline311_spark.operators.merge import latest_per_key

        return latest_per_key(df, "pk", "updated_datetime", tiebreak="val")

    target, updates = mk(t_rows, "t"), mk(u_rows, "u")
    merged = upsert(target, updates, "pk", "updated_datetime")
    out = {r["pk"]: (r["val"], r["updated_datetime"]) for r in merged.collect()}

    t = {r["pk"]: (r["val"], r["updated_datetime"]) for r in target.collect()}
    u = {r["pk"]: (r["val"], r["updated_datetime"]) for r in updates.collect()}

    # key set is the union
    assert set(out) == set(t) | set(u)
    for k, (val, ts) in out.items():
        if k in t and k in u:
            # newer version wins; exact tie -> update wins
            expect = u[k] if u[k][1] >= t[k][1] else t[k]
            assert (val, ts) == expect
        else:
            assert (val, ts) == (t.get(k) or u.get(k))

    # idempotence: re-applying the same updates changes nothing
    again = upsert(merged, updates, "pk", "updated_datetime")
    assert {r["pk"]: (r["val"], r["updated_datetime"]) for r in again.collect()} == out


# --- incremental MinHash contract on random corpora ---

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_minhash_incremental_contract_random(spark, docs):
    """For ANY corpus split into existing/new halves, the incremental
    run must equal the full run filtered to pairs with a new member."""
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs, minhash_incremental_pairs

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(k=8, bands=4, n=3, threshold=0.3)
    full = minhash_dedup_pairs(df, "doc_id", "text", **kw).collect()
    inc = minhash_incremental_pairs(
        df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1"), "doc_id", "text", **kw
    ).collect()
    want = sorted(tuple(r) for r in full if r["doc_a"] % 2 == 1 or r["doc_b"] % 2 == 1)
    assert sorted(tuple(r) for r in inc) == want


# --- brute-force ground truth for the fuzzy dedup family (r5 collapse) ---


def _py_gram_sets(docs, n):
    """Python re-implementation of the engine's gram extraction:
    lowercase, collapse whitespace, whitespace-tokenize, word n-grams
    as tuples (docs with < n tokens have NO grams and never pair)."""
    import re as _re

    out = {}
    for doc_id, text in docs:
        toks = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        toks = [t for t in toks if t]
        out[doc_id] = {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return out


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=10).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    picks=st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=12),
)
def test_minhash_pairs_sound_and_ident_complete(spark, base, picks):
    """Independent (non-oracle) ground truth: every pair minhash LSH
    reports must have EXACTLY the brute-force Jaccard (and be over
    threshold), with no duplicate pairs — and every pair of docs with
    identical gram sets MUST be reported with jaccard 1.0 (the r5
    content-collapse contract: identical docs are never dropped by
    bucket caps).  LSH recall on non-identical pairs is probabilistic,
    so only soundness is asserted there."""
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs

    docs = [(i, base[p % len(base)]) for i, p in enumerate(picks)]
    truth = _py_gram_sets(docs, n=3)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = minhash_dedup_pairs(df, "doc_id", "text", k=8, bands=4, n=3, threshold=0.3).collect()

    seen = set()
    for r in got:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        assert a < b and (a, b) not in seen
        seen.add((a, b))
        sa, sb = truth[a], truth[b]
        want = len(sa & sb) / len(sa | sb)
        assert abs(j - want) < 1e-9 and want >= 0.3

    for i, (a, ta) in enumerate(docs):
        for b, tb in docs[i + 1 :]:
            if truth[a] and truth[a] == truth[b]:
                lo, hi = min(a, b), max(a, b)
                assert (lo, hi) in seen, f"identical pair {(lo, hi)} missing"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=10).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    picks=st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=12),
)
def test_simhash_pairs_sound_and_ident_complete(spark, base, picks):
    """Same independent contract for SimHash: reported hamming must be
    the true popcount of the XOR of the docs' signatures (read back
    from the signature table), every identical-signature pair must be
    present (hamming 0 — the collapse guarantee), no duplicates."""
    from pipeline311_spark.ext.dedup import simhash, simhash_near_pairs

    docs = [(i, base[p % len(base)]) for i, p in enumerate(picks)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = simhash(df, "doc_id", "text")
    sigs = {r["doc"]: r["simhash"] for r in sig.collect()}
    got = simhash_near_pairs(sig, max_hamming=3).collect()

    seen = set()
    for r in got:
        a, b = r["doc_a"], r["doc_b"]
        assert a < b and (a, b) not in seen
        seen.add((a, b))
        assert r["sig_a"] == sigs[a] and r["sig_b"] == sigs[b]
        true_h = bin(sigs[a] ^ sigs[b]).count("1")
        assert r["hamming"] == true_h and true_h <= 3

    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if sigs[a] == sigs[b]:
                assert (a, b) in seen, f"identical-signature pair {(a, b)} missing"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=10).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    picks=st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=12),
)
def test_ngram_jaccard_pairs_equal_brute_force(spark, base, picks):
    """The n-gram path is EXHAUSTIVE when every gram's doc frequency is
    under max_df (always true for these tiny corpora): any pair with
    Jaccard > 0 shares a gram and becomes a candidate.  So unlike LSH,
    full bidirectional equality with the brute-force pair set holds —
    same pairs, same exact Jaccard values."""
    from pipeline311_spark.ext.dedup import ngram_jaccard_pairs

    docs = [(i, base[p % len(base)]) for i, p in enumerate(picks)]
    truth = _py_gram_sets(docs, n=3)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3).collect()
    }
    want = {}
    ids = [d for d, _ in docs]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = truth[a], truth[b]
            if sa and sb and sa | sb:
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.3:
                    want[(min(a, b), max(a, b))] = j
    assert set(got) == set(want)
    for p, j in got.items():
        assert abs(j - want[p]) < 1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_equal_union_find(spark, edges):
    """Exact equality with a Python union-find on random graphs
    (self-loops, duplicate and reversed edges included): every node in
    the edge list labeled with the MIN reachable node id."""
    from pipeline311_spark.ext.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_base=st.integers(min_value=1, max_value=5),
    picks=st.lists(st.integers(min_value=0, max_value=4), min_size=2, max_size=10),
)
def test_embedding_near_dup_sound_and_ident_complete(spark, seed, n_base, picks):
    """Independent cosine ground truth for the embedding near-dup path:
    every reported pair's Python-computed cosine matches and clears the
    threshold; every pair of byte-identical vectors is reported (the
    collapse guarantee); no duplicate pairs.  Cross-bucket recall is
    probabilistic and not asserted."""
    import math
    import random

    from pipeline311_spark.ext.similarity import embedding_near_dup_pairs

    rng = random.Random(seed)
    bases = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(n_base)]
    rows = [(i, bases[p % n_base]) for i, p in enumerate(picks)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(df, threshold=0.95, n_planes=4, dim=6).collect()
    vecs = dict(rows)

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v)))

    seen = set()
    for r in got:
        a, b = r["id_a"], r["id_b"]
        assert a < b and (a, b) not in seen
        seen.add((a, b))
        want = cos(vecs[a], vecs[b])
        assert abs(r["cos_sim"] - want) < 1e-6 and want >= 0.95 - 1e-6
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if vecs[a] == vecs[b]:
                assert (a, b) in seen, f"identical-vector pair {(a, b)} missing"


def _py_cos(u, v):
    import math

    d = 0.0
    for a, b in zip(u, v):
        d += a * b
    nu = 0.0
    for a in u:
        nu += a * a
    nv = 0.0
    for b in v:
        nv += b * b
    return d / (math.sqrt(nu) * math.sqrt(nv))


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    picks=st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=12),
    max_cluster=st.sampled_from([3, 10_000]),
)
def test_semantic_dedup_keep_equals_python(spark, seed, picks, max_cluster):
    """Exact Python re-implementation of the SemDeDup keep rule:
    nearest-centroid assignment (max cosine, centroid-id tie-break,
    left-to-right float folds match the engine's), drop any doc with a
    lower-id >=threshold neighbor in its cluster, exempt oversized
    clusters.  Both the kept id set and the assigned centroids must
    match bit-exactly."""
    import random

    from pipeline311_spark.ext.similarity import semantic_dedup_keep

    rng = random.Random(seed)
    bases = [[rng.uniform(-1, 1) for _ in range(5)] for _ in range(6)]
    rows = [(i, bases[p % 6]) for i, p in enumerate(picks)]
    cents = [(j, [rng.uniform(-1, 1) for _ in range(5)]) for j in range(3)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(cents, "vec_id long, embedding array<double>")
    got = {
        (r["vec_id"], r["centroid_id"])
        for r in semantic_dedup_keep(
            corpus, cdf, threshold=0.9, max_cluster=max_cluster
        ).collect()
    }

    assign = {
        i: max(cents, key=lambda c: (_py_cos(v, c[1]), -c[0]))[0] for i, v in rows
    }
    clusters = {}
    for i, _ in rows:
        clusters.setdefault(assign[i], []).append(i)
    want = set()
    vecs = dict(rows)
    for cid, members in clusters.items():
        if len(members) > max_cluster:
            want.update((i, cid) for i in members)
            continue
        for i in members:
            dropped = any(
                j < i and _py_cos(vecs[j], vecs[i]) >= 0.9 for j in members
            )
            if not dropped:
                want.add((i, cid))
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_pts=st.integers(min_value=2, max_value=12),
)
def test_kmeans_iterate_equals_python(spark, seed, n_pts):
    """Exact Python Lloyd's: per-round nearest centroid by squared
    distance (left-to-right fold, centroid-id tie-break), centroid
    update as exact HALF_UP-6-decimal sums over members followed by one
    double division (the engine's cross-engine determinism recipe), a
    memberless cluster drops out.  Final assignment must match."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pipeline311_spark.ext.similarity import kmeans_iterate

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-10, 10) for _ in range(3)]) for i in range(n_pts)]
    cents = [(j, [rng.uniform(-10, 10) for _ in range(3)]) for j in range(3)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(
        cents, "centroid_id long, cv array<double>"
    )
    got = {r["vec_id"]: r["centroid_id"] for r in kmeans_iterate(corpus, cdf, rounds=2).collect()}

    def sq(u, v):
        acc = 0.0
        for a, b in zip(u, v):
            acc += (a - b) * (a - b)
        return acc

    cur = {j: list(cv) for j, cv in cents}
    assign = {}
    for _ in range(2):
        assign = {
            i: min(cur, key=lambda j: (sq(v, cur[j]), j)) for i, v in rows
        }
        members = {}
        for i, v in rows:
            members.setdefault(assign[i], []).append(v)
        cur = {
            j: [
                float(
                    sum(
                        Decimal(repr(v[d])).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                        for v in vs
                    )
                )
                / len(vs)
                for d in range(3)
            ]
            for j, vs in members.items()
        }
    assert got == assign


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),  # key
                st.integers(min_value=0, max_value=4),  # version
                st.integers(min_value=0, max_value=1),  # partition bucket
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    partitioned=st.booleans(),
)
def test_merge_backend_roundtrip_equals_python_fold(spark, tmp_path_factory, batches, partitioned):
    """Random multi-batch MERGE sequences through the parquet backend
    (both the partitioned dynamic-overwrite path and the unpartitioned
    rewrite) must leave the warehouse equal to a Python dict fold with
    updates-win-on-tie semantics — the write path itself under test,
    not just the window kernel."""
    import datetime as dt

    from pipeline311_spark.operators.merge_backends import upsert_into

    path = str(tmp_path_factory.mktemp("wh") / "t")
    state: dict = {}
    for bi, batch in enumerate(batches):
        # unique keys per batch (tables, not logs): keep highest version,
        # later row wins ties — mirror with a fold in batch order
        per_key: dict = {}
        for k, ver, b in batch:
            if k not in per_key or ver >= per_key[k][0]:
                per_key[k] = (ver, b)
        rows = [
            (k, dt.datetime(2024, 1, 1 + ver), b, f"b{bi}")
            for k, (ver, b) in per_key.items()
        ]
        df = spark.createDataFrame(
            rows, "pk long, version timestamp, bucket int, payload string"
        )
        upsert_into(
            spark, path, df, "pk", "version",
            partition_col="bucket" if partitioned else None,
        )
        for k, (ver, b) in per_key.items():
            if k not in state or ver >= state[k][0]:
                state[k] = (ver, b, f"b{bi}")
    import os

    if not state and not os.path.isdir(path):
        return  # all-empty sequence: warehouse creation legitimately deferred
    got = {
        r["pk"]: (r["version"].day - 1, r["bucket"], r["payload"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == state


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=40).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    size=st.integers(min_value=1, max_value=8),
    stride=st.integers(min_value=1, max_value=8),
)
def test_chunk_token_windows_equals_python(spark, docs, size, stride):
    """Window boundary ground truth: chunks start every `stride`
    tokens, span up to `size`, the trailing chunk may be short,
    zero-token docs emit nothing — against a direct Python slicer for
    arbitrary size/stride combinations (including stride > size gaps
    and stride < size overlaps)."""
    from pipeline311_spark.ext.textstats import chunk_token_windows

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_token_windows(df, "doc_id", "text", size=size, stride=stride).collect()
    }
    want = {}
    for doc_id, text in rows:
        toks = [t for t in text.strip().split(" ") if t]
        for ci, start in enumerate(range(0, len(toks), stride)):
            chunk = toks[start : start + size]
            want[(doc_id, ci)] = (len(chunk), " ".join(chunk))
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=65535), st.integers(min_value=0, max_value=65535)),
        min_size=1,
        max_size=20,
    )
)
def test_zorder_key_equals_python_interleave(spark, pts):
    """Morton code ground truth: bit i of x at position 2i, bit i of y
    at 2i+1, over the full 16-bit range."""
    from pipeline311_spark.operators.layout import zorder_key

    df = spark.createDataFrame(pts, "x long, y long")
    got = [r["z"] for r in df.select(zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [morton(x, y) for x, y in pts]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS[:4]), min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_metrics_equal_python(spark, docs):
    """Gopher-family fraction ground truth on a small alphabet (forces
    heavy repetition): top-token / top-bigram fractions and the
    duplicate-trigram occurrence fraction against direct Python
    counters, NULL where a doc is too short for the n-gram order."""
    from collections import Counter

    from pipeline311_spark.ext.textstats import repetition_metrics

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["top_token_frac"], r["top_bigram_frac"], r["dup_trigram_frac"]
        )
        for r in repetition_metrics(df, "doc_id", "text").collect()
    }

    want = {}
    for doc_id, text in rows:
        toks = [t for t in text.strip().split(" ") if t]
        if not toks:
            continue  # zero grams at every order: no output row
        per = {}
        for n in (1, 2, 3):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if grams:
                c = Counter(grams)
                per[n] = (
                    len(grams),
                    max(c.values()),
                    sum(v for v in c.values() if v > 1),
                )
        n_tok = per[1][0]
        want[doc_id] = (
            n_tok,
            per[1][1] / per[1][0],
            per[2][1] / per[2][0] if 2 in per else None,
            per[3][2] / per[3][0] if 3 in per else None,
        )
    assert set(got) == set(want)
    for k in want:
        gn, gt, gb, gd = got[k]
        wn, wt, wb, wd = want[k]
        assert gn == wn
        for g, w in ((gt, wt), (gb, wb), (gd, wd)):
            assert (g is None) == (w is None)
            if w is not None:
                assert abs(g - w) < 1e-12


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40, unique=True),
    pct=st.integers(min_value=0, max_value=100),
    cap=st.integers(min_value=1, max_value=4),
)
def test_sampling_family_equals_python_md5(spark, ids, pct, cap):
    """The hash-based sampling/split/cap family is EXACTLY replicable
    in Python (portable hash = int(md5[:15], 16) mod p — pure integer
    math, no float hazards): sample membership, split assignment, and
    the per-key cap's kept set must all match hashlib ground truth."""
    import hashlib

    from pipeline311_spark.ext.sampling import (
        cap_per_key,
        deterministic_sample,
        train_test_split,
    )

    MOD = 1_000_000_007

    def h(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16) % MOD

    def bucket(s):
        return h(s) % 100

    rows = [(i, i % 3) for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, src int")

    got_sample = {r["doc_id"] for r in deterministic_sample(df, "doc_id", pct).collect()}
    assert got_sample == {i for i in ids if bucket(i) < pct}

    got_split = {r["doc_id"]: r["split"] for r in train_test_split(df, "doc_id").collect()}
    want_split = {
        i: ("train" if bucket(i) < 80 else "val" if bucket(i) < 90 else "test") for i in ids
    }
    assert got_split == want_split

    got_cap = {r["doc_id"] for r in cap_per_key(df, "src", "doc_id", cap).collect()}
    want_cap = set()
    by_key = {}
    for i, s in rows:
        by_key.setdefault(s, []).append(i)
    for s, members in by_key.items():
        members.sort(key=lambda i: (h(i), i))
        want_cap.update(members[:cap])
    assert got_cap == want_cap


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=10**5),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    )
)
def test_weighted_sampling_kernels_equal_python_md5(spark, rows):
    """The temperature-mixing and weight-Bernoulli keep predicates are
    EXACTLY replicable in Python integers (u30²·n_s < n_min·2^60 and
    u60·max_w < w·2^60 on the salted md5 hash — no floats anywhere),
    including the w=0 / max_w=0 degenerate corners."""
    import hashlib

    from pyspark.sql import functions as F

    from pipeline311_spark.ext.sampling import temperature_keep, weight_bernoulli_keep

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    df = spark.createDataFrame(rows, "doc_id long, src int, w long")

    counts = {}
    for i, s, w in rows:
        counts[s] = counts.get(s, 0) + 1
    n_min = min(counts.values())
    want_temp = {
        i
        for i, s, w in rows
        if (h60(f"t:{i}") >> 30) ** 2 * counts[s] < n_min << 60
    }
    cdf = df.groupBy("src").agg(F.count("*").alias("n"))
    lim = cdf.crossJoin(F.broadcast(cdf.agg(F.min("n").alias("n_min"))))
    got_temp = {
        r["doc_id"]
        for r in df.join(F.broadcast(lim), "src")
        .filter(temperature_keep("doc_id", "n", "n_min"))
        .collect()
    }
    assert got_temp == want_temp

    max_w = max(w for _, _, w in rows)
    want_bern = {i for i, s, w in rows if h60(f"w:{i}") * max_w < w << 60}
    mx = df.agg(F.max("w").alias("max_w"))
    got_bern = {
        r["doc_id"]
        for r in df.crossJoin(F.broadcast(mx))
        .filter(weight_bernoulli_keep("doc_id", "w", "max_w"))
        .collect()
    }
    assert got_bern == want_bern


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    budget=st.integers(min_value=0, max_value=120),
)
def test_token_budget_fill_is_prefix_of_hash_permutation(spark, rows, budget):
    """The quota fill keeps exactly the docs whose INCLUSIVE running
    token sum (per source, in (md5-hash, id) order) fits the budget —
    replicated in pure Python, including zero-token docs (free — they
    never consume budget) and a first doc already over budget (its
    whole source yields nothing)."""
    import hashlib

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.hashing import portable_hash

    MOD = 1_000_000_007

    def h(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16) % MOD

    df = spark.createDataFrame(rows, "doc_id long, src int, n_tok long")
    w = (
        Window.partitionBy("src")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["doc_id"]
        for r in df.withColumn("hk", portable_hash(F.col("doc_id").cast("string")))
        .withColumn("cum", F.sum("n_tok").over(w))
        .filter(F.col("cum") <= budget)
        .collect()
    }
    want = set()
    by_src = {}
    for i, s, n in rows:
        by_src.setdefault(s, []).append((i, n))
    for s, members in by_src.items():
        members.sort(key=lambda m: (h(m[0]), m[0]))
        cum = 0
        for i, n in members:
            cum += n
            if cum <= budget:
                want.add(i)
    assert got == want

    # the two-phase decomposition (range buckets + offsets + parallel
    # within-bucket sums) must select the IDENTICAL set — including with
    # a bucket count that forces many near-empty buckets
    from pipeline311_spark.ext.sampling import token_budget_fill_two_phase

    for nb in (1, 3, 16):
        got2 = {
            r["doc_id"]
            for r in token_budget_fill_two_phase(
                df, "src", "doc_id", "n_tok", budget, n_buckets=nb
            ).collect()
        }
        assert got2 == want, f"n_buckets={nb}"


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # id (dups+nulls)
            st.one_of(st.none(), st.integers(min_value=-10, max_value=120)),  # v
        ),
        min_size=1,
        max_size=20,
    )
)
def test_expectations_kernel_equals_python(spark, rows):
    """The one-pass expectation evaluator against brute-force Python:
    NULL predicate results are failures, unique counts exclude NULLs,
    and the pass verdict is the exact integer threshold test."""
    from pipeline311_spark.ext.expectations import (
        evaluate_expectations,
        in_range,
        not_null,
        unique,
    )

    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["rule"]: (r["n_ok"], r["n_total"], r["passed"])
        for r in evaluate_expectations(
            df, [not_null("v", 3, 4), in_range("v", 0, 100), unique("k")]
        ).collect()
    }
    n = len(rows)
    ok_nn = sum(1 for _, v in rows if v is not None)
    ok_rng = sum(1 for _, v in rows if v is not None and 0 <= v <= 100)
    ks = [k for k, _ in rows if k is not None]
    want = {
        "not_null:v": (ok_nn, n, int(ok_nn * 4 >= 3 * n)),
        "in_range:v": (ok_rng, n, int(ok_rng * 1 >= 1 * n)),
        "unique:k": (len(set(ks)), len(ks), int(len(set(ks)) >= len(ks))),
    }
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=25,
    )
)
def test_sorted_neighborhood_equals_python(spark, texts):
    """Blocked sorted-neighborhood dedup against brute-force Python:
    same normalization, same (block, key, id) order, same w−1-lead
    candidate window, same exact token-set Jaccard and threshold."""
    import os
    import re
    import tempfile

    from pipeline311_spark.plans.analytics17 import (
        _SNM_KEYLEN,
        _SNM_THRESHOLD,
        _SNM_W,
        dedup_sorted_neighborhood,
    )

    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup_sorted_neighborhood(df.sparkSession, tmp).collect()
        }

    keyed = []
    for i, t in enumerate(texts):
        nt = re.sub(r"\s+", " ", t.lower()).strip()
        if nt == "":
            continue
        keyed.append((nt[:1], nt[:_SNM_KEYLEN], i, set(nt.split(" "))))
    want = {}
    by_block: dict = {}
    for block, nk, i, tk in keyed:
        by_block.setdefault(block, []).append((nk, i, tk))
    for block, members in by_block.items():
        members.sort(key=lambda m: (m[0], m[1]))
        for p in range(len(members)):
            for q in range(p + 1, min(p + _SNM_W, len(members))):
                _, ia, ta = members[p]
                _, ib, tb = members[q]
                inter = len(ta & tb)
                jac = inter / (len(ta) + len(tb) - inter)
                if jac >= _SNM_THRESHOLD:
                    want[(min(ia, ib), max(ia, ib))] = jac
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12

    # multi-pass variant: forward-key ∪ reversed-key candidate windows,
    # deduped pairs, same verify
    from pipeline311_spark.plans.analytics17 import dedup_snm_multipass

    with tempfile.TemporaryDirectory() as tmp2:
        df.write.parquet(os.path.join(tmp2, "documents.parquet"))
        got_mp = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup_snm_multipass(df.sparkSession, tmp2).collect()
        }
    want_mp = {}
    for key_of in (lambda nt: nt[:_SNM_KEYLEN], lambda nt: nt[::-1][:_SNM_KEYLEN]):
        by_block: dict = {}
        for i, t in enumerate(texts):
            nt = re.sub(r"\s+", " ", t.lower()).strip()
            if nt == "":
                continue
            k = key_of(nt)
            by_block.setdefault(k[:1], []).append((k, i, set(nt.split(" "))))
        for block, members in by_block.items():
            members.sort(key=lambda m: (m[0], m[1]))
            for p in range(len(members)):
                for q in range(p + 1, min(p + _SNM_W, len(members))):
                    _, ia, ta = members[p]
                    _, ib, tb = members[q]
                    inter = len(ta & tb)
                    jac = inter / (len(ta) + len(tb) - inter)
                    if jac >= _SNM_THRESHOLD:
                        want_mp[(min(ia, ib), max(ia, ib))] = jac
    assert set(got_mp) == set(want_mp)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),  # user
            st.integers(min_value=0, max_value=40),  # day offset from epoch
        ),
        min_size=1,
        max_size=60,
    )
)
def test_retention_and_wau_equal_python(spark, events):
    """Cohort retention and sliding-window WAU against brute-force
    Python over random (user, day) activity — catches a mirrored-wrong
    week/window convention that engine-vs-oracle parity cannot."""
    import datetime

    from pyspark.sql import functions as F

    epoch = datetime.datetime(2024, 1, 1)  # a Monday
    rows = [
        (u, epoch + datetime.timedelta(days=d, hours=(u + d) % 24))
        for u, d in events
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    # --- retention ground truth ---
    def week(ts):
        d = ts.date()
        return d - datetime.timedelta(days=d.weekday())

    user_weeks = {}
    for u, ts in rows:
        user_weeks.setdefault(u, set()).add(week(ts))
    want_ret: dict = {}
    for u, wks in user_weeks.items():
        cw = min(wks)
        for wk in wks:
            key = (cw.isoformat(), (wk - cw).days // 7)
            want_ret[key] = want_ret.get(key, 0) + 1

    uw = df.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    got_ret = {
        (r["cohort_week"], r["weeks_since"]): r["n_active"]
        for r in uw.join(cohort, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(wk, cw) div 7").cast("long").alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .collect()
    }
    assert got_ret == want_ret

    # --- WAU ground truth ---
    active = {}
    for u, ts in rows:
        active.setdefault(ts.date(), set()).add(u)
    want_wau = {
        d.isoformat(): len(
            {
                u
                for back in range(7)
                for u in active.get(d - datetime.timedelta(days=back), ())
            }
        )
        for d in active
    }
    du = df.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    spread = du.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.expr("day + interval 6 day"), F.expr("interval 1 day")
            )
        ).alias("window_end"),
    )
    got_wau = {
        r["day"]: r["wau"]
        for r in spread.join(
            du.select("day").distinct(),
            spread["window_end"] == F.col("day"),
            "left_semi",
        )
        .groupBy(F.date_format("window_end", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .collect()
    }
    assert got_wau == want_wau


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abcdef ", min_size=0, max_size=30),
        min_size=1,
        max_size=25,
    )
)
def test_sketch_kernels_equal_python_md5(spark, texts):
    """HLL register state + estimate and the Count-Min grid + probe are
    EXACT integer constructions on the md5 portable hash — replicate
    both sketches in pure Python (hashlib + ints) and require identical
    registers, checksums, estimates, counters, and probe answers."""
    import hashlib

    from pipeline311_spark.plans.analytics15 import (
        _CMS_PARAMS,
        _CMS_W,
        _HLL_M,
        _HLL_NUM,
        _HLL_RMAX,
        _HLL_SCALE,
        _HLL_WBITS,
        _HLL_WMASK,
        sketch_countmin_heavy,
        sketch_hll_distinct,
    )

    MOD = 1_000_000_007

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        # only the documents table is read by these two queries
        df.write.parquet(os.path.join(tmp, "documents.parquet"))

        # --- HLL ground truth ---
        regs: dict[int, int] = {}
        for t in texts:
            h = h60(t)
            idx, w = h >> _HLL_WBITS, h & _HLL_WMASK
            rank = _HLL_RMAX if w == 0 else _HLL_RMAX - w.bit_length()
            regs[idx] = max(regs.get(idx, 0), rank)
        zs = sum(1 << (_HLL_RMAX - m) for m in regs.values())
        z_scaled = zs + (_HLL_M - len(regs)) * _HLL_SCALE
        want = {
            "exact_distinct": len(set(texts)),
            "n_nonzero_registers": len(regs),
            "v_zero": _HLL_M - len(regs),
            "reg_checksum": sum(i * m for i, m in regs.items()),
            "hll_estimate": _HLL_NUM / float(z_scaled),
        }
        got = sketch_hll_distinct(spark, tmp).collect()[0].asDict()
        assert got == want

        # merge-by-halves must equal the single pass EXACTLY (register
        # max is associative; this asserts the implementation composes)
        from pipeline311_spark.plans.analytics15 import sketch_hll_merge

        by_variant = {
            r["variant"]: (r["n_nonzero_registers"], r["reg_checksum"], r["hll_estimate"])
            for r in sketch_hll_merge(spark, tmp).collect()
        }
        assert by_variant["merged"] == by_variant["single_pass"]
        assert by_variant["single_pass"] == (
            want["n_nonzero_registers"],
            want["reg_checksum"],
            want["hll_estimate"],
        )

        # --- CMS ground truth ---
        import re

        counts: dict[str, int] = {}
        for t in texts:
            norm = re.sub(r"\s+", " ", t.lower()).strip()
            for term in norm.split(" ") if norm else []:
                counts[term] = counts.get(term, 0) + 1
        if not counts:
            assert sketch_countmin_heavy(spark, tmp).count() == 0
        else:
            grid: dict[tuple[int, int], int] = {}
            loc = {}
            for term, c in counts.items():
                hh = h60(term) % MOD
                cols = [((hh * a + b) % MOD) % _CMS_W for a, b in _CMS_PARAMS]
                loc[term] = cols
                for j, col in enumerate(cols):
                    grid[(j, col)] = grid.get((j, col), 0) + c
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            want_cms = {
                term: (c, min(grid[(j, col)] for j, col in enumerate(loc[term])))
                for term, c in top
            }
            got_cms = {
                r["term"]: (r["true_count"], r["cms_estimate"])
                for r in sketch_countmin_heavy(spark, tmp).collect()
            }
            assert got_cms == want_cms
            for term, (c, est) in got_cms.items():
                assert est >= c  # CMS never undercounts

            # CMS merge: grids of disjoint halves SUM into the full grid
            from pipeline311_spark.plans.analytics15 import cms_counter_grid

            full = {
                (r["j"], r["col"]): r["c"]
                for r in cms_counter_grid(df.sparkSession.read.parquet(
                    os.path.join(tmp, "documents.parquet")
                )).collect()
            }
            merged: dict = {}
            for half in (0, 1):
                part = df.filter(F.col("doc_id") % 2 == half)
                for r in cms_counter_grid(part).collect():
                    key = (r["j"], r["col"])
                    merged[key] = merged.get(key, 0) + r["c"]
            assert merged == full == {k: v for k, v in grid.items()}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.one_of(
            st.text(alphabet="abcdef THEandofto.,!?;: \t", max_size=40),
            st.lists(
                st.sampled_from(_WORDS + ["the", "and", "el", "la", "der", "le.", "to,"]),
                max_size=15,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_text_feature_kernels_equal_python(spark, texts):
    """Token counts, BPE-ish counts, punctuation counts, language-ID
    argmax (first-listed tie win, 'und' under min_hits), quality
    features, and the md5 fingerprint against direct Python
    re-implementations on punctuation/marker-heavy random text."""
    import hashlib
    import re as _re

    from pipeline311_spark.ext.textstats import (
        LANG_MARKERS,
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        quality_features,
        token_count,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = quality_features("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count("text").alias("tc"),
            bpe_ish_token_count("text").alias("bc"),
            lang_id("text").alias("lang"),
            fingerprint("text").alias("fp"),
            feats["mean_token_len"].alias("mtl"),
            feats["lexical_diversity"].alias("ld"),
            feats["stopword_ratio"].alias("sr"),
        ).collect()
    }

    for doc_id, text in rows:
        toks = [t for t in text.strip().split()] if text.strip() else []
        # Java \s == ASCII whitespace; restrict inputs to ASCII so the
        # Python split() semantics coincide
        n_punct = len(_re.findall(r"[.,!?;:]", text))
        r = got[doc_id]
        assert r["tc"] == len(toks)
        assert r["bc"] == len(toks) + n_punct

        hits = {
            lg: sum(1 for t in toks if t.lower() in ms) for lg, ms in LANG_MARKERS.items()
        }
        best = max(hits.values()) if hits else 0
        if best < 1:
            want_lang = "und"
        else:
            want_lang = next(lg for lg in LANG_MARKERS if hits[lg] == best)
        assert r["lang"] == want_lang

        norm = _re.sub(r"\s+", " ", text.lower()).strip()
        assert r["fp"] == hashlib.md5(norm.encode()).hexdigest()

        n_tok, n_chars = len(toks), len(text)
        if n_tok:
            assert abs(r["mtl"] - (n_chars - (n_tok - 1)) / n_tok) < 1e-12
            uniq = len({t.lower() for t in toks})
            assert abs(r["ld"] - uniq / n_tok) < 1e-12
            assert abs(r["sr"] - hits["en"] / n_tok) < 1e-12
        else:
            assert (r["mtl"], r["ld"], r["sr"]) == (0.0, 0.0, 0.0)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=99),  # event id (unique-ified below)
            st.integers(min_value=0, max_value=5),   # ts day offset (collisions intended)
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_intervals_equal_python(spark, events):
    """SCD2 interval ground truth (both engine and oracle use LEAD —
    parallel formulations, the mirror-risk shape): per key, sorted by
    (ts, event_id), each row's valid_to is the next row's ts; the last
    row is open-ended and current.  Duplicate timestamps within a key
    exercise the event_id tiebreak."""
    import datetime as dt

    from pipeline311_spark.plans.scd2 import q_scd2_rows

    rows = [
        (u, i, dt.datetime(2024, 3, 1 + d))  # unique event ids, colliding ts
        for i, (u, _e, d) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        r["event_id"]: (r["valid_from"], r["valid_to"], r["is_current"])
        for r in q_scd2_rows(df).collect()
    }

    fmt = lambda t: t.strftime("%Y-%m-%d %H:%M:%S.%f")  # noqa: E731
    by_user = {}
    for u, i, t in rows:
        by_user.setdefault(u, []).append((t, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        for pos, (t, i) in enumerate(evs):
            nxt = evs[pos + 1][0] if pos + 1 < len(evs) else None
            want[i] = (
                fmt(t),
                fmt(nxt) if nxt else "9999-12-31 00:00:00.000000",
                0 if nxt else 1,
            )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # user
            st.integers(min_value=0, max_value=2000),  # seconds offset (gap=300s boundary in range)
        ),
        min_size=1,
        max_size=25,
    )
)
def test_sessionize_equals_python(spark, events):
    """Gap-sessionization ground truth: sessions break strictly AFTER
    the gap (> gap_s, not >=), duplicate timestamps stay in one
    session, every user has >= 1 session.  Engine and oracle share the
    lag/cumsum formulation — the parallel shape ground truth exists
    for."""
    import datetime as dt

    from pipeline311_spark.plans.extras import q_sessionize_rows

    base = dt.datetime(2024, 3, 1)
    rows = [
        (u, i, base + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q_sessionize_rows(df, gap_s=300).collect()
    }

    by_user = {}
    for u, i, t in rows:
        by_user.setdefault(u, []).append((t, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        n_sessions = 1
        for (prev, _), (cur, _) in zip(evs, evs[1:]):
            if (cur - prev).total_seconds() > 300:
                n_sessions += 1
        want[u] = (n_sessions, len(evs))
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-10000, max_value=10000),  # cents -> 2-dec values
        ),
        min_size=1,
        max_size=25,
    )
)
def test_exact_median_equals_python(spark, vals):
    """Exact-median ground truth: odd/even counts, duplicate values —
    median == statistics.median over exact decimals (the engine
    averages the two middle rows via a decimal sum and ONE double
    division; Python mirrors with Fraction-free integer math)."""
    from pipeline311_spark.plans.analytics2 import q_median_rows

    rows = [(t, i, c / 100.0) for i, (t, c) in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")
    got = {
        r["event_type"]: (r["median_value"], r["n"]) for r in q_median_rows(df).collect()
    }

    by_type = {}
    for t, _i, v in rows:
        by_type.setdefault(t, []).append(round(v * 100))
    want = {}
    for t, cents in by_type.items():
        cents.sort()
        n = len(cents)
        mid = [cents[(n - 1) // 2], cents[n // 2]]
        want[t] = ((mid[0] + mid[1]) / 2.0 / 100.0, n)
    assert set(got) == set(want)
    for t in want:
        assert got[t][1] == want[t][1]
        assert abs(got[t][0] - want[t][0]) < 1e-12


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),                     # user
            st.sampled_from(["view", "click", "purchase", "other"]),
            st.integers(min_value=0, max_value=10),                    # ts offset
        ),
        min_size=1,
        max_size=25,
    )
)
def test_funnel_equals_python(spark, events):
    """Ordered-funnel ground truth: click counts only at/after the
    user's FIRST view, purchase at/after the first qualifying click
    (boundary equality included), against a direct Python pass."""
    import datetime as dt

    from pipeline311_spark.plans.analytics11 import q_funnel_rows

    base = dt.datetime(2024, 3, 1)
    rows = [
        (u, i, t, base + dt.timedelta(minutes=off))
        for i, (u, t, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string, ts timestamp")
    got = {r["stage"]: r["n_users"] for r in q_funnel_rows(df).collect()}

    by_user = {}
    for u, _i, t, ts in rows:
        by_user.setdefault(u, []).append((t, ts))
    nv = nc = np_ = 0
    for u, evs in by_user.items():
        views = [ts for t, ts in evs if t == "view"]
        if not views:
            continue
        nv += 1
        t_view = min(views)
        clicks = [ts for t, ts in evs if t == "click" and ts >= t_view]
        if not clicks:
            continue
        nc += 1
        t_click = min(clicks)
        if any(t == "purchase" and ts >= t_click for t, ts in evs):
            np_ += 1
    assert got == {"1_view": nv, "2_click": nc, "3_purchase": np_}


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-5000, max_value=5000),  # value cents
            st.integers(min_value=0, max_value=50),        # k
        ),
        min_size=2,
        max_size=25,
    )
)
def test_pearson_equals_python(spark, pts):
    """Pearson ground truth: exact integer/decimal sums, then the SAME
    one-shot float formula in Python — NULL (NaN-free) where a group's
    variance is zero."""
    import math

    from pipeline311_spark.plans.analytics7 import q_pearson_rows

    rows = [(t, c / 100.0, f'{{"k": {k}}}') for t, c, k in pts]
    df = spark.createDataFrame(rows, "event_type string, value double, props string")
    got = {r["event_type"]: (r["n"], r["pearson_r"]) for r in q_pearson_rows(df).collect()}

    by_t = {}
    for t, c, k in pts:
        by_t.setdefault(t, []).append((c, k))
    for t, pairs in by_t.items():
        n = len(pairs)
        gn, gr = got[t]
        assert gn == n
        # exact zero variance is decidable in INTEGERS (all x equal or
        # all y equal) — the engine must yield NULL there (try_divide),
        # never crash (the pre-fix ANSI DIVIDE_BY_ZERO this test caught)
        if len({c for c, _ in pairs}) == 1 or len({k for _, k in pairs}) == 1:
            assert gr is None
            continue
        sx = sum(c for c, _ in pairs) / 100.0
        sy = float(sum(k for _, k in pairs))
        sxx = sum(c * c for c, _ in pairs) / 10000.0
        syy = float(sum(k * k for _, k in pairs))
        sxy = sum(c * k for c, k in pairs) / 100.0
        rx = n * sxx - sx * sx
        ry = n * syy - sy * sy
        if rx <= 0 or ry <= 0:
            continue  # float rounding near zero variance: value undefined
        want = (n * sxy - sx * sy) / (math.sqrt(rx) * math.sqrt(ry))
        assert abs(gr - want) < 1e-9


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # key
                st.integers(min_value=0, max_value=3),  # version
                st.integers(min_value=0, max_value=3),  # partition-value index
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
    ptype=st.sampled_from(["bool", "double"]),
)
def test_merge_partitioned_hostile_partition_types(spark, tmp_path_factory, batches, ptype):
    """r6 partition-identity fix under randomized multi-batch merges:
    boolean and double (including NaN and NULL) partition values must
    fold exactly like the Python dict — dir names from Spark's own
    rendering ('true', 'NaN'), NaN-keyed partitions never spuriously
    deleted after a rewrite, emptied dirs actually gone."""
    import datetime as dt
    import os

    from pipeline311_spark.operators.merge_backends import upsert_into

    domain = {
        "bool": [True, False, None, True],
        "double": [float("nan"), 0.5, None, -1.25],
    }[ptype]
    sch = f"pk long, version timestamp, pc {'boolean' if ptype == 'bool' else 'double'}"

    def canon(v):
        if v is None:
            return None
        if isinstance(v, float) and v != v:
            return "NaN"
        return v

    path = str(tmp_path_factory.mktemp("wh_hostile_pc") / "t")
    state: dict = {}
    for batch in batches:
        per_key: dict = {}
        for k, ver, pi in batch:
            if k not in per_key or ver >= per_key[k][0]:
                per_key[k] = (ver, domain[pi])
        rows = [(k, dt.datetime(2024, 1, 1 + ver), v) for k, (ver, v) in per_key.items()]
        df = spark.createDataFrame(rows, sch)
        upsert_into(spark, path, df, "pk", "version", partition_col="pc")
        for k, (ver, v) in per_key.items():
            if k not in state or ver >= state[k][0]:
                state[k] = (ver, canon(v))
    if not state and not os.path.isdir(path):
        return  # all-empty sequence: creation legitimately deferred
    rows = spark.read.schema(sch).parquet(path).collect()
    # row-count FIRST: a stale duplicate left in an abandoned partition
    # would be masked by the dict comprehension (last collected row
    # wins, read order nondeterministic)
    assert len(rows) == len(state), f"{len(rows)} rows for {len(state)} keys"
    got = {r["pk"]: (r["version"].day - 1, canon(r["pc"])) for r in rows}
    assert got == state
    # directory-level identity: exactly the surviving partitions exist
    def dirname(cv):
        if cv is None:
            return "pc=__HIVE_DEFAULT_PARTITION__"
        if ptype == "bool":
            return "pc=true" if cv else "pc=false"
        return f"pc={cv}"
    expect = {dirname(cv) for _, cv in state.values()}
    have = {d for d in os.listdir(path) if d.startswith("pc=")}
    assert have == expect, f"partition dirs {have} != surviving {expect}"


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # unique id
            st.integers(min_value=0, max_value=2),      # source
            st.integers(min_value=0, max_value=40),     # tokens
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    n_buckets=st.sampled_from([1, 3, 16]),
)
def test_running_sum_two_phase_equals_python_cumsum(spark, rows, n_buckets):
    """The id-ordered two-phase running sum (the flagship packing's
    dominant-source escape hatch) equals the brute-force per-source
    cumulative sum in id order — including sparse/clustered id ranges
    that leave most range buckets empty."""
    from pipeline311_spark.ext.sampling import running_sum_two_phase

    df = spark.createDataFrame(rows, "doc_id long, src int, n_tok long")
    got = {
        r["doc_id"]: r["cum"]
        for r in running_sum_two_phase(
            df, "src", "doc_id", "n_tok", out_col="cum", n_buckets=n_buckets
        ).collect()
    }
    want = {}
    by_src = {}
    for i, s, n in rows:
        by_src.setdefault(s, []).append((i, n))
    for members in by_src.values():
        members.sort()
        cum = 0
        for i, n in members:
            cum += n
            want[i] = cum
    assert got == want


def test_running_sum_two_phase_empty_frame(spark):
    from pipeline311_spark.ext.sampling import running_sum_two_phase

    df = spark.createDataFrame([], "doc_id long, src int, n_tok long")
    out = running_sum_two_phase(df, "src", "doc_id", "n_tok", out_col="cum")
    assert out.columns == ["doc_id", "src", "n_tok", "cum"]
    assert out.count() == 0


def test_running_sum_two_phase_null_ids_match_window_nulls_first(spark):
    """NULL order ids must flow like the window twin (NULLS FIRST),
    not silently vanish through a NULL-keyed equi-join (review r8)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.sampling import running_sum_two_phase

    rows = [(None, 0, 5), (10, 0, 3), (20, 0, 7), (None, 1, 2), (4, 1, 1)]
    df = spark.createDataFrame(rows, "doc_id long, src int, n_tok long")
    got = {
        (r["src"], r["doc_id"]): r["cum"]
        for r in running_sum_two_phase(
            df, "src", "doc_id", "n_tok", out_col="cum", n_buckets=4
        ).collect()
    }
    w = (
        Window.partitionBy("src")
        .orderBy("doc_id")  # Spark default: NULLS FIRST ascending
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["src"], r["doc_id"]): r["cum"]
        for r in df.withColumn("cum", F.sum("n_tok").over(w)).collect()
    }
    assert got == want and len(got) == len(rows)


def test_running_sum_two_phase_null_partition_matches_window(spark):
    """A NULL partition VALUE is its own partition in the window twin;
    the two-phase offsets join must be null-safe on part_col or those
    rows silently vanish from both phases (ADVICE r8)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline311_spark.ext.sampling import running_sum_two_phase

    rows = [
        (1, None, 5),
        (2, None, 3),
        (3, "a", 7),
        (4, "a", 2),
        (5, None, 1),
        (6, "b", 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, n_tok long")
    got = {
        r["doc_id"]: r["cum"]
        for r in running_sum_two_phase(
            df, "src", "doc_id", "n_tok", out_col="cum", n_buckets=3
        ).collect()
    }
    w = (
        Window.partitionBy("src")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["doc_id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("n_tok").over(w)).collect()
    }
    assert got == want and len(got) == len(rows)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10).map(
            " ".join
        ),
        min_size=1,
        max_size=12,
    )
)
def test_cross_doc_span_removal_equals_python_bruteforce(spark, texts):
    """Frequent-span removal (VERDICT r8 item 2) against a transparent
    Python reimplementation: same tokenization, same >= min_df boiler
    set, same coverage expansion — tiny alphabet so repeated spans are
    dense and partial overlaps occur."""
    from pipeline311_spark.ext.dedup import cross_doc_span_removal

    n, min_df = 3, 2
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
        for r in cross_doc_span_removal(df, "doc_id", "text", n=n, min_df=min_df).collect()
    }

    toks = {i: t.split(" ") for i, t in docs}
    gram_docs: dict[str, set[int]] = {}
    for i, tk in toks.items():
        for s in range(len(tk) - n + 1):
            gram_docs.setdefault(" ".join(tk[s : s + n]), set()).add(i)
    boiler = {g for g, ds in gram_docs.items() if len(ds) >= min_df}
    want = {}
    for i, tk in toks.items():
        cov: set[int] = set()
        for s in range(len(tk) - n + 1):
            if " ".join(tk[s : s + n]) in boiler:
                cov.update(range(s, s + n))
        keep = [t for p, t in enumerate(tk) if p not in cov]
        want[i] = (len(tk), len(tk) - len(keep), " ".join(keep))
    assert got == want
