"""Property-based tests (hypothesis): the vectorized cleaning kernel
must agree with a direct Python re-implementation of the reference
semantics (common.py:112-224) on arbitrary dirty input, and the MERGE
kernel must hold its algebraic properties on random tables."""

from __future__ import annotations

import re
import unicodedata

import pytest
from hypothesis import HealthCheck, example, given, settings
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
    st.text(alphabet="0123456789_-PPD.district<>'é🚧 ", max_size=30),
    st.sampled_from(["0", "false", "true", "911", "22nd", "1e3", "12.5", " 7 ", "<x>"]),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(dirty_strings, min_size=1, max_size=40))
# PEP 515 digit groups: int() reads a single '_' between digits only
@example(["1_0", "12_345", " 4_2 ", "+1_0", "٣_٣", "_1", "1_", "1__0", "1_0.5", "0_0"])
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
        assert row["p"] == py_parent(v), (v, row["p"], py_parent(v))
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
    """Token counts, language-ID argmax (first-listed tie win, 'und'
    under min_hits) in the staged form text_lang_id runs, quality
    features, and the md5 fingerprint against direct Python
    re-implementations on punctuation/marker-heavy random text."""
    import hashlib
    import re as _re

    from pipeline311_spark.ext.textstats import (
        LANG_MARKERS,
        fingerprint,
        lang_pred_from_scores,
        lang_scores_on_tokens,
        quality_features,
        token_count,
        tokens,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    staged = df.selectExpr(
        "doc_id", "text", f"transform({tokens('text')}, x -> lower(x)) AS __tl"
    )
    feats = quality_features("text")
    got = {
        r["doc_id"]: r
        for r in staged.selectExpr(
            "doc_id",
            f"{token_count('text')} AS tc",
            f"{lang_pred_from_scores(lang_scores_on_tokens('__tl'))} AS lang",
            f"{fingerprint('text')} AS fp",
            f"{feats['mean_token_len']} AS mtl",
            f"{feats['lexical_diversity']} AS ld",
            f"{feats['stopword_ratio']} AS sr",
        ).collect()
    }

    for doc_id, text in rows:
        toks = [t for t in text.strip().split()] if text.strip() else []
        # Java \s == ASCII whitespace; restrict inputs to ASCII so the
        # Python split() semantics coincide
        r = got[doc_id]
        assert r["tc"] == len(toks)

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
