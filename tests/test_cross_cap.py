"""Cross-group expansion cap (ext.dedup.CROSS_MAX_PAIRS).

The blowup under test: two large identical-content groups whose
representatives verify as near-dups would expand the single verified
rep↔rep pair to gn_a·gn_b member↔member rows — two million-doc
boilerplate groups emit 10^12 rows, exactly the quadratic product the
intra-group IDENT_MAX_GROUP clique/star policy caps.  Past the cap the
engine emits only the rep↔rep bridge edge; connected components stay
identical because every member is already wired to its rep by the
always-emitted intra-group pairs.

Covers both expansion kernels (dedup._expand_cross and
similarity.embedding_near_dup_pairs inline) AND proves the DuckDB
oracle twin mirrors the cap bit-for-bit on a corpus where it actually
fires — the normal sf testdata never
triggers it.
"""

from __future__ import annotations

import pytest

from pipeline311_spark.ext.dedup import (
    CROSS_MAX_PAIRS,
    IDENT_MAX_GROUP,
    ngram_jaccard_pairs,
)

# Two near-dup contents: 12 tokens, last token differs → 8 distinct
# 5-grams each, 7 shared → Jaccard 7/9 ≈ 0.78.
_TXT_A = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 alpha"
_TXT_B = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 beta"


def _corpus(spark, n_a: int, n_b: int):
    """n_a copies of content A (doc_ids 0..) then n_b of B."""
    rows = [(i, _TXT_A) for i in range(n_a)] + [
        (n_a + i, _TXT_B) for i in range(n_b)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _intra_pairs(n: int, base: int) -> set:
    """Expected intra-group pairs for a group of n docs with ids
    base..base+n-1: clique ≤ IDENT_MAX_GROUP, star beyond."""
    if n <= IDENT_MAX_GROUP:
        return {(base + i, base + j) for i in range(n) for j in range(i + 1, n)}
    return {(base, base + j) for j in range(1, n)}


def test_ngram_bridge_past_cap(spark):
    n = 250  # 250·250 = 62 500 > CROSS_MAX_PAIRS = 40 000 → bridge
    assert n * n > CROSS_MAX_PAIRS and n > IDENT_MAX_GROUP
    pairs = ngram_jaccard_pairs(_corpus(spark, n, n), "doc_id", "text", n=5, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    expected = _intra_pairs(n, 0) | _intra_pairs(n, n) | {(0, n)}  # stars + bridge
    assert got == expected
    # connectivity: bridge + stars still yield ONE cluster of 2n docs
    from pipeline311_spark.ext.graph import connected_components

    edges = spark.createDataFrame(sorted(got), "src long, dst long")
    comp = connected_components(edges, "src", "dst")
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 2 * n


def test_ngram_full_expansion_below_cap(spark):
    n = 100  # 100·100 = 10 000 ≤ cap → full bipartite, clique intra
    pairs = ngram_jaccard_pairs(_corpus(spark, n, n), "doc_id", "text", n=5, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    cross = {(i, n + j) for i in range(n) for j in range(n)}
    expected = _intra_pairs(n, 0) | _intra_pairs(n, n) | cross
    assert got == expected


def test_ngram_oracle_twin_mirrors_cap(spark):
    """The DuckDB oracle must agree with the engine ON A CAP-FIRING
    corpus — parity on clean sf data proves nothing about the branch."""
    duckdb = pytest.importorskip("duckdb")
    from pipeline311_spark.plans.extensions import _NGRAM_JACCARD_SQL

    n = 250
    eng = ngram_jaccard_pairs(_corpus(spark, n, n), "doc_id", "text", n=5, threshold=0.2)
    eng_set = {
        (r["doc_a"], r["doc_b"], r["inter"], r["sz_a"], r["sz_b"], round(r["jaccard"], 9))
        for r in eng.collect()
    }
    con = duckdb.connect()
    rows = [(i, _TXT_A) for i in range(n)] + [(n + i, _TXT_B) for i in range(n)]
    import pandas as pd

    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ora = con.execute(_NGRAM_JACCARD_SQL).fetchall()
    ora_set = {(a, b, i, sa, sb, round(j, 9)) for a, b, i, sa, sb, j in ora}
    assert eng_set == ora_set


def test_embedding_bridge_past_cap(spark):
    from pipeline311_spark.ext.similarity import embedding_near_dup_pairs

    n = 250
    v1 = [1.0, 2.0, -0.5, 3.0]
    v2 = [x * 1.01 for x in v1]  # cosine(v1, v2) = 1.0, distinct value
    rows = [(i, v1) for i in range(n)] + [(n + i, v2) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.9, dim=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = _intra_pairs(n, 0) | _intra_pairs(n, n) | {(0, n)}
    assert got == expected
