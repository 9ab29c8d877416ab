"""BM25 scoring and rank fusion (plans/curation3.py) — the properties
the oracle twin can't see."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_bm25_ranks_term_frequency_over_length(spark):
    """Sanity on semantics (the oracle checks cross-engine parity, not
    IR sense): every returned doc contains at least one query term,
    ranks are dense from 1, and scores are non-increasing."""
    from pipeline311_spark.plans.curation3 import _BM25_TOPK, bm25_scored_frame

    # registry outputs drop the ln-based double score (DuckDB ln vs JVM
    # Math.log is a 1-ulp hazard) — the monotonicity check runs on the
    # engine-internal scored frame
    rows = bm25_scored_frame(spark, SF).collect()
    assert rows, "BM25 returned nothing"
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _BM25_TOPK
        scores = [r["bm25"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r["tf_sum"] >= 1 for r in rs)


def test_rrf_fusion_semantics(spark):
    """Fusion sanity (the oracle checks cross-engine parity): every row
    came from at least one ranker, rrf equals the closed form over the
    reported ranks, and dual-ranker docs outrank single-ranker docs
    whose single rank is no better."""
    from pipeline311_spark.plans.curation3 import _RRF_C, q_retrieval_hybrid_rrf

    rows = q_retrieval_hybrid_rrf(spark, SF).collect()
    assert rows, "RRF returned nothing"
    for r in rows:
        assert r["lex_rank"] > 0 or r["dense_rank"] > 0
        expect = (1.0 / (_RRF_C + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (_RRF_C + r["dense_rank"]) if r["dense_rank"] else 0.0
        )
        assert abs(r["rrf"] - expect) < 1e-12, r
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        scores = [r["rrf"] for r in rs]
        assert scores == sorted(scores, reverse=True)
