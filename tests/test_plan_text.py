"""The curation plans are built as Spark SQL text.

In PySpark classic every ``F.col`` call and ``Column`` method captures
the Python call site for DataFrame debugging (a stack walk, about ten
py4j round trips, and an IPython import on the first capture).  The
operations of the ``curation_corpus`` benchmark are built from SQL text
instead, so they must run without a single capture; and the one double
literal helper they share must parse back bit-identical."""

from __future__ import annotations

import struct

from pyspark.sql import types as T

from pipeline311_spark.ext.hashing import _dlit


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_dlit_parses_back_bit_identical(spark):
    from pyspark.sql import functions as F

    avgdl = 152_393 / 7  # 21770.428571428572: 17 significant digits
    vals = [0.1, 0.4, 1 / 3, -0.0, 5e-324, 1.7976931348623157e308, avgdl]
    df = spark.range(1).select(*[F.expr(_dlit(x)).alias(f"v{i}") for i, x in enumerate(vals)])
    assert all(isinstance(f.dataType, T.DoubleType) for f in df.schema.fields)
    got = list(df.collect()[0])
    assert [_bits(g) for g in got] == [_bits(x) for x in vals]


def test_curation_operations_run_no_call_site_capture(spark, sf_dir, tmp_path, monkeypatch):
    """The package calls of the nine ``curation_corpus`` operations
    (perfbench/workloads.py ``CurationCorpus``): three registry plans,
    MinHash dedup at the benchmark's settings, the BM25 build and load,
    and stored top-k serving, each built and collected with call-site
    capture counted.  The session keeps DataFrame debugging on, so a
    ``F.col`` or ``Column`` method anywhere on these paths would count."""
    import pyspark.errors.utils as peu

    from perfbench.workloads import _MH
    from pipeline311_spark.ext.dedup import minhash_dedup_pairs
    from pipeline311_spark.ext.hashing import meta_df
    from pipeline311_spark.ext.retrieval import (
        bm25_index_append_batch,
        bm25_topk,
        load_bm25_index,
    )
    from pipeline311_spark.plans import REGISTRY
    from pipeline311_spark.plans.common import table

    assert peu.is_debugging_enabled(), "capture is off: the count below would prove nothing"
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = [(0, "the"), (0, "quick"), (1, "data"), (2, "zzz-not-a-term")]

    sites: list[str] = []
    real = peu._capture_call_site

    def counting(depth):
        site = real(depth)
        sites.append(site.splitlines()[0] if site else "?")
        return site

    monkeypatch.setattr(peu, "_capture_call_site", counting)
    for name in ("dedup_exact_groups", "text_quality_scores", "text_lang_id"):
        assert REGISTRY[name].fn(spark, sf_dir).collect()
    minhash_dedup_pairs(docs, "doc_id", "text", **_MH).collect()
    out = str(tmp_path / "bm25")
    bm25_index_append_batch(docs, 0, out)
    index = load_bm25_index(spark, out)
    q = meta_df(spark, queries, "query_id long, term string")
    assert bm25_topk(index, q, k=10).collect()
    monkeypatch.undo()
    assert sites == []
