"""Unit test for the flagship curation pipeline's decontamination
gram generator."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_contamination_skips_short_docs(spark):
    from pipeline311_spark.plans.curation3 import _grams

    df = spark.createDataFrame(
        [(1, "only five words right here now", "srcX"),
         (2, " ".join(f"w{i}" for i in range(20)), "srcY")],
        "doc_id long, text string, source string",
    )
    g = _grams(df)
    assert g.filter(F.col("doc_id") == 1).count() == 0  # < 13 tokens -> no grams
    assert g.filter(F.col("doc_id") == 2).count() == 20 - 13 + 1
