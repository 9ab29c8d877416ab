"""End-to-end curation pipeline: the engine's production use case as
ONE oracle-gated flow — language filter → quality gate → exact dedup →
context-window chunking.  Every stage reuses an operator that is also
verified on its own (text_quality_scores, dedup_exact_groups, and the
chunk_token_windows property test); this query proves they COMPOSE: filters stay
pushed through the dedup window, chunking stays map-side, and the whole
flow is a single declarative plan Catalyst optimizes end to end.

Scale shape: one shuffle total (the dedup fingerprint window) — the
language/quality filters are scan-side, and chunking explodes map-side
after the dedup, so a 100 TB corpus flows scan → filter → one
hash-partition → chunk without further exchanges.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import exact_dedup
from pipeline311_spark.ext.textstats import chunk_token_windows, quality_score
from pipeline311_spark.plans.common import table
from pipeline311_spark.plans.extensions import (
    _norm_sql,
    _quality_feat_cols_sql,
    _quality_score_sql,
    _wtrim_sql,
)
from pipeline311_spark.plans.registry import register

_CUR_LANGS = ("en", "de", "fr")
_CUR_MIN_QUALITY = 0.5
_CHUNK, _STRIDE = 32, 16


def _curation_sql() -> str:
    langs = ", ".join(f"'{lg}'" for lg in _CUR_LANGS)
    return f"""
WITH base AS (
  SELECT doc_id, lang, text FROM documents WHERE lang IN ({langs})),
feat AS (
  SELECT doc_id, lang, text,
         {_quality_feat_cols_sql()}
  FROM base),
scored AS (
  SELECT doc_id, lang, text,
         {_quality_score_sql()}
         AS qs
  FROM feat),
kept AS (SELECT doc_id, lang, text FROM scored WHERE qs >= {_CUR_MIN_QUALITY}),
dedup AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5({_norm_sql('text')}) ORDER BY doc_id) AS rn
    FROM kept) t
  WHERE rn = 1),
t AS (SELECT doc_id, lang, regexp_split_to_array({_wtrim_sql('text')}, '\\s+') AS toks
      FROM dedup WHERE {_wtrim_sql('text')} <> ''),
n AS (SELECT doc_id, lang, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
s AS (SELECT doc_id, lang, toks, n, unnest(range(0, n, {_STRIDE})) AS start FROM n)
SELECT doc_id, lang,
       CAST(start / {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(toks[start + 1 : start + {_CHUNK}]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(toks[start + 1 : start + {_CHUNK}], ' ')) AS chunk_md5
FROM s
"""


# ---------------------------------------------------------------------------
# Semantic retrieval end-to-end: ANN top-k over the embedding table,
# joined back to the documents table for the hit text — the RAG-style
# retrieval flow (query vector → candidate neighbors → payload fetch)
# as one declarative plan.  The payload join broadcasts the (tiny)
# top-k hit set against the documents scan; at 100 TB the hit-id join
# is exactly the point lookup pattern (S5/F6) — never a corpus join.
# ---------------------------------------------------------------------------

@register(
    "curation_end_to_end",
    _curation_sql(),
    covers=("ext:text", "ext:dedup", "F1", "O5", "P-class"),
)
def q_curation_end_to_end(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("lang").isin(*_CUR_LANGS))
    kept = d.filter(F.expr(quality_score("text")) >= _CUR_MIN_QUALITY)
    deduped = exact_dedup(kept, "doc_id", "text")
    chunks = chunk_token_windows(
        deduped, "doc_id", "text", size=_CHUNK, stride=_STRIDE, carry=("lang",)
    )
    return chunks.select(
        "doc_id",
        "lang",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )
