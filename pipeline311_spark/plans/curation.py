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
from pipeline311_spark.plans.common import emb_table, table
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

_RETR_K = 5
_RETR_QUERIES = 3


def _retrieval_sql() -> str:
    from pipeline311_spark.plans.extensions import _N_QUERIES, _cos_sql  # noqa: F401

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_RETR_QUERIES}),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM q JOIN e ON e.vec_id != query_id),
topk AS (
  SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        FROM scored) t
  WHERE rn <= {_RETR_K})
SELECT query_id, rank, neighbor_id, cos_sim, d.lang AS hit_lang,
       md5(d.text) AS hit_text_md5
FROM topk JOIN documents d ON d.doc_id = neighbor_id
"""


@register("retrieval_end_to_end", _retrieval_sql(),
          covers=("ext:similarity", "ext:retrieval", "S5", "F6"))
def q_retrieval_end_to_end(spark, sf_dir):
    from pipeline311_spark.ext.similarity import brute_force_topk

    e = emb_table(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    hits = brute_force_topk(
        e, e.filter(F.col("vec_id") < _RETR_QUERIES), "vec_id", "embedding", k=_RETR_K
    )
    return (
        F.broadcast(hits.select("query_id", F.col("rank").cast("long"), "neighbor_id", "cos_sim"))
        .join(docs, F.col("doc_id") == F.col("neighbor_id"))
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "cos_sim",
            F.col("lang").alias("hit_lang"),
            F.md5("text").alias("hit_text_md5"),
        )
    )


@register(
    "curation_end_to_end",
    _curation_sql(),
    covers=("ext:text", "ext:dedup", "F1", "O5", "P-class"),
)
def q_curation_end_to_end(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("lang").isin(*_CUR_LANGS))
    kept = d.filter(quality_score("text") >= _CUR_MIN_QUALITY)
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
