"""North-star extension queries: dedup, text analysis, multimodal —
each registered with a DuckDB oracle generated from the *same*
deterministic parameters (hash family, band layout) as the Spark
implementation, so even the MinHash-LSH pipelines hash-match across
engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import exact_dup_groups
from pipeline311_spark.ext.hashing import MOD, hash_params, portable_hash_sql
from pipeline311_spark.ext.multimodal import documents_as_media, media_manifest
from pipeline311_spark.ext.textstats import (
    LANG_MARKERS,
    PUNCT_CLASS,
    fingerprint,
    quality_features,
    quality_score,
)
from pipeline311_spark.plans.common import materialize, scratch_dir, table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# SQL fragment builders (mirror ext/ parameters exactly)
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def _norm_sql(expr: str) -> str:
    return _NORM.format(expr=expr)


def _wtrim_sql(expr: str) -> str:
    """ALL-whitespace trim (SQL ``trim`` strips spaces only — a
    tab-padded text slipped the '' guard and split into phantom ''
    tokens; mirrors ext.textstats.ws_trim)."""
    return f"regexp_replace({expr}, '^\\s+|\\s+$', '', 'g')"


def _ntok_sql(expr: str = "text") -> str:
    """Whitespace token COUNT mirroring ext.textstats.tokens exactly:
    ''/whitespace-only → 0 (DuckDB's bare ``regexp_split_to_array``
    returns [''] → 1 there), NULL → NULL on both engines."""
    w = _wtrim_sql(expr)
    return (
        f"CASE WHEN {w} = '' THEN 0 "
        f"ELSE len(regexp_split_to_array({w}, '\\s+')) END"
    )


def _tok_array_sql(expr: str = "text") -> str:
    """Whitespace token ARRAY mirroring ext.textstats.tokens: '' → []."""
    w = _wtrim_sql(expr)
    return (
        f"CASE WHEN {w} = '' THEN [] "
        f"ELSE regexp_split_to_array({w}, '\\s+') END"
    )


def _shingle_cte(n: int, corpus_where: str = "", corpus_sql: str | None = None) -> str:
    """CTEs norm/toks/sh: doc_id + exploded distinct word n-grams.
    ``corpus_where`` (e.g. ``" WHERE doc_id % 9 != 4"``) restricts the
    corpus — the delete-maintenance twins run the full pipeline over
    corpus-minus-deleted (round 10).  ``corpus_sql`` replaces the
    corpus source outright (must select ``doc_id, text``) — the
    update-maintenance twins re-derive from the post-update corpus
    (round 11)."""
    corpus = corpus_sql or "SELECT doc_id, text FROM documents"
    return f"""
corpus0 AS ({corpus}),
norm AS (SELECT doc_id, {_norm_sql('text')} AS nt FROM corpus0{corpus_where}),
toks AS (SELECT doc_id, string_split(nt, ' ') AS tk FROM norm),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(tk) >= {n}
         THEN list_transform(range(1, len(tk) - {n} + 2),
                             i -> array_to_string(list_slice(tk, i, i + {n} - 1), ' '))
         ELSE [] END)) AS shingle
  FROM toks)
"""


_JACCARD_N = 5
_JACCARD_THRESHOLD = 0.2
_JACCARD_MAX_DF = 50
_IDENT_MAX_GROUP = 200  # mirrors ext.dedup.IDENT_MAX_GROUP
# mirrors ext.dedup.CROSS_MAX_PAIRS: rep↔rep pairs whose two groups
# would expand to more than this many member↔member rows emit only the
# rep↔rep bridge edge (downstream clusters identical — members are
# connected to their rep by the always-emitted ident pairs)
_CROSS_MAX_PAIRS = _IDENT_MAX_GROUP * _IDENT_MAX_GROUP

# Content-identity collapse (mirrors ext/dedup.py r5 semantics): docs
# are grouped by their exact sorted distinct-shingle list (the oracle's
# exact twin of the engine's (sz, fp1, fp2) fingerprint — a fingerprint
# collision would surface here as a mismatch), pair generation runs
# over one representative (min doc_id) per group with doc-frequency /
# bucket gates counting GROUPS, identical-group pairs are emitted
# directly (clique up to _IDENT_MAX_GROUP, star beyond), and verified
# rep pairs expand back to member pairs.

_NGRAM_JACCARD_SQL = f"""
WITH {_shingle_cte(_JACCARD_N)},
gsets AS (
  SELECT doc_id, list_sort(list_distinct(list(shingle))) AS gs
  FROM sh GROUP BY doc_id),
grp AS (
  SELECT doc_id, gs, len(gs) AS sz,
         MIN(doc_id) OVER (PARTITION BY gs) AS rep,
         COUNT(*) OVER (PARTITION BY gs) AS gn
  FROM gsets),
rsh AS (SELECT doc_id, unnest(gs) AS shingle FROM grp WHERE doc_id = rep),
sizes AS (SELECT doc_id, sz FROM grp WHERE doc_id = rep),
rare AS (
  SELECT * FROM rsh WHERE shingle IN (
    SELECT shingle FROM rsh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= {_JACCARD_MAX_DF})),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cross_rep AS (
  SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
         inter / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter / (sa.sz + sb.sz - inter) >= {_JACCARD_THRESHOLD}),
expanded AS (
  SELECT LEAST(ga.doc_id, gb.doc_id) AS doc_a, GREATEST(ga.doc_id, gb.doc_id) AS doc_b,
         c.inter,
         CASE WHEN ga.doc_id < gb.doc_id THEN c.sz_a ELSE c.sz_b END AS sz_a,
         CASE WHEN ga.doc_id < gb.doc_id THEN c.sz_b ELSE c.sz_a END AS sz_b,
         c.jaccard
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a JOIN grp gb ON gb.rep = c.doc_b
  WHERE ga.gn * gb.gn <= {_CROSS_MAX_PAIRS}
  UNION ALL
  SELECT c.doc_a, c.doc_b, c.inter, c.sz_a, c.sz_b, c.jaccard
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a AND ga.doc_id = c.doc_a
                   JOIN grp gb ON gb.rep = c.doc_b AND gb.doc_id = c.doc_b
  WHERE ga.gn * gb.gn > {_CROSS_MAX_PAIRS}),
ident AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS inter,
         a.sz AS sz_a, a.sz AS sz_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM grp a JOIN grp b ON a.rep = b.rep AND a.doc_id < b.doc_id
  WHERE a.gn <= {_IDENT_MAX_GROUP}
  UNION ALL
  SELECT rep AS doc_a, doc_id AS doc_b, sz AS inter, sz AS sz_a, sz AS sz_b,
         CAST(1.0 AS DOUBLE) AS jaccard
  FROM grp WHERE gn > {_IDENT_MAX_GROUP} AND doc_id <> rep),
allpairs AS (SELECT * FROM expanded UNION ALL SELECT * FROM ident)
SELECT doc_a, doc_b, inter, sz_a, sz_b, jaccard FROM allpairs
"""


# -- exact dedup groups on a normalized 80-char prefix ----------------------

_EXACT_SQL = f"""
SELECT md5({_norm_sql('substring(text, 1, 80)')}) AS fp,
       COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


@register("dedup_exact_groups", _EXACT_SQL, covers=("ext:dedup", "A6"))
def q_exact_groups(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return exact_dup_groups(d, "doc_id", "text", key=fingerprint("substring(text, 1, 80)"))


# -- MinHash + LSH ----------------------------------------------------------

_MH_K = 16
_MH_BANDS = 4
_MH_N = 5
_MH_SEED = 42
_MH_THRESHOLD = 0.2
_MH_MAX_BUCKET = 200
_MH_ROWS = _MH_K // _MH_BANDS


# Band explosion is expressed as a UNION ALL over the band index (cleaner
# than struct unnesting in DuckDB).  Same content-identity collapse as
# the n-gram oracle: group by the exact sorted gram-hash list, run the
# LSH pipeline over representatives, expand + emit identical-group
# pairs (see the note above _NGRAM_JACCARD_SQL).
def _minhash_pairs_sql(
    extra_pred: str = "", corpus_where: str = "", corpus_sql: str | None = None
) -> str:
    where_pred = f"WHERE TRUE{extra_pred}" if extra_pred else ""
    return f"""
WITH {_minhash_pairs_cte(corpus_where, corpus_sql)}
SELECT doc_a, doc_b, jaccard FROM allpairs {where_pred}
"""


def _minhash_pairs_cte(corpus_where: str = "", corpus_sql: str | None = None) -> str:
    """The MinHash pair pipeline as a bare CTE chain ending in
    ``allpairs`` (doc_a, doc_b, jaccard) — consumers append their own
    final SELECT (or further CTEs, e.g. the connected-components reach
    oracle in plans/curation4.py, which would otherwise have to
    extract this by string surgery on the full query).
    ``corpus_where`` restricts the corpus (delete-maintenance twins)."""
    from pipeline311_spark.ext.dedup import GRAM_BASE

    params = hash_params(_MH_K, _MH_SEED)
    mins = ",\n    ".join(
        f"MIN((g * {a} + {b}) % {MOD}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, %d AS band, concat_ws('_', %s) AS key FROM sig"
        % (bi, ", ".join(f"mh{bi * _MH_ROWS + r}" for r in range(_MH_ROWS)))
        for bi in range(_MH_BANDS)
    )
    # gram hash: fold of _MH_N consecutive token hashes, mirroring
    # ext/dedup.py _gram_fold_expr exactly (acc*GRAM_BASE + next) % MOD;
    # gsets is the _row_gram_arrays set (the stored gram log's garr)
    gram = "th[i]"
    for j in range(1, _MH_N):
        gram = f"(({gram}) * {GRAM_BASE} + th[i+{j}]) % {MOD}"
    return f"""{_shingle_cte(_MH_N, corpus_where, corpus_sql)},
tokh AS (SELECT doc_id,
    list_transform(string_split(nt, ' '), t -> {portable_hash_sql('t')}) AS th
  FROM norm),
gsets AS (
  SELECT doc_id, list_sort(list_distinct(
    CASE WHEN len(th) >= {_MH_N}
         THEN list_transform(range(1, len(th) - {_MH_N} + 2), i -> {gram})
         ELSE [] END)) AS gs
  FROM tokh),
grp AS (
  SELECT doc_id, gs, len(gs) AS sz,
         MIN(doc_id) OVER (PARTITION BY gs) AS rep,
         COUNT(*) OVER (PARTITION BY gs) AS gn
  FROM gsets WHERE len(gs) > 0),
rgrams AS (SELECT doc_id, unnest(gs) AS g FROM grp WHERE doc_id = rep),
sig AS (SELECT doc_id,
    {mins}
  FROM rgrams GROUP BY doc_id),
banded AS (
{band_selects}
),
small AS (
  SELECT * FROM banded WHERE (band, key) IN (
    SELECT (band, key) FROM banded GROUP BY band, key HAVING COUNT(*) <= {_MH_MAX_BUCKET})),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM small a JOIN small b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, sz FROM grp WHERE doc_id = rep),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN rgrams a ON a.doc_id = c.doc_a
  JOIN rgrams b ON b.doc_id = c.doc_b AND b.g = a.g
  GROUP BY 1, 2),
cross_rep AS (
  SELECT doc_a, doc_b, inter / (sa.sz + sb.sz - inter) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter / (sa.sz + sb.sz - inter) >= {_MH_THRESHOLD}),
expanded AS (
  SELECT LEAST(ga.doc_id, gb.doc_id) AS doc_a, GREATEST(ga.doc_id, gb.doc_id) AS doc_b,
         c.jaccard
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a JOIN grp gb ON gb.rep = c.doc_b
  WHERE ga.gn * gb.gn <= {_CROSS_MAX_PAIRS}
  UNION ALL
  SELECT c.doc_a, c.doc_b, c.jaccard
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a AND ga.doc_id = c.doc_a
                   JOIN grp gb ON gb.rep = c.doc_b AND gb.doc_id = c.doc_b
  WHERE ga.gn * gb.gn > {_CROSS_MAX_PAIRS}),
ident AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM grp a JOIN grp b ON a.rep = b.rep AND a.doc_id < b.doc_id
  WHERE a.gn <= {_IDENT_MAX_GROUP}
  UNION ALL
  SELECT rep AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM grp WHERE gn > {_IDENT_MAX_GROUP} AND doc_id <> rep),
allpairs AS (SELECT * FROM expanded UNION ALL SELECT * FROM ident)"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> list_contains([{markers}], lower(t))))"
    )


def _lang_id_sql() -> str:
    langs = list(LANG_MARKERS)
    hits = {lg: _lang_hits_sql(lg) for lg in langs}
    best = "greatest(" + ", ".join(hits[lg] for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {hits[lg]} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return f"""
SELECT lang, CASE WHEN {best} >= 1 THEN {case} ELSE 'und' END AS predicted_lang,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


@register("text_lang_id", _lang_id_sql(), covers=("ext:text",))
def q_lang_id(spark, sf_dir):
    from pipeline311_spark.ext.textstats import (
        lang_pred_from_scores,
        lang_scores_on_tokens,
        tokens,
    )

    d = table(spark, sf_dir, "documents")
    # Staged selects: tokens evaluate once, each language score once,
    # argmax over score ATTRIBUTES — CollapseProject cannot re-inline
    # non-cheap exprs referenced more than once, so none are duplicated
    # (vs 2L+ tokenizations per row in the single-Column form).
    toks = d.selectExpr("lang", f"transform({tokens('text')}, x -> lower(x)) AS __tl")
    score_cols = lang_scores_on_tokens("__tl")
    scored = toks.selectExpr(
        "lang", *[f"{c} AS __s_{lg}" for lg, c in score_cols.items()]
    )
    pred = lang_pred_from_scores({lg: f"__s_{lg}" for lg in score_cols})
    return scored.groupBy("lang", F.expr(f"{pred} AS predicted_lang")).agg(
        F.expr("count(*) AS n_docs")
    )


def _quality_feat_cols_sql() -> str:
    """The five DOUBLE feature columns every quality-score oracle
    derives (n_chars, n_tokens, n_punct, n_uniq, n_stop) — ONE
    definition for the feature CTEs that used to be copy-pasted per
    plan file (review r8)."""
    return f"""CAST(length(text) AS DOUBLE) AS n_chars,
         CAST({_ntok_sql()} AS DOUBLE) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_distinct(list_transform({_tok_array_sql()}, t -> lower(t)))) AS DOUBLE) AS n_uniq,
         CAST({_lang_hits_sql('en')} AS DOUBLE) AS n_stop"""


def _quality_score_sql(
    ntok: str = "n_tokens",
    nuniq: str = "n_uniq",
    nstop: str = "n_stop",
    npunct: str = "n_punct",
    nchars: str = "n_chars",
) -> str:
    """The ONE SQL twin of ``ext.textstats.quality_score`` (review r8:
    five hand-kept copies — several oracles hash ``floor(score*1000)``
    of this exact double, so a divergent copy silently breaks the
    gate).  Arguments are DOUBLE-typed SQL expressions; defaults are
    the conventional feature-CTE column names."""
    return (
        f"0.4 * least({ntok} / 64.0, 1.0)\n"
        f"         + 0.3 * (CASE WHEN {ntok} > 0 THEN {nuniq} / {ntok} ELSE 0.0 END)\n"
        f"         + 0.2 * least((CASE WHEN {ntok} > 0 THEN {nstop} / {ntok} ELSE 0.0 END) * 4, 1.0)\n"
        f"         + 0.1 * (1.0 - least((CASE WHEN {nchars} > 0 THEN {npunct} / {nchars} ELSE 0.0 END) * 10, 1.0))"
    )


_QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id,
         {_quality_feat_cols_sql()}
  FROM documents)
SELECT doc_id, n_chars, n_tokens,
       CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END AS mean_token_len,
       CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tokens > 0 THEN n_uniq / n_tokens ELSE 0.0 END AS lexical_diversity,
       CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stopword_ratio,
       {_quality_score_sql()}
       AS quality_score
FROM f
"""


@register("text_quality_scores", _QUALITY_SQL, covers=("ext:text",))
def q_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return d.selectExpr(
        "doc_id",
        *[f"{feats[c]} AS {c}" for c in (
            "n_chars", "n_tokens", "mean_token_len", "punct_ratio",
            "lexical_diversity", "stopword_ratio",
        )],
        f"{quality_score('text')} AS quality_score",
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

_MANIFEST_SQL = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(strlen(text) AS BIGINT) AS byte_len,
       CAST(ceil(strlen(text) / 4096.0) AS BIGINT) AS n_chunks_4k,
       md5(text) AS content_md5
FROM documents
"""


@register("multimodal_manifest", _MANIFEST_SQL, covers=("ext:multimodal",))
def q_manifest(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return media_manifest(documents_as_media(d)).select(
        "media_id", "kind", F.col("byte_len").cast("long").alias("byte_len"),
        "n_chunks_4k", "content_md5",
    )


@register(
    "stream_minhash_maintain",
    _minhash_pairs_sql(),
    # ext:gram-log: the gram delta-log family's own tag (VERDICT r9
    # nit 2 — forces this family into the driver's sampled head)
    covers=("ext:dedup", "ext:gram-log", "T1", "K2"),
)
def q_stream_minhash_maintain(spark, sf_dir):
    """The gram-store maintenance loop as a REAL Structured Streaming
    job (VERDICT r8 item 6 — the BM25 delta-log cycle applied to the
    MinHash artifact): the corpus arrives as a file stream (3 files,
    one micro-batch each), every micro-batch appends its per-doc
    DISTINCT gram arrays through ``foreachBatch`` →
    :func:`pipeline311_spark.ext.dedup.gram_log_append_batch` (replays
    overwrite their own batch_id partition — idempotent), the log is
    COMPACTED to its batch_id=-1 base (the crash-recoverable swap,
    ext/artifact.py), and the whole LSH pipeline runs FROM the folded
    store.  Its oracle is the one-shot MinHash-LSH pair set:
    a corpus streamed in three batches, appended, and compacted must
    yield exactly the pairs a one-shot run yields."""
    import os

    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        load_gram_log,
        minhash_pairs_from_grams,
    )
    from pipeline311_spark.session import prep_session

    prep_session(spark)  # streaming bypasses table(): pin tz/conf here
    with scratch_dir("mhs") as out:
        src, store, ckpt = (os.path.join(out, s) for s in ("src", "store", "ckpt"))
        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        d.repartition(3).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(d.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: gram_log_append_batch(
                    batch, bid, store, "doc_id", "text", n=_MH_N
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        gram_log_compact(spark, store)
        return minhash_pairs_from_grams(
            load_gram_log(spark, store),
            k=_MH_K, bands=_MH_BANDS, threshold=_MH_THRESHOLD, seed=_MH_SEED,
        ).transform(materialize)  # materialize before the cleanup
