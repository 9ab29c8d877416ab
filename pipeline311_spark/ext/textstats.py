"""Text analysis operators over a document table (north star):
language ID, quality scoring, token counting, fingerprinting.

Contract: every expression builder here takes Spark SQL text (a column
name or any SQL expression) and returns Spark SQL text; a caller that
needs a ``Column`` wraps the result once with ``F.expr`` (or passes it
to ``selectExpr`` / a string ``filter``).  No builder calls ``F.col`` or
a ``Column`` method, so building a plan runs no PySpark call-site
capture (ext/hashing.py module note).  Double literals go through
:func:`~pipeline311_spark.ext.hashing._dlit`.  The expressions are
JVM-side and whole-stage codegen'd apart from the array lambdas.

Heuristics are deliberately simple and *portable*: the DuckDB oracle
twins (plans/extensions.py ``_tok_array_sql``, ``_quality_score_sql``,
``_lang_hits_sql``) reproduce them, which is what a cheap first-pass
filter before any model-based scoring needs at 100 TB.
"""

from __future__ import annotations

from pipeline311_spark.ext.hashing import _dlit

# Tiny distinctive-stopword lists per language for the n-gram/stopword
# language-ID heuristic.  Order matters: ties break by list order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "los", "que", "de"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],  # pinyin-ish markers
}

PUNCT_CLASS = r"[.,!?;:]"


def _str_array(items: list[str]) -> str:
    return "array(" + ", ".join(f"'{m}'" for m in items) + ")"


def ws_trim(expr: str) -> str:
    """Trim ALL leading/trailing whitespace.  SQL ``trim`` strips spaces
    only, so tab/newline-padded text would slip past the empty guard
    and ``split`` would emit phantom '' tokens (``tokens('\\t')`` would
    be 2; the Python ground-truth property test pins this)."""
    return f"regexp_replace({expr}, r'^\\s+|\\s+$', '')"


def tokens(expr: str) -> str:
    """Whitespace tokenization of trimmed text; ''/whitespace-only ->
    empty array, NULL -> NULL."""
    t = ws_trim(expr)
    return (
        f"CASE WHEN {t} = '' THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split({t}, r'\\s+') END"
    )


def token_count(expr: str) -> str:
    return f"size({tokens(expr)})"


def marker_hits(expr: str, markers: list[str]) -> str:
    """How many tokens of ``expr`` are (case-insensitively) in ``markers``."""
    return (
        f"size(filter({tokens(expr)}, "
        f"t -> array_contains({_str_array(markers)}, lower(t))))"
    )


def lang_scores_on_tokens(toks_lower: str) -> dict[str, str]:
    """Per-language marker-hit counts over an ALREADY-lowered token
    array expression (evaluate ``transform(tokens(c), x -> lower(x))``
    once in a prior select so the tokenization isn't re-inlined per
    language)."""
    return {
        lang: f"size(filter({toks_lower}, t -> array_contains({_str_array(ms)}, t)))"
        for lang, ms in LANG_MARKERS.items()
    }


def lang_pred_from_scores(scores: dict[str, str], min_hits: int = 1) -> str:
    """Argmax over per-language score expressions (first-listed wins
    ties); fewer than ``min_hits`` total -> 'und'."""
    langs = list(scores)
    best = f"greatest({', '.join(scores[lg] for lg in langs)})" if len(langs) > 1 else scores[langs[0]]
    pred = "'und'"
    for lg in reversed(langs):
        pred = f"CASE WHEN {scores[lg]} = {best} THEN '{lg}' ELSE {pred} END"
    return f"CASE WHEN {best} >= {min_hits} THEN {pred} ELSE 'und' END"


def punct_count(expr: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, r'{PUNCT_CLASS}', '')))"


def quality_features(expr: str) -> dict[str, str]:
    """The standard cheap quality signals: length, token stats,
    punctuation ratio, lexical diversity (uniq/total tokens), stopword
    ratio.  Deterministic integer/double arithmetic only; every value
    is a DOUBLE."""
    toks = tokens(expr)
    n_tok = f"CAST(size({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({expr}) AS DOUBLE)"
    uniq = f"CAST(size(array_distinct(transform({toks}, x -> lower(x)))) AS DOUBLE)"
    stop = f"CAST({marker_hits(expr, LANG_MARKERS['en'])} AS DOUBLE)"
    zero = _dlit(0.0)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "mean_token_len": f"CASE WHEN {n_tok} > 0 THEN ({n_chars} - ({n_tok} - 1)) / {n_tok} ELSE {zero} END",
        "punct_ratio": f"CASE WHEN {n_chars} > 0 THEN CAST({punct_count(expr)} AS DOUBLE) / {n_chars} ELSE {zero} END",
        "lexical_diversity": f"CASE WHEN {n_tok} > 0 THEN {uniq} / {n_tok} ELSE {zero} END",
        "stopword_ratio": f"CASE WHEN {n_tok} > 0 THEN {stop} / {n_tok} ELSE {zero} END",
    }


def quality_score(expr: str) -> str:
    """Composite in [0,1]: rewards mid-length docs with diverse tokens
    and some (but not excessive) stopwords/punctuation.  DuckDB twin:
    plans/extensions.py ``_quality_score_sql``."""
    f = quality_features(expr)
    one = _dlit(1.0)
    len_score = f"least({f['n_tokens']} / {_dlit(64.0)}, {one})"
    return (
        f"({_dlit(0.4)} * {len_score}"
        f" + {_dlit(0.3)} * {f['lexical_diversity']}"
        f" + {_dlit(0.2)} * least({f['stopword_ratio']} * 4, {one})"
        f" + {_dlit(0.1)} * ({one} - least({f['punct_ratio']} * 10, {one})))"
    )


def normalize_text(expr: str) -> str:
    """Fingerprint normalization: lowercase, collapse whitespace, trim."""
    return f"trim(regexp_replace(lower({expr}), r'\\s+', ' '))"


def fingerprint(expr: str) -> str:
    """Document fingerprint = md5 of normalized text.  Identical docs
    (modulo case/whitespace) collide — the exact-dedup key."""
    return f"md5({normalize_text(expr)})"


def chunk_token_windows(
    df,
    id_col: str,
    text_col: str,
    size: int = 32,
    stride: int = 16,
    carry: tuple[str, ...] = (),
):
    """Split documents into overlapping token windows — the
    context-window packing step of an LLM data pipeline.  One chunk
    starts every ``stride`` tokens; each spans up to ``size`` tokens
    (the trailing chunk may be shorter).  Zero-token docs emit nothing.
    ``carry`` names extra doc-level columns passed through to every
    chunk row (lang, source, ...).

    Pure codegen (split/sequence/slice/array_join + one explode): the
    output is ~size/stride× the token volume of the corpus, produced
    map-side with no shuffle — at 100 TB this pipelines straight into
    the next stage (tokenize/pack) without a repartition.
    """
    from pyspark.sql import functions as F

    base = (
        df.selectExpr(id_col, *carry, f"{tokens(text_col)} AS __toks")
        .withColumn("__n", F.expr("size(__toks)"))
        .filter("__n > 0")
    )
    return (
        base.selectExpr(
            id_col, *carry, "__toks", "__n",
            f"posexplode(sequence(0, __n - 1, {int(stride)})) AS (chunk_idx, __start)",
        )
        .withColumn("__chunk", F.expr(f"slice(__toks, __start + 1, {int(size)})"))
        .selectExpr(
            id_col,
            *carry,
            "CAST(chunk_idx AS BIGINT) AS chunk_idx",
            "CAST(size(__chunk) AS BIGINT) AS n_chunk_tokens",
            "array_join(__chunk, ' ') AS chunk_text",
        )
    )
