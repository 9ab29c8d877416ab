"""Text analysis operators over a document table (north star).

All pure Column expressions (JVM-side, whole-stage codegen) — language
ID, quality scoring, token counting, fingerprinting.  Heuristics are
deliberately simple and *portable* (the DuckDB oracle reproduces them),
which is exactly what you want at 100 TB: a cheap first-pass filter
before any model-based scoring.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def ws_trim(col: Column | str) -> Column:
    """Trim ALL leading/trailing whitespace.  ``F.trim`` strips spaces
    only, so tab/newline-padded text slipped past the empty guard and
    ``split`` emitted phantom '' tokens (tokens('\\t') was 2 — caught
    by the Python ground-truth property test, with the DuckDB oracle
    mirroring the same wrong answer via SQL ``trim``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text; ''/whitespace-only ->
    empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = ws_trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def marker_hits(col: Column | str, markers: list[str]) -> Column:
    toks = tokens(col)
    arr = F.array([F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def lang_scores_on_tokens(toks_lower: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over an ALREADY-lowered token
    array column (evaluate ``transform(tokens(c), lower)`` once in a
    prior select so the tokenization isn't re-inlined per language)."""
    return {
        lang: F.size(
            F.filter(
                toks_lower,
                lambda t: F.array_contains(F.array([F.lit(m) for m in ms]), t),
            )
        )
        for lang, ms in LANG_MARKERS.items()
    }


def lang_pred_from_scores(scores: dict[str, Column], min_hits: int = 1) -> Column:
    """Argmax over per-language score columns (first-listed wins ties);
    fewer than ``min_hits`` total -> 'und'."""
    langs = list(scores)
    best = F.greatest(*[scores[lg] for lg in langs]) if len(langs) > 1 else scores[langs[0]]
    pred = F.lit("und")
    for lg in reversed(langs):
        pred = F.when(scores[lg] == best, F.lit(lg)).otherwise(pred)
    return F.when(best >= min_hits, pred).otherwise(F.lit("und"))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))


def quality_features(col: Column | str) -> dict[str, Column]:
    """The standard cheap quality signals: length, token stats,
    punctuation ratio, lexical diversity (uniq/total tokens), stopword
    ratio.  Deterministic integer/double arithmetic only."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(c).cast("double")
    uniq = F.size(F.array_distinct(F.transform(toks, F.lower))).cast("double")
    stop = marker_hits(c, LANG_MARKERS["en"]).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "mean_token_len": F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, punct_count(c).cast("double") / n_chars).otherwise(F.lit(0.0)),
        "lexical_diversity": F.when(n_tok > 0, uniq / n_tok).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tok > 0, stop / n_tok).otherwise(F.lit(0.0)),
    }


def quality_score(col: Column | str) -> Column:
    """Composite in [0,1]: rewards mid-length docs with diverse tokens
    and some (but not excessive) stopwords/punctuation."""
    f = quality_features(col)
    len_score = F.least(f["n_tokens"] / F.lit(64.0), F.lit(1.0))
    return (
        F.lit(0.4) * len_score
        + F.lit(0.3) * f["lexical_diversity"]
        + F.lit(0.2) * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - F.least(f["punct_ratio"] * 10, F.lit(1.0)))
    )


def normalize_text(col: Column | str) -> Column:
    """Fingerprint normalization: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint = md5 of normalized text.  Identical docs
    (modulo case/whitespace) collide — the exact-dedup key."""
    return F.md5(normalize_text(col))


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

    toks = tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col), *[F.col(c) for c in carry], toks.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
    return (
        base.select(
            id_col, *carry, "__toks", "__n", F.posexplode(starts).alias("chunk_idx", "__start")
        )
        .withColumn("__chunk", F.slice("__toks", F.col("__start") + 1, size))
        .select(
            id_col,
            *carry,
            F.col("chunk_idx").cast("long"),
            F.size("__chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )
