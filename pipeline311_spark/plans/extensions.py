"""North-star extension queries: dedup, similarity search, text
analysis, multimodal — each registered with a DuckDB oracle generated
from the *same* deterministic parameters (hash family, LSH planes,
band layout) as the Spark implementation, so even the LSH/MinHash
pipelines hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.dedup import (
    exact_dup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from pipeline311_spark.ext.hashing import MOD, hash_params, portable_hash64_sql, portable_hash_sql
from pipeline311_spark.ext.multimodal import documents_as_media, media_manifest
from pipeline311_spark.ext.sampling import hash_bucket, hash_bucket_sql
from pipeline311_spark.ext.similarity import (
    brute_force_topk,
    deterministic_planes,
    embedding_near_dup_pairs,
    lsh_ann_topk,
    lsh_multiprobe_topk,
)
from pipeline311_spark.ext.textstats import (
    LANG_MARKERS,
    PUNCT_CLASS,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_features,
    quality_score,
    token_count,
)
from pipeline311_spark.plans.common import emb_table, materialize, table
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


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL, covers=("ext:dedup",))
def q_ngram_jaccard(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, max_df=_JACCARD_MAX_DF
    )


# -- exact dedup groups on a normalized 80-char prefix ----------------------

_EXACT_SQL = f"""
SELECT md5({_norm_sql('substring(text, 1, 80)')}) AS fp,
       COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


@register("dedup_exact_groups", _EXACT_SQL, covers=("ext:dedup", "A6"))
def q_exact_groups(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    key = fingerprint(F.substring("text", 1, 80))
    return exact_dup_groups(d, "doc_id", "text", key=key)


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
    # ext/dedup.py _gram_hash_table exactly (acc*GRAM_BASE + next) % MOD
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


@register("dedup_minhash_lsh", _minhash_pairs_sql(), covers=("ext:dedup",))
def q_minhash(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "doc_id", "text",
        k=_MH_K, bands=_MH_BANDS, n=_MH_N, threshold=_MH_THRESHOLD, seed=_MH_SEED,
    )


@register("dedup_minhash_from_store", _minhash_pairs_sql(), covers=("ext:dedup", "K2"))
def q_minhash_from_store(spark, sf_dir):
    """The stored-gram-table production path: write the corpus as batch
    0 of the gram log (:func:`gram_log_append_batch`, the per-corpus-
    version artifact SCALE.md prescribes), then run the whole LSH
    pipeline FROM the folded log (:func:`load_gram_log`) — signatures,
    banding, and verify all read the stored table, no re-tokenization.
    Same oracle as dedup_minhash_lsh: the storage hop must be invisible
    in the result."""
    import os
    import shutil
    import tempfile
    import uuid

    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        load_gram_log,
        minhash_pairs_from_grams,
    )

    out = os.path.join(
        tempfile.gettempdir(),
        f"p311_grams_{os.path.basename(sf_dir)}_{uuid.uuid4().hex[:12]}",
    )
    # try/finally + eager materialize: each invocation
    # otherwise leaves a corpus-sized gram store in /tmp forever
    try:
        gram_log_append_batch(table(spark, sf_dir, "documents"), 0, out, n=_MH_N)
        return minhash_pairs_from_grams(
            load_gram_log(spark, out),
            k=_MH_K, bands=_MH_BANDS, threshold=_MH_THRESHOLD, seed=_MH_SEED, persist=False,
        ).transform(materialize)  # materialize before the cleanup
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "dedup_minhash_incremental",
    _minhash_pairs_sql(extra_pred="\n  AND (doc_a % 2 = 1 OR doc_b % 2 = 1)"),
    covers=("ext:dedup", "T1"),
)
def q_minhash_incremental(spark, sf_dir):
    """Batch-vs-corpus incremental dedup: even doc_ids play the already
    ingested corpus, odd doc_ids the arriving batch.  The oracle is the
    FULL MinHash run filtered to pairs with a new (odd) member —
    exactly the contract minhash_incremental_pairs promises: no old-old
    pairs re-found, everything else identical to a full re-dedup."""
    from pipeline311_spark.ext.dedup import minhash_incremental_pairs

    d = table(spark, sf_dir, "documents")
    return minhash_incremental_pairs(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        k=_MH_K, bands=_MH_BANDS, n=_MH_N, threshold=_MH_THRESHOLD, seed=_MH_SEED,
    )


@register(
    "dedup_minhash_incr_store",
    _minhash_pairs_sql(extra_pred="\n  AND (doc_a % 2 = 1 OR doc_b % 2 = 1)"),
    covers=("ext:dedup", "T1", "K2"),
)
def q_minhash_incr_store(spark, sf_dir):
    """The per-batch production path end-to-end: the corpus side's gram
    and signature tables are materialized to parquet (the once-per-
    corpus-version artifacts), then an arriving batch (odd doc_ids) is
    deduped against the STORE — corpus text never re-tokenized.  Same
    oracle as dedup_minhash_incremental: the storage hop and the
    batch-vs-recompute split must be invisible in the result."""
    import os
    import tempfile
    import uuid

    from pipeline311_spark.ext.dedup import (
        _gram_hash_table,
        _signatures_from_grams,
        minhash_incremental_from_store,
    )

    d = table(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 2 == 0)
    base = os.path.join(
        tempfile.gettempdir(),
        f"p311_incr_store_{os.path.basename(sf_dir)}_{uuid.uuid4().hex[:12]}",
    )
    from pyspark.storagelevel import StorageLevel

    from pipeline311_spark.ext.artifact import run_jobs

    # ONE gram pass feeds both artifact writes, overlapped (round 12,
    # guide §2.6 — the BM25 batch-append shape): the old form wrote grams,
    # read them back, and only then computed+wrote signatures — a
    # serial parquet round trip between two writes whose contents both
    # derive from the same persisted gram table.  Signature rows are
    # identical either way (same gram rows in, same MIN aggregation);
    # the serve below still reads BOTH artifacts from parquet, so the
    # store hop the query declares is unchanged.
    gh = _gram_hash_table(existing, "doc_id", "text", _MH_N, distinct=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        run_jobs(
            lambda: gh.write.mode("overwrite").parquet(base + "_grams"),
            lambda: _signatures_from_grams(gh, _MH_K, _MH_SEED)
            .write.mode("overwrite")
            .parquet(base + "_sig"),
        )
    finally:
        gh.unpersist(False)
    stored_grams = spark.read.parquet(base + "_grams")
    return minhash_incremental_from_store(
        spark.read.parquet(base + "_sig"),
        stored_grams,
        d.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        k=_MH_K, bands=_MH_BANDS, n=_MH_N, threshold=_MH_THRESHOLD, seed=_MH_SEED,
    )


def _split_case_sql(expr: str) -> str:
    hb = hash_bucket_sql(expr)
    return f"CASE WHEN {hb} < 80 THEN 'train' WHEN {hb} < 90 THEN 'val' ELSE 'test' END"


def _leakage_sql() -> str:
    return f"""
SELECT doc_a, doc_b, jaccard, split_a, split_b FROM (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         {_split_case_sql('p.doc_a')} AS split_a,
         {_split_case_sql('p.doc_b')} AS split_b
  FROM ({_minhash_pairs_sql()}) p)
WHERE split_a <> split_b
"""


@register("dedup_cross_split_leakage", _leakage_sql(), covers=("ext:dedup", "ext:text"))
def q_cross_split_leakage(spark, sf_dir):
    """Train/test contamination detector: near-dup pairs (full MinHash
    kernel, same params as dedup_minhash_lsh) whose two docs land in
    DIFFERENT hash-assigned splits (hash_bucket ranges).  The
    split label is computed per pair member from the stable-id hash —
    no join against a split table, zero extra shuffles on top of the
    dedup kernel itself."""
    d = table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(
        d, "doc_id", "text",
        k=_MH_K, bands=_MH_BANDS, n=_MH_N, threshold=_MH_THRESHOLD, seed=_MH_SEED,
    )

    def split_of(c: str):
        b = hash_bucket(c)
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    return (
        pairs.withColumn("split_a", split_of("doc_a"))
        .withColumn("split_b", split_of("doc_b"))
        .filter(F.col("split_a") != F.col("split_b"))
    )


# -- SimHash ----------------------------------------------------------------

_SH_BITS = 60  # full portable_hash64 entropy; 15-bit band keys (see ext/dedup.py SIMHASH_BITS)
_SH_BANDS = 4
_SH_MAX_HAMMING = 3
_SH_MAX_BUCKET = 200


def _simhash_sig_cte() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(((h >> {i}) & 1) * 2 - 1) AS b{i}" for i in range(_SH_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SH_BITS)
    )
    return f"""
norm AS (SELECT doc_id, {_norm_sql('text')} AS nt FROM documents),
tok AS (SELECT doc_id, unnest(CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END) AS tok FROM norm),
th AS (SELECT doc_id, {portable_hash64_sql('tok')} AS h FROM tok),
bits AS (SELECT doc_id,
    {bit_sums}
  FROM th GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits)
"""


_SIMHASH_SQL = f"WITH {_simhash_sig_cte()} SELECT doc_id, simhash FROM sig"


@register("dedup_simhash_signatures", _SIMHASH_SQL, covers=("ext:dedup",))
def q_simhash_sig(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=_SH_BITS).withColumnRenamed("doc", "doc_id")


# Signature-level collapse (mirrors ext/dedup.py simhash_near_pairs
# r5): hamming depends only on the signature, so docs are grouped by
# the signature VALUE itself — exact, no fingerprint — banded over one
# representative per signature, with same-signature (hamming-0) pairs
# emitted by clique/star expansion.
def _simhash_pairs_sql() -> str:
    width = _SH_BITS // _SH_BANDS
    mask = (1 << width) - 1
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {bi} AS band, (simhash >> {bi * width}) & {mask} AS key FROM reps"
        for bi in range(_SH_BANDS)
    )
    return f"""
WITH {_simhash_sig_cte()},
grp AS (
  SELECT doc_id, simhash,
         MIN(doc_id) OVER (PARTITION BY simhash) AS rep,
         COUNT(*) OVER (PARTITION BY simhash) AS gn
  FROM sig),
reps AS (SELECT doc_id, simhash FROM grp WHERE doc_id = rep),
banded AS (
{band_selects}
),
gated AS (
  SELECT * FROM banded WHERE (band, key) IN (
    SELECT (band, key) FROM banded GROUP BY band, key HAVING COUNT(*) <= {_SH_MAX_BUCKET})),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM gated a JOIN gated b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
cross_rep AS (
  SELECT doc_a, doc_b, sig_a, sig_b,
         CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
  FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SH_MAX_HAMMING}),
expanded AS (
  SELECT LEAST(ga.doc_id, gb.doc_id) AS doc_a, GREATEST(ga.doc_id, gb.doc_id) AS doc_b,
         CASE WHEN ga.doc_id < gb.doc_id THEN c.sig_a ELSE c.sig_b END AS sig_a,
         CASE WHEN ga.doc_id < gb.doc_id THEN c.sig_b ELSE c.sig_a END AS sig_b,
         c.hamming
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a JOIN grp gb ON gb.rep = c.doc_b
  WHERE ga.gn * gb.gn <= {_CROSS_MAX_PAIRS}
  UNION ALL
  SELECT c.doc_a, c.doc_b, c.sig_a, c.sig_b, c.hamming
  FROM cross_rep c JOIN grp ga ON ga.rep = c.doc_a AND ga.doc_id = c.doc_a
                   JOIN grp gb ON gb.rep = c.doc_b AND gb.doc_id = c.doc_b
  WHERE ga.gn * gb.gn > {_CROSS_MAX_PAIRS}),
ident AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sig_a, a.simhash AS sig_b,
         CAST(0 AS INTEGER) AS hamming
  FROM grp a JOIN grp b ON a.rep = b.rep AND a.doc_id < b.doc_id
  WHERE a.gn <= {_IDENT_MAX_GROUP}
  UNION ALL
  SELECT rep AS doc_a, doc_id AS doc_b, simhash AS sig_a, simhash AS sig_b,
         CAST(0 AS INTEGER) AS hamming
  FROM grp WHERE gn > {_IDENT_MAX_GROUP} AND doc_id <> rep),
allpairs AS (SELECT * FROM expanded UNION ALL SELECT * FROM ident)
SELECT doc_a, doc_b, sig_a, sig_b, hamming FROM allpairs
"""


@register("dedup_simhash_pairs", _simhash_pairs_sql(), covers=("ext:dedup",))
def q_simhash_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    sig = simhash(d, "doc_id", "text", bits=_SH_BITS)
    return simhash_near_pairs(
        sig, bits=_SH_BITS, bands=_SH_BANDS, max_hamming=_SH_MAX_HAMMING,
        max_bucket=_SH_MAX_BUCKET,
    ).withColumn("hamming", F.col("hamming").cast("int"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DOT = "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]), (x, y) -> x + y)"
_NORMV = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


def _cos_sql(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORMV.format(a=a)} * {_NORMV.format(a=b)})"


_TOPK_K = 10
_N_QUERIES = 5

_BRUTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM q JOIN e ON e.vec_id != query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored) t
WHERE rn <= {_TOPK_K}
"""


@register("sim_bruteforce_topk", _BRUTE_SQL, covers=("ext:similarity",))
def q_brute_topk(spark, sf_dir):
    e = emb_table(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    res = brute_force_topk(e, q, "vec_id", "embedding", k=_TOPK_K)
    return res.select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


_ANN_PLANES = 8
_ANN_SEED = 7
_ANN_K = 5
_EMB_DIM = 64


def _plane_sql_literals() -> list[str]:
    planes = deterministic_planes(_ANN_PLANES, _EMB_DIM, _ANN_SEED)
    return ["[" + ", ".join(repr(c) for c in plane) + "]::DOUBLE[]" for plane in planes]


def _signature_sql(vec: str) -> str:
    bits = [
        f"(CASE WHEN {_DOT.format(a=vec, b=lit)} > 0 THEN '1' ELSE '0' END)"
        for lit in _plane_sql_literals()
    ]
    return "concat(" + ", ".join(bits) + ")"


def _ann_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
b AS (SELECT vec_id, v, {_signature_sql('v')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, b.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM q JOIN b USING (bucket) WHERE b.vec_id != query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored) t
WHERE rn <= {_ANN_K}
"""


@register("sim_lsh_ann_topk", _ann_sql(), covers=("ext:similarity",))
def q_lsh_ann(spark, sf_dir):
    e = emb_table(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    res = lsh_ann_topk(
        e, q, "vec_id", "embedding",
        k=_ANN_K, n_planes=_ANN_PLANES, seed=_ANN_SEED, dim=_EMB_DIM,
    )
    return res.select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


def _multiprobe_sql() -> str:
    # probe list = own bucket + each 1-bit flip, as a string-surgery
    # list_transform over the plane index; corpus buckets stay single.
    flips = (
        "list_prepend(bucket, list_transform(range(1, %d + 1), "
        "i -> concat(substr(bucket, 1, i - 1), "
        "CASE substr(bucket, i, 1) WHEN '1' THEN '0' ELSE '1' END, "
        "substr(bucket, i + 1))))" % _ANN_PLANES
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
b AS (SELECT vec_id, v, {_signature_sql('v')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, unnest({flips}) AS bucket
      FROM b WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT query_id, b.vec_id AS neighbor_id, {_cos_sql('qv', 'v')} AS cos_sim
  FROM q JOIN b USING (bucket) WHERE b.vec_id != query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored) t
WHERE rn <= {_ANN_K}
"""


@register("sim_lsh_multiprobe_topk", _multiprobe_sql(), covers=("ext:similarity",))
def q_lsh_multiprobe(spark, sf_dir):
    e = emb_table(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    res = lsh_multiprobe_topk(
        e, q, "vec_id", "embedding",
        k=_ANN_K, n_planes=_ANN_PLANES, seed=_ANN_SEED, dim=_EMB_DIM,
    )
    return res.select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


@register("sim_lsh_partitioned_probe", _ann_sql(), covers=("ext:similarity", "K2"))
def q_lsh_partitioned_probe(spark, sf_dir):
    """The ANN scale layout made concrete: the bucketed corpus is
    WRITTEN ``partitionBy(bucket)`` (what the lsh_ann docstrings
    prescribe for 100 TB) and the probe joins against the read-back
    table, so each query's bucket resolves to a directory — a
    partition-pruned file read, not a corpus scan (static-filter
    pruning asserted in tests/test_layout.py).  The partition key is
    prefixed ('b' + signature) because Hive-style partition-value
    inference would parse a bit-string like '01100110' as a number and
    drop the leading zero.  Results are identical to sim_lsh_ann_topk
    — same oracle."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import Window

    from pipeline311_spark.ext.similarity import cosine_pre, lsh_bucket

    e = emb_table(spark, sf_dir)
    cb = (
        lsh_bucket(e, "vec_id", "embedding", _ANN_PLANES, _ANN_SEED, _EMB_DIM)
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("pkey", F.concat(F.lit("b"), F.col("bucket")))
        .drop("bucket")
    )
    # pid-keyed deterministic store (uuid-per-invocation leaked a
    # corpus-sized copy per run; processes stay isolated)
    out = os.path.join(
        tempfile.gettempdir(),
        f"p311_annpart_{os.path.basename(sf_dir)}_{os.getpid()}",
    )
    cb.write.mode("overwrite").partitionBy("pkey").parquet(out)
    # explicit schema: an empty corpus leaves no partition dirs to infer
    corpus = spark.read.schema(cb.schema).parquet(out)

    qb = F.broadcast(
        lsh_bucket(
            e.filter(F.col("vec_id") < _N_QUERIES),
            "vec_id", "embedding", _ANN_PLANES, _ANN_SEED, _EMB_DIM,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("qn"),
            F.concat(F.lit("b"), F.col("bucket")).alias("pkey"),
        )
    )
    scored = qb.join(corpus, "pkey").filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_pre(F.col("qv"), F.col("v"), F.col("qn"), F.col("nv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


_NEAR_DUP_THRESHOLD = 0.3


_NEAR_DUP_MAX_BUCKET = 200


# Vector-identity collapse (mirrors ext/similarity.py
# embedding_near_dup_pairs r5): group by the exact vector value, bucket
# one representative per distinct vector, expand; identical-vector
# pairs compute cosine with the SAME formula (on v, v) as cross pairs.
def _near_dup_sql() -> str:
    self_cos = _cos_sql("a.v", "a.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
grp AS (
  SELECT vec_id, v,
         MIN(vec_id) OVER (PARTITION BY v) AS rep,
         COUNT(*) OVER (PARTITION BY v) AS gn
  FROM e),
b0 AS (SELECT vec_id, v, {_signature_sql('v')} AS bucket FROM grp WHERE vec_id = rep),
b AS (SELECT * FROM b0 WHERE bucket IN (
  SELECT bucket FROM b0 GROUP BY bucket HAVING COUNT(*) <= {_NEAR_DUP_MAX_BUCKET})),
cross_rep AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, {_cos_sql('a.v', 'b2.v')} AS cos_sim
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
  WHERE {_cos_sql('a.v', 'b2.v')} >= {_NEAR_DUP_THRESHOLD}),
expanded AS (
  SELECT LEAST(ga.vec_id, gb.vec_id) AS id_a, GREATEST(ga.vec_id, gb.vec_id) AS id_b,
         c.cos_sim
  FROM cross_rep c JOIN grp ga ON ga.rep = c.id_a JOIN grp gb ON gb.rep = c.id_b
  WHERE ga.gn * gb.gn <= {_CROSS_MAX_PAIRS}
  UNION ALL
  SELECT c.id_a, c.id_b, c.cos_sim
  FROM cross_rep c JOIN grp ga ON ga.rep = c.id_a AND ga.vec_id = c.id_a
                   JOIN grp gb ON gb.rep = c.id_b AND gb.vec_id = c.id_b
  WHERE ga.gn * gb.gn > {_CROSS_MAX_PAIRS}),
ident AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {self_cos} AS cos_sim
  FROM grp a JOIN grp b ON a.rep = b.rep AND a.vec_id < b.vec_id
  WHERE a.gn <= {_IDENT_MAX_GROUP} AND {self_cos} >= {_NEAR_DUP_THRESHOLD}
  UNION ALL
  SELECT a.rep AS id_a, a.vec_id AS id_b, {self_cos} AS cos_sim
  FROM grp a WHERE a.gn > {_IDENT_MAX_GROUP} AND a.vec_id <> a.rep
    AND {self_cos} >= {_NEAR_DUP_THRESHOLD}),
allpairs AS (SELECT * FROM expanded UNION ALL SELECT * FROM ident)
SELECT id_a, id_b, cos_sim FROM allpairs
"""


@register("emb_near_dup_pairs", _near_dup_sql(), covers=("ext:dedup", "ext:similarity"))
def q_emb_near_dup(spark, sf_dir):
    e = emb_table(spark, sf_dir)
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding",
        threshold=_NEAR_DUP_THRESHOLD, n_planes=_ANN_PLANES, seed=_ANN_SEED, dim=_EMB_DIM,
        max_bucket=_NEAR_DUP_MAX_BUCKET,
    )


# -- SemDeDup (semantic dedup over embedding clusters) ----------------------

_SEMDEDUP_THRESHOLD = 0.3
_SEMDEDUP_MAX_CLUSTER = 10_000


def _semdedup_sql() -> str:
    cos = _cos_sql("a.v", "b.v")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT label AS c_id, v AS cv
         FROM (SELECT label, v, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
               FROM e WHERE label IS NOT NULL) t WHERE rn = 1),
assigned AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, cent.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'cent.cv')} DESC, cent.c_id) AS rn
    FROM e CROSS JOIN cent) t WHERE rn = 1),
small AS (
  SELECT * FROM assigned WHERE c_id IN (
    SELECT c_id FROM assigned GROUP BY c_id HAVING COUNT(*) <= {_SEMDEDUP_MAX_CLUSTER})),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM small a JOIN small b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
  WHERE {cos} >= {_SEMDEDUP_THRESHOLD})
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(c_id AS BIGINT) AS centroid_label
FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register("dedup_semantic_keep", _semdedup_sql(), covers=("ext:dedup", "ext:similarity"))
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al., arXiv:2303.09540) composed from the
    engine's kernels: cosine assignment to the kmeans seed centroids
    (one broadcast scan), within-cluster near-dup pruning (cluster-
    bounded self-join with the max_cluster gate), lowest-id keep rule.
    Returns the surviving (vec_id, centroid_label) rows."""
    from pyspark.sql import Window

    from pipeline311_spark.ext.similarity import semantic_dedup_keep

    e = emb_table(spark, sf_dir)
    first = Window.partitionBy("label").orderBy("vec_id")
    cent = (
        e.filter(F.col("label").isNotNull()).withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .select(F.col("label").alias("vec_id"), F.col("embedding"))
    )
    kept = semantic_dedup_keep(
        emb_table(spark, sf_dir), cent, "vec_id", "embedding",
        threshold=_SEMDEDUP_THRESHOLD, max_cluster=_SEMDEDUP_MAX_CLUSTER,
    )
    return kept.select(
        F.col("vec_id").cast("long"), F.col("centroid_id").cast("long").alias("centroid_label")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKENS_SQL = f"""
SELECT doc_id,
       CAST({_ntok_sql()} AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST({_ntok_sql()}
            + length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_bpe_ish
FROM documents
"""


@register("text_token_counts", _TOKENS_SQL, covers=("ext:text",))
def q_token_counts(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe_ish"),
    )


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
    toks = d.select("lang", F.transform(tokens("text"), F.lower).alias("__tl"))
    score_cols = lang_scores_on_tokens(F.col("__tl"))
    scored = toks.select(
        "lang", *[c.alias(f"__s_{lg}") for lg, c in score_cols.items()]
    )
    pred = lang_pred_from_scores({lg: F.col(f"__s_{lg}") for lg in score_cols})
    return scored.groupBy("lang", pred.alias("predicted_lang")).agg(
        F.count("*").alias("n_docs")
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
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["lexical_diversity"].alias("lexical_diversity"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score("text").alias("quality_score"),
    )


_FINGERPRINT_SQL = f"""
SELECT doc_id, md5({_norm_sql('text')}) AS fingerprint FROM documents
"""


@register("text_fingerprint", _FINGERPRINT_SQL, covers=("ext:text",))
def q_fingerprint(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


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


# Stubbed decode path: Spark plumbing is real (mapInPandas), codec is a
# deterministic fake (sha256-digest bytes / 255).  The raw array<double>
# column is rendered to scalars at the registry boundary (driver's pandas
# canonicalizer cannot hash array cells — confirmed round-1 err): size +
# a 4-decimal csv rendering.  The DuckDB twin reconstructs the identical
# features from sha256 hex pairs; Spark format_number vs DuckDB
# printf('%.4f') verified byte-exact for all 256 possible values of
# i/255.0 (both IEEE double division + half-even decimal rounding).
_IMAGE_FEATURES_SQL = (
    # NULL payload mirrors the mapInPandas stub exactly: byte_len 0,
    # sha256 of b'', NULL features / n_features
    "WITH h AS (SELECT doc_id AS media_id, text IS NULL AS no_payload,"
    " CAST(coalesce(strlen(text), 0) AS BIGINT) AS byte_len,"
    " sha256(coalesce(text, '')) AS sha256"
    " FROM documents) "
    "SELECT media_id, byte_len, sha256, "
    "CASE WHEN no_payload THEN NULL ELSE CAST(8 AS BIGINT) END AS n_features, "
    "CASE WHEN no_payload THEN NULL ELSE "
    + " || ',' || ".join(
        f"printf('%.4f', CAST(('0x' || substr(sha256, {2 * i + 1}, 2)) AS INTEGER) / 255.0)"
        for i in range(8)
    )
    + " END AS features_csv FROM h"
)


@register("multimodal_image_features", _IMAGE_FEATURES_SQL, covers=("ext:multimodal",))
def q_image_features(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import decode_image_features

    d = table(spark, sf_dir, "documents")
    feats = decode_image_features(documents_as_media(d))
    return feats.select(
        "media_id",
        "byte_len",
        "sha256",
        F.size("features").cast("long").alias("n_features"),
        F.array_join(
            F.transform("features", lambda v: F.format_number(v, 4)), ","
        ).alias("features_csv"),
    )


# Audio windowing (stub codec): one row per fixed-length window, the
# PCM-windowing shape with UTF-8 standing in for the decoder and md5
# for the per-window feature.  Windows are CHARACTER-sliced on both
# sides (Spark decodes the payload bytes back to str; DuckDB substr is
# char-based) so multi-byte UTF-8 text can't split differently.
_AUDIO_WINDOWS_SQL = """
SELECT doc_id AS media_id, CAST(i AS INT) AS window_no,
       CAST(length(substr(text, i*256+1, 256)) AS BIGINT) AS n_chars,
       md5(substr(text, i*256+1, 256)) AS window_md5
FROM documents, unnest(range(0, least(8, CAST(ceil(length(text)/256.0) AS BIGINT)))) AS t(i)
WHERE text IS NOT NULL
"""


@register("multimodal_audio_windows", _AUDIO_WINDOWS_SQL, covers=("ext:multimodal",))
def q_audio_windows(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import audio_window_features

    d = table(spark, sf_dir, "documents")
    return audio_window_features(
        documents_as_media(d), window_chars=256, max_windows=8
    )


# Resize (stub codec): nearest-neighbor downsample as keep-every-4th
# character; the binary payload column is dropped at the registry
# boundary (the md5 fingerprints it), orig/resized sizes verified.
_RESIZE_SQL = """
SELECT doc_id AS media_id,
       CAST(length(text) AS BIGINT) AS orig_chars,
       CAST(length(ds) AS BIGINT) AS resized_chars,
       md5(ds) AS resized_md5
FROM (SELECT doc_id, text, coalesce(array_to_string(
        list_transform(range(1, length(text)+1, 4),
                       i -> substr(text, CAST(i AS BIGINT), 1)), ''), '') AS ds
      FROM documents WHERE text IS NOT NULL) t
"""


@register("multimodal_resize", _RESIZE_SQL, covers=("ext:multimodal",))
def q_resize(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import resize_media

    d = table(spark, sf_dir, "documents")
    return resize_media(documents_as_media(d), stride=4).drop("resized")


# Video frame sampling (stub codec): frames are BYTE slices of the
# payload, so the cross-engine fingerprint goes through lowercase hex
# (DuckDB has no BLOB substring; a hex-string slice at 2x offsets is
# byte-aligned on both engines).
_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id, CAST(i AS INT) AS frame_no,
       CAST(octet_length(encode(substring(lower(hex(encode(text))), CAST(i*512+1 AS BIGINT), 512))) / 2 AS BIGINT) AS frame_bytes,
       md5(substring(lower(hex(encode(text))), CAST(i*512+1 AS BIGINT), 512)) AS frame_hex_md5
FROM documents,
     unnest(range(0, least(8, greatest(1, CAST(octet_length(encode(text)) // 256 AS BIGINT))))) AS t(i)
WHERE text IS NOT NULL
"""


@register("multimodal_frame_sample", _FRAME_SAMPLE_SQL, covers=("ext:multimodal",))
def q_frame_sample(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import frame_sample

    d = table(spark, sf_dir, "documents")
    frames = frame_sample(documents_as_media(d), every_bytes=256, max_frames=8)
    hex_frame = F.lower(F.hex("frame"))
    return frames.select(
        "media_id",
        "frame_no",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.md5(F.encode(hex_frame, "UTF-8")).alias("frame_hex_md5"),
    )


# REAL stdlib codecs (r6), oracle-gated end-to-end: each doc's md5
# digest bytes become deterministic media content — a 4x4 grayscale
# image / 8 int16 PCM samples — which the engine ENCODES to an actual
# PNG / WAV payload and pushes through the real decode operators
# (ext/codecs.py via decode_image_features(fake=False) /
# audio_pcm_window_features).  DuckDB cannot run zlib, but it can
# compute the SAME md5-derived integers directly — so any codec bug
# (filter math, CRC, PCM framing, windowing) surfaces as an exact-int
# mismatch.  PNG byte length is zlib-version-dependent and excluded.

def _md5_media(d, kind: str):
    """(media_id, payload) where payload is a real PNG (4x4 gray, md5
    digest bytes as pixels) or WAV (8 int16 LE samples from the same
    bytes) — encoded INSIDE mapInPandas with the stdlib codec."""
    import hashlib as _hl
    import struct as _st

    import pandas as _pd

    from pipeline311_spark.ext.codecs import encode_png, encode_wav
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                dg = _hl.md5(text.encode("utf-8")).digest()
                if kind == "png":
                    payloads.append(encode_png(4, 4, dg, 0))
                else:
                    samples = list(_st.unpack("<8h", dg))
                    payloads.append(encode_wav(samples, framerate=8000, sampwidth=2))
                ids.append(mid)
            yield _pd.DataFrame(
                {
                    "media_id": _pd.Series(ids, dtype="int64"),
                    "payload": _pd.Series(payloads, dtype="object"),
                }
            )

    return d.filter(F.col("text").isNotNull()).select("doc_id", "text").mapInPandas(
        run, schema
    )


_PX = [
    f"CAST(('0x' || substr(md5(text), {2 * i + 1}, 2)) AS BIGINT)" for i in range(16)
]
# little-endian int16 from digest byte pairs, matching struct '<8h'
_SMP = [
    f"(CASE WHEN {_PX[2 * k]} + 256 * {_PX[2 * k + 1]} >= 32768 "
    f"THEN {_PX[2 * k]} + 256 * {_PX[2 * k + 1]} - 65536 "
    f"ELSE {_PX[2 * k]} + 256 * {_PX[2 * k + 1]} END)"
    for k in range(8)
]

_PNG_ROUNDTRIP_SQL = f"""
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
       CAST({' + '.join(_PX)} AS BIGINT) AS sum_px,
       CAST(LEAST({', '.join(_PX)}) AS BIGINT) AS min_px,
       CAST(GREATEST({', '.join(_PX)}) AS BIGINT) AS max_px
FROM documents WHERE text IS NOT NULL
"""


@register("multimodal_png_roundtrip", _PNG_ROUNDTRIP_SQL, covers=("ext:multimodal",))
def q_png_roundtrip(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import decode_image_features

    d = table(spark, sf_dir, "documents")
    feats = decode_image_features(_md5_media(d, "png"), dim=8, fake=False)
    f = F.col("features")
    # mean*16 is exact in IEEE doubles (sum <= 4080 integral, /16 is a
    # power-of-two scale) — recovers the integer pixel sum bit-exactly
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        F.round(f[3] * 16).cast("long").alias("sum_px"),
        f[5].cast("long").alias("min_px"),
        f[6].cast("long").alias("max_px"),
    )


_WAV_WINDOWS_SQL = f"""
SELECT doc_id AS media_id, CAST(w AS INT) AS window_no,
       CAST(4 AS BIGINT) AS n_samples,
       CAST({{sum_abs}} AS BIGINT) AS sum_abs,
       CAST({{peak}} AS BIGINT) AS peak
FROM documents, unnest([0, 1]) AS t(w)
WHERE text IS NOT NULL
""".format(
    sum_abs="CASE WHEN w = 0 THEN "
    + " + ".join(f"ABS({_SMP[k]})" for k in range(4))
    + " ELSE "
    + " + ".join(f"ABS({_SMP[k]})" for k in range(4, 8))
    + " END",
    peak="CASE WHEN w = 0 THEN GREATEST("
    + ", ".join(f"ABS({_SMP[k]})" for k in range(4))
    + ") ELSE GREATEST("
    + ", ".join(f"ABS({_SMP[k]})" for k in range(4, 8))
    + ") END",
)


@register("multimodal_wav_windows", _WAV_WINDOWS_SQL, covers=("ext:multimodal",))
def q_wav_windows(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import audio_pcm_window_features

    d = table(spark, sf_dir, "documents")
    return audio_pcm_window_features(
        _md5_media(d, "wav"), window_samples=4, max_windows=8
    ).select("media_id", "window_no", "n_samples", "sum_abs", "peak")


# Nearest-neighbor downsample of the 4x4 md5 image by factor 2 keeps
# pixels (0,0),(0,2),(2,0),(2,2) = digest bytes 0, 2, 8, 10 — the
# oracle recomputes exactly those from the hex, so the whole
# encode → decode → resize → re-encode → decode chain (two real codec
# round trips through two mapInPandas stages) is exact-int gated.
_PNG_RESIZE_SQL = f"""
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS orig_w, CAST(4 AS BIGINT) AS orig_h,
       CAST(2 AS BIGINT) AS new_w, CAST(2 AS BIGINT) AS new_h,
       CAST({_PX[0]} + {_PX[2]} + {_PX[8]} + {_PX[10]} AS BIGINT) AS sum_px
FROM documents WHERE text IS NOT NULL
"""


@register("multimodal_png_resize_roundtrip", _PNG_RESIZE_SQL, covers=("ext:multimodal",))
def q_png_resize_roundtrip(spark, sf_dir):
    from pipeline311_spark.ext.multimodal import decode_image_features, resize_png

    d = table(spark, sf_dir, "documents")
    resized = resize_png(_md5_media(d, "png"), factor=2).select(
        "media_id", F.col("resized").alias("payload"),
        "orig_w", "orig_h", "new_w", "new_h",
    )
    feats = decode_image_features(resized, dim=8, fake=False).join(
        resized.select("media_id", "orig_w", "orig_h"), "media_id"
    )
    f = F.col("features")
    # mean*4 exact in IEEE doubles (integral sum, power-of-two scale)
    return feats.select(
        "media_id",
        F.col("orig_w").cast("long").alias("orig_w"),
        F.col("orig_h").cast("long").alias("orig_h"),
        f[0].cast("long").alias("new_w"),
        f[1].cast("long").alias("new_h"),
        F.round(f[3] * 4).cast("long").alias("sum_px"),
    )


# Boilerplate line removal (the C4/RefinedWeb curation step): lines
# whose normalized form appears in > max_df distinct docs are dropped,
# survivors reassembled in order.  The md5 of the reassembled text is
# the cross-engine fingerprint (driver canon never hashes long text).
_BP_MAX_DF = 1
_BP_MIN_CHARS = 5

_BOILERPLATE_SQL = f"""
WITH l AS (
  SELECT doc_id, p.pos AS pos, p.line AS line, lower(trim(p.line)) AS norm
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
        WHERE text IS NOT NULL) t,
       unnest(list_transform(range(1, len(ls) + 1),
                             i -> {{'pos': i, 'line': ls[i]}})) AS u(p)),
drop_set AS (
  SELECT norm FROM (SELECT DISTINCT doc_id, norm FROM l
                    WHERE length(norm) >= {_BP_MIN_CHARS}) d
  GROUP BY norm HAVING COUNT(*) > {_BP_MAX_DF}),
kept AS (SELECT * FROM l WHERE norm NOT IN (SELECT norm FROM drop_set)),
re AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT b.doc_id,
       CAST(len(string_split(b.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(re.clean_text, '')) AS clean_md5
FROM documents b LEFT JOIN re ON re.doc_id = b.doc_id
WHERE b.text IS NOT NULL
"""


@register("text_remove_boilerplate", _BOILERPLATE_SQL, covers=("ext:text", "ext:dedup"))
def q_remove_boilerplate(spark, sf_dir):
    from pipeline311_spark.ext.textstats import remove_boilerplate_lines

    d = table(spark, sf_dir, "documents")
    out = remove_boilerplate_lines(
        d, "doc_id", "text", max_df=_BP_MAX_DF, min_chars=_BP_MIN_CHARS
    )
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


# Embedding norm stats (decimal-exact group means over rounded norms).
_NORM_STATS_SQL = f"""
WITH n AS (
  SELECT label, {_NORMV.format(a='embedding::DOUBLE[]')} AS nrm
  FROM embeddings WHERE embedding IS NOT NULL)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(round(nrm, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
FROM n GROUP BY label
"""


@register("emb_norm_stats", _NORM_STATS_SQL, covers=("ext:similarity",))
def q_norm_stats(spark, sf_dir):
    from pipeline311_spark.ext.similarity import as_double, l2_norm

    e = emb_table(spark, sf_dir)
    nrm = l2_norm(as_double("embedding"))
    n = e.select("label", nrm.alias("nrm"))
    return n.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (F.sum(F.round("nrm", 6).cast("decimal(18,6)")).cast("double") / F.count("*")).alias("avg_norm"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
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
    DISTINCT gram rows through ``foreachBatch`` →
    :func:`pipeline311_spark.ext.dedup.gram_log_append_batch` (replays
    overwrite their own batch_id partition — idempotent), the log is
    COMPACTED to its batch_id=-1 base (the crash-recoverable swap,
    ext/artifact.py), and the whole LSH pipeline runs FROM the folded
    store.  Same oracle as dedup_minhash_lsh / dedup_minhash_from_store:
    a corpus streamed in three batches, appended, and compacted must
    yield exactly the pairs a one-shot run yields."""
    import os
    import shutil
    import tempfile
    import uuid

    from pipeline311_spark.ext.dedup import (
        gram_log_append_batch,
        gram_log_compact,
        load_gram_log,
        minhash_pairs_from_grams,
    )
    from pipeline311_spark.session import prep_session

    prep_session(spark)  # streaming bypasses table(): pin tz/conf here
    out = os.path.join(tempfile.gettempdir(), f"p311_mhs_{uuid.uuid4().hex[:12]}")
    src, store, ckpt = (os.path.join(out, s) for s in ("src", "store", "ckpt"))
    try:
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
            persist=False,
        ).transform(materialize)  # materialize before the cleanup
    finally:
        shutil.rmtree(out, ignore_errors=True)
