"""Deduplication operators (north star): exact, n-gram Jaccard and
MinHash+LSH (with the stored gram log it serves from).

Gram form: every fuzzy operator starts from one per-document array of
distinct word n-gram hashes, folded map-side from the text
(:func:`_row_gram_arrays`).  The stored gram log holds the same arrays,
one row per document, so the in-memory and stored MinHash paths read
one form.

Scale design (the part that matters at 100 TB):

* Candidate generation is always *bucketed* (LSH band join / shingle
  join), never an O(n^2) cross join.
* High-frequency join keys are the classic blowup ("the " appears in
  every doc → n^2 pairs).  Every candidate generator here takes a
  ``max_df`` cap and drops keys more frequent than it — explicitly, as
  a declared parameter, not a silent truncation.
* Everything is built from exploding arrays + groupBy + joins: pure
  shuffle work that AQE can re-plan, no driver-side state.

Plans are built as Spark SQL text (``selectExpr``, string ``filter``,
``F.expr`` wrapped once per expression, SQL window and lambda syntax):
no ``F.col`` call or ``Column`` method runs, so building a plan runs no
PySpark call-site capture (ext/hashing.py module note).  The expression
builders (``_*_expr``, ``_minhash_aggs``, ``_stat_aggs``) return text;
the DuckDB oracle twins in plans/extensions.py mirror them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline311_spark.ext.artifact import (
    RowLog,
    admit_append,
    append_rows,
    compact_log,
    delete_rows,
    load_rows,
)
from pipeline311_spark.ext.cache import persist_tracked
from pipeline311_spark.ext.hashing import (
    MOD,
    _dlit,
    affine,
    ensure_parallelism,
    hash_params,
)
from pipeline311_spark.ext.textstats import fingerprint, normalize_text, tokens

# Identical-content groups up to this size emit their full pair clique
# (matching ungated pre-collapse semantics); larger groups emit star
# pairs rep↔member — linear output, same downstream clusters.  See the
# "Content-identity collapse" note below.
IDENT_MAX_GROUP = 200
# CROSS-group expansion cap: a verified rep↔rep pair whose two
# identical-content groups would expand to more than this many
# member↔member rows (gn_a · gn_b) emits ONLY the rep↔rep bridge edge
# instead of the full bipartite product — two million-doc boilerplate
# groups that verify as near-dups would otherwise emit 10^12 rows,
# re-introducing exactly the quadratic blowup IDENT_MAX_GROUP caps
# inside groups.  Downstream connected-components clusters are
# IDENTICAL: every member is already connected to its rep by the
# always-emitted intra-group pairs (clique or star), so the single
# bridge edge joins the two components.  Sized at IDENT_MAX_GROUP² so
# two groups at the intra-group clique boundary still expand fully.
CROSS_MAX_PAIRS = IDENT_MAX_GROUP * IDENT_MAX_GROUP
# Two affine keys for the XOR content fingerprints (independent of the
# MinHash permutation family, which uses seed=42).
FP_PARAMS = hash_params(2, seed=97)
# Endpoint-row bound above which the candidate-doc probe set pays one
# small distinct exchange before being broadcast.  Below it, duplicate
# build rows are cheaper than the exchange — broadcast semi-joins
# tolerate them.  Above it (duplicate-heavy corpus with raised
# bucket caps), 2·|pairs| endpoints can exceed the
# |distinct candidate docs| bound by orders of magnitude and push the
# driver-collected broadcast past its memory envelope, so the distinct
# restores the bound.  1M longs ≈ 8 MB pre-dedup — comfortably inside
# the default broadcast threshold either way; the gate only matters
# when pair counts explode.
PROBE_DISTINCT_ENDPOINTS = 1_000_000


def _probe_doc_ids(cand: DataFrame, n_pairs: int) -> DataFrame:
    """Candidate-pair endpoint ids (``doc``) destined for a broadcast
    semi-join: exchange-free when small, distinct'd past
    PROBE_DISTINCT_ENDPOINTS (``n_pairs`` is the already-materialized
    candidate count, so the gate costs nothing)."""
    docs = cand.selectExpr("explode(array(doc_a, doc_b)) AS doc")
    if 2 * n_pairs > PROBE_DISTINCT_ENDPOINTS:
        docs = docs.distinct()
    return docs

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one doc (lowest id) per normalized-text fingerprint.
    Hash-groupBy: one shuffle on the fingerprint."""
    fp = ensure_parallelism(df).withColumn("__fp", F.expr(fingerprint(text_col)))
    rn = f"row_number() OVER (PARTITION BY __fp ORDER BY {id_col})"
    return fp.withColumn("__rn", F.expr(rn)).filter("__rn = 1").drop("__fp", "__rn")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str, key: str | None = None) -> DataFrame:
    """Fingerprint groups with >1 member (the audit view of exact_dedup).
    ``key`` is the grouping key as SQL text (default: the
    :func:`~pipeline311_spark.ext.textstats.fingerprint` of the text)."""
    k = key if key is not None else fingerprint(text_col)
    return (
        ensure_parallelism(df.select(id_col, text_col)).selectExpr(id_col, f"{k} AS fp")
        .groupBy("fp")
        .agg(F.expr("count(*) AS n_docs"), F.expr(f"min({id_col}) AS keeper_id"))
        .filter("n_docs > 1")
    )


# ---------------------------------------------------------------------------
# Shingling + n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_df: int = 50,
    max_group: int = IDENT_MAX_GROUP,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word n-gram shingle sets.

    Plan: per-row distinct gram HASHES (:func:`_row_gram_arrays`,
    exploded — shingle strings are never materialized, so the
    self-join shuffles 8-byte longs instead of ~n-word strings;
    Jaccard over 60-bit gram hashes equals string Jaccard up to md5
    collisions, ~2^-60 per pair) → drop grams with doc-frequency >
    max_df (blowup guard; per-doc-distinct grams make ``count(*)`` the
    doc frequency, no count-distinct state) → self-join on gram to
    count the intersection → join per-doc sizes → Jaccard =
    inter / (|A| + |B| - inter).  Shuffles: one per groupBy/join, all
    on bounded 8-byte keys.

    Intersection counting uses the bucket-collect shape the LSH band
    join proved out (one window count + ``collect_set`` on the SAME
    (g) partitioning, pairs generated array-side) instead of a
    gram-table self-join: the doc-frequency gate, membership
    collection, and pair generation ride ONE shuffle of the gram rows,
    where the self-join form shuffled the gated table twice (once per
    alias).  The ``max_df`` cap bounds the collect_set buffer
    (~8·max_df bytes) and the per-bucket pair fan-out (≤ C(max_df, 2))
    exactly as before; measured 2.18 s → 1.61 s at sf0.1/local[32],
    identical output (exceptAll == 0 both ways).

    Content-identity collapse (see the module-level note): content
    stats ride each gram row from the map-side fold, and the first
    reduction after the single ``repartition("g")`` exchange collapses
    each (gram, content-group) to the group's representative (min doc
    id = the rep, since every member of an identical-content group
    carries every gram).  The doc-frequency gate therefore counts
    CONTENT GROUPS, not raw docs — a gram shared by 500 identical
    boilerplate docs plus 3 distinct docs has df 4, so dup mass no
    longer inflates df past ``max_df`` and suppresses legitimate
    near-dup pairs.  All later stages (window gate, collect_set, pair
    gen, inter groupBy) reuse the same hash(g) distribution — still
    exactly one gram-row exchange (the old shape paid two: this one
    plus a per-doc sizes aggregation that is now a map-side row stat).

    ``max_group`` bounds identical-group pair OUTPUT: clique up to the
    cap, star beyond (see ``IDENT_MAX_GROUP``).
    """
    # Persisting rs is load-bearing twice over: (1) every consumer
    # (gram rows, sizes, expansion, ident) tokenizes once instead of
    # once each; (2) the cache boundary stops Catalyst from hoisting
    # the garr-derived stat columns ABOVE the explode's Generate node —
    # without it the optimizer rewrites Generate to carry the whole
    # garr array into every exploded gram row and evaluate the stats
    # per gram row (measured 18 s vs 0.3 s on a 20k-doc corpus).
    # Footprint ≈ the MinHash gram-array cache plus three longs per
    # doc; reclaim via cache_scope/clearCache.
    rs = persist_tracked(_row_stats(_row_gram_arrays(df, id_col, text_col, n)))
    groups = persist_tracked(_with_groups(rs.select("doc", "sz", "fp1", "fp2")))
    sh = rs.selectExpr("doc", "sz", "fp1", "fp2", "explode(garr) AS g")
    buckets = (
        sh.repartition("g")
        .groupBy("g", "sz", "fp1", "fp2")
        .agg(F.expr("min(doc) AS doc"))
        .withColumn("df_", F.expr("count(*) OVER (PARTITION BY g)"))
        .filter(f"df_ >= 2 AND df_ <= {max_df}")
        .groupBy("g")
        .agg(F.expr("sort_array(collect_set(doc)) AS docs"))
    )
    inter = (
        buckets.selectExpr(f"explode({_bucket_pairs_expr()}) AS p")
        .groupBy(F.expr("p.doc_a AS doc_a"), F.expr("p.doc_b AS doc_b"))
        .agg(F.expr("count(*) AS inter"))
    )
    # group size rides the SAME sizes join the Jaccard needs anyway —
    # the expansion cap then costs zero extra stages (gn_cols)
    rsizes = groups.filter("doc = rep").select("doc", "sz", "gn")
    ra = rsizes.toDF("doc_a", "sz_a", "gn_a")
    rb = rsizes.toDF("doc_b", "sz_b", "gn_b")
    cross = (
        inter.join(ra, "doc_a")
        .join(rb, "doc_b")
        .withColumn("jaccard", F.expr("inter / (sz_a + sz_b - inter)"))
        .filter(f"jaccard >= {_dlit(threshold)}")
    )
    expanded = _expand_cross(
        cross, groups, ["inter", "sz_a", "sz_b", "jaccard"], ("gn_a", "gn_b"),
        swap_cols=(("sz_a", "sz_b"),),
    )
    ident = _ident_member_pairs(groups, max_group, carry=("sz",)).selectExpr(
        "doc_a", "doc_b", "sz AS inter", "sz AS sz_a", "sz AS sz_b",
        f"{_dlit(1.0)} AS jaccard",
    )
    return expanded.unionByName(ident)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Combines n consecutive token hashes into one gram hash:
# g = fold((acc * GRAM_BASE + next) % MOD) — mirrored in the DuckDB
# oracle (plans/extensions.py gram expression).
GRAM_BASE = 31


def _row_gram_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, garr): each doc's DISTINCT word n-gram hashes as one array,
    folded per row WITHOUT ever materializing n-gram strings — the one
    gram form every fuzzy operator and the stored gram log read.

    Shape is fully map-side — ZERO shuffles.  Each row hashes its own
    tokens once into an array (md5 → 60-bit int, evaluated per element
    inside ``transform``), then a second ``transform`` over gram start
    positions folds n consecutive token hashes with integer arithmetic
    (``element_at`` is O(1) on the materialized hash array), and
    ``array_distinct`` makes the result a set.  Consumers that need
    (doc, g) rows (the signature groupBy, the shingle bucket join)
    explode it in the same stage.

    This replaced a posexplode + ``lead()``-window formulation: the
    window needed a hash repartition on ``doc`` — a full shuffle of the
    corpus text plus a per-partition sort of the *exploded* token rows
    (measured 0.43 s vs 0.59 s at sf0.1/local[32]; at 100 TB the
    removed shuffle is the whole ballgame).  Kept as an array, a gram
    set needs no ``collect_set`` exchange to rebuild for the
    exact-Jaccard verify, and a persisted or stored copy is one row per
    doc instead of one per gram.  Docs with fewer than n tokens are
    dropped."""
    toks = tokens(normalize_text(text_col))
    compact = ensure_parallelism(df.selectExpr(f"{id_col} AS doc", f"{toks} AS tk"))
    per = compact.withColumn("hs", F.expr(_token_hash_expr())).filter(f"size(tk) >= {n}")
    return per.select("doc", F.expr(f"{_gram_fold_expr(n)} AS garr"))


def _token_hash_expr() -> str:
    """Per-token hash array over the ``tk`` intermediate: each token's
    :func:`~pipeline311_spark.ext.hashing.portable_hash64` mod MOD."""
    return (
        "transform(tk, tok -> "
        f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % {MOD})"
    )


def _gram_fold_expr(n: int) -> str:
    """Distinct n-gram fold over the ``hs``/``tk`` intermediates: gram
    ``i`` folds token hashes ``i..i+n-1`` as ``(acc * GRAM_BASE + next)
    % MOD``."""
    g = "element_at(hs, i + 1)"
    for j in range(1, n):
        g = f"(({g} * {GRAM_BASE} + element_at(hs, i + 1 + {j})) % {MOD})"
    return f"array_distinct(transform(sequence(0, size(tk) - {n}), i -> {g}))"


def _minhash_aggs(k: int, seed: int) -> tuple[str, ...]:
    """The k min-affine aggregates ``mh0..mh{k-1}`` over the ``g``
    column."""
    return tuple(
        f"min({affine('g', a, b)}) AS mh{i}" for i, (a, b) in enumerate(hash_params(k, seed))
    )


# ---------------------------------------------------------------------------
# Content-identity collapse
# ---------------------------------------------------------------------------
#
# Identical-content docs (equal DISTINCT-gram sets) are the dedup hot
# spot at corpus scale: web corpora carry 20-40% exact duplicates, and
# every member of a dup group lands in the same LSH buckets with the
# same signature.  Left alone they either saturate the ``max_bucket``
# gate — where the strongest duplicates in the corpus
# were exactly the pairs silently dropped — or quadratic-blow candidate
# generation and the exact-Jaccard verify (the ×64 amplified-corpus
# asymptote, SCALE.md).  Every fuzzy generator therefore collapses the
# corpus to one REPRESENTATIVE (min doc id) per distinct content before
# banding/bucketing, and emits identical-group pairs directly:
#
# * groups with ``gn <= max_group``: the full clique — identical output
#   to the ungated pre-collapse semantics;
# * larger groups: star pairs rep↔member — linear output for degenerate
#   groups, with the same connectivity for downstream clustering
#   (connected components yields identical clusters from star edges).
#
# Content identity is (sz, fp1, fp2): distinct-gram-set size plus two
# independently-keyed XOR fingerprints over affine-mapped gram hashes
# (the products are NOT reduced mod MOD, so each fingerprint carries
# ~60 bits — combined collision odds ~2^-120 per same-size doc pair,
# the same negligible-collision class as the md5 gram hashes).  The
# DuckDB oracle twins group by the exact sorted gram list instead, so
# a fingerprint collision would surface as an oracle mismatch.

def _stat_aggs() -> tuple[str, ...]:
    """Content-identity stat aggregates over per-doc-DISTINCT (doc, g)
    rows — all map-side combinable, so they ride an existing groupBy
    ("doc") exchange (e.g. the signature aggregation) for free."""
    (a1, b1), (a2, b2) = FP_PARAMS
    return (
        "count(*) AS sz",
        f"bit_xor(g * {a1} + {b1}) AS fp1",
        f"bit_xor(g * {a2} + {b2}) AS fp2",
    )


def _row_stats(arrays: DataFrame) -> DataFrame:
    """Map-side (doc, sz, fp1, fp2, garr) from (doc, garr) gram arrays:
    the content-identity stats computed per row with ZERO shuffles —
    one combined two-fingerprint fold.  The projections are staged so
    Catalyst does not inline (and so re-evaluate) the expensive array
    expressions (CollapseProject only inlines aliases that are cheap or
    referenced once)."""
    (a1, b1), (a2, b2) = FP_PARAMS
    fps = (
        "aggregate(garr, "
        "named_struct('f1', CAST(0 AS BIGINT), 'f2', CAST(0 AS BIGINT)), "
        f"(a, x) -> named_struct('f1', a.f1 ^ (x * {a1} + {b1}), "
        f"'f2', a.f2 ^ (x * {a2} + {b2})))"
    )
    g2 = arrays.selectExpr("doc", "CAST(size(garr) AS BIGINT) AS sz", f"{fps} AS __fps", "garr")
    return g2.selectExpr("doc", "sz", "__fps.f1 AS fp1", "__fps.f2 AS fp2", "garr")


# The content-identity key (module note above).
CONTENT_KEY = ("sz", "fp1", "fp2")


def _with_groups(stats: DataFrame) -> DataFrame:
    """Attach rep (min doc id) and gn (group size) over the
    CONTENT_KEY — one narrow shuffle of doc-cardinality rows (4 longs
    each), never gram rows."""
    w = f"OVER (PARTITION BY {', '.join(CONTENT_KEY)})"
    return stats.withColumn("rep", F.expr(f"min(doc) {w}")).withColumn(
        "gn", F.expr(f"count(*) {w}")
    )


def _ident_member_pairs(
    groups: DataFrame, max_group: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_a, doc_b, *carry) member pairs inside identical-content
    groups (a :func:`_with_groups` table): clique for gn <= max_group
    via the bucket-collect shape (the gn gate runs BEFORE collect_set
    so the aggregation buffer never holds more than max_group ids),
    star rep↔member beyond (pure row filter, no shuffle at all).
    ``carry`` names CONTENT_KEY columns to keep on each pair.

    The clique groups by the SAME CONTENT_KEY the group window
    partitioned by, so Catalyst sees the window's hash partitioning
    already satisfies the aggregation's distribution — the clique
    groupBy runs with ZERO additional exchange (grouping by ``rep`` —
    the per-group min doc — is equivalent output-wise but forces a
    fresh shuffle)."""
    small = groups.filter(f"gn <= {max_group} AND gn >= 2")
    clique = (
        small.groupBy(*CONTENT_KEY)
        .agg(F.expr("sort_array(collect_set(doc)) AS docs"))
        .selectExpr(f"explode({_bucket_pairs_expr()}) AS p", *carry)
        .selectExpr("p.doc_a AS doc_a", "p.doc_b AS doc_b", *carry)
    )
    star = groups.filter(f"gn > {max_group} AND doc != rep").selectExpr(
        "rep AS doc_a", "doc AS doc_b", *carry
    )
    return clique.unionByName(star)


def _expand_cross(
    cross: DataFrame,
    groups: DataFrame,
    value_cols: list[str],
    gn_cols: tuple[str, str],
    swap_cols: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Expand verified rep↔rep pairs to member↔member pairs: two narrow
    joins against the (doc, rep) membership table (the verified pair
    set is tiny and broadcasts; values are group-constant so they carry
    over unchanged).  Output keeps doc_a < doc_b; side-specific value
    pairs listed in ``swap_cols`` (e.g. (sz_a, sz_b)) follow the
    least/greatest member swap so they stay attributed to the right
    doc.

    Cross-group cap (``CROSS_MAX_PAIRS``): the gate runs on the pair's
    group SIZES, known BEFORE the exploding membership joins — a pair
    whose bipartite product exceeds the cap emits its single rep↔rep
    bridge row and never touches the member tables, so the blowup is
    prevented at plan level, not filtered after the fact.  Mirrored 1:1
    by every DuckDB oracle twin.

    ``gn_cols`` names the pair's group-size columns, which every caller
    carries onto ``cross`` (through the banding shuffle —
    ``lsh_candidate_pairs(carry=("gn",))`` — or an existing sizes
    join): the gate is then a pure row filter with ZERO added stages,
    where joining the sizes in from ``groups`` costs two AQE stage
    materializations (~1 s of stage-wave overhead per run at bench
    scale).

    Join side sizing: only members of MULTI-doc groups (gn >= 2) can
    differ from their rep, so the joins run LEFT against that subset
    (coalesce back to the rep itself on no match).  The broadcast side
    is then the dup-group membership — proportional to duplicated
    content, not the corpus — instead of the full doc-cardinality
    membership table."""
    ca_, cb_ = gn_cols
    sized = cross.withColumn("__gna", F.expr(ca_)).withColumn("__gnb", F.expr(cb_))
    # The cap rides the membership JOIN CONDITION: a pair past the cap
    # matches nothing, the left join keeps it once with NULL members,
    # and the coalesce below yields the rep↔rep bridge row.  One plan,
    # no filter-split + union — a union would duplicate the (expensive)
    # verify subtree into both arms and re-run it (measured ~1 s of
    # re-executed stages per pair query at bench scale).
    small = f"__gna * __gnb <= {CROSS_MAX_PAIRS}"
    mem = groups.filter("gn >= 2").select("doc", "rep")
    a = mem.selectExpr("rep AS __ra", "doc AS __ma")
    b = mem.selectExpr("rep AS __rb", "doc AS __mb")
    ma = "coalesce(__ma, doc_a)"
    mb = "coalesce(__mb, doc_b)"
    swap = f"{ma} < {mb}"
    exprs = {c: c for c in value_cols}
    for ca, cb in swap_cols:
        exprs[ca] = f"CASE WHEN {swap} THEN {ca} ELSE {cb} END"
        exprs[cb] = f"CASE WHEN {swap} THEN {cb} ELSE {ca} END"
    return (
        sized.join(a, F.expr(f"doc_a = __ra AND {small}"), "left")
        .join(b, F.expr(f"doc_b = __rb AND {small}"), "left")
        .selectExpr(
            f"least({ma}, {mb}) AS doc_a",
            f"greatest({ma}, {mb}) AS doc_b",
            *[f"{exprs[c]} AS {c}" for c in value_cols],
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 16, n: int = 5, seed: int = 42
) -> DataFrame:
    """k-permutation MinHash signature per doc.

    The map-side gram arrays (:func:`_row_gram_arrays`), exploded, feed
    one groupBy with k ``min`` aggregates — map-side partial
    aggregation shrinks the shuffle to k longs per doc (gram rows
    themselves never cross the network).  A fully per-row
    ``array_min(transform(...))`` formulation would avoid even that
    shuffle but re-evaluates interpreted lambdas k times per gram —
    measured 60% slower.  Docs with fewer than n tokens are dropped.
    """
    arrays = _row_gram_arrays(df, id_col, text_col, n)
    grams = arrays.selectExpr("doc", "explode(garr) AS g")
    return grams.groupBy("doc").agg(*map(F.expr, _minhash_aggs(k, seed)))


def lsh_candidate_pairs(
    sig: DataFrame,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = 200,
    distinct_pairs: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Band the signature (bands × k/bands rows) and emit distinct doc
    pairs sharing any band bucket.  ``max_bucket`` caps pathological
    buckets (all-identical docs) to bound the pair blowup.

    Plan shape: a ``count(*)`` window over (band, key) tags every
    banded row with its bucket size, a filter drops oversized/singleton
    buckets BEFORE any membership is collected, and only then does
    ``collect_set`` run — its aggregation buffer therefore never holds
    more than ``max_bucket`` ids (~1.6 KB at the default cap), even for
    a pathological hot bucket with millions of identical docs (the
    window itself buffers hot-bucket rows in a spillable external sort,
    never an in-memory hash map).  The window, the filter, and the
    ``collect_set`` groupBy all hash-partition on the same (band, key):
    ONE shuffle of the banded rows, one task wave — this replaced a
    separate count-aggregation + semi-join gate that produced the same
    rows through two extra stage waves per run.  Pairs are then
    generated inside each bucket row with nested ``transform`` over the
    sorted doc array and a final distinct.

    ``distinct_pairs=False`` skips that final exchange and may emit the
    same pair once per agreeing band — for callers (minhash_dedup_pairs)
    that dedupe later anyway on a much smaller, already-materialized
    candidate set.

    ``carry``: per-doc columns of ``sig`` (e.g. group size ``gn``) to
    ride the banding shuffle into the output as ``<c>_a`` / ``<c>_b``
    — a few extra bytes per banded row instead of post-hoc join stages
    against a doc-cardinality table.
    """
    banded = sig.selectExpr(
        "doc", *carry, f"explode({_band_expr(k, bands)}) AS bk"
    ).selectExpr("doc", *carry, "bk.band AS band", "bk.key AS key")
    # Size-gate FIRST (spill-safe window count), collect membership only
    # for surviving buckets: a hot bucket never reaches collect_set.
    # One row per (doc, band) → count == distinct docs in the bucket.
    gate = "n >= 2" if max_bucket is None else f"n >= 2 AND n <= {max_bucket}"
    member = f"struct({', '.join(('doc', *carry))})" if carry else "doc"
    buckets = (
        banded.withColumn("n", F.expr("count(*) OVER (PARTITION BY band, key)"))
        .filter(gate)
        .groupBy("band", "key")
        # sort_array on structs orders by the leading field (doc) —
        # same pair order as the plain-doc form
        .agg(F.expr(f"sort_array(collect_set({member})) AS docs"))
    )
    pair_cols = ["doc_a", "doc_b"] + [f"{c}_{s}" for c in carry for s in ("a", "b")]
    out = buckets.selectExpr(f"explode({_bucket_pairs_expr(carry)}) AS p").selectExpr(
        *[f"p.{c} AS {c}" for c in pair_cols]
    )
    return out.distinct() if distinct_pairs else out


def _band_expr(k: int, bands: int) -> str:
    """The band/key struct array over the ``mh*`` columns: band ``bi``'s
    key is its ``k // bands`` signature slots joined with ``_``."""
    if bands < 1 or k % bands:
        # bands > k would make rows = 0 → every band key the empty
        # string → the whole corpus in one bucket per band (silently
        # wrong: the size gate then drops everything).  LSH requires
        # bands * rows == k; fail loudly instead.
        raise ValueError(f"bands must divide k (got k={k}, bands={bands})")
    rows = k // bands
    structs = (
        f"named_struct('band', {bi}, 'key', concat_ws('_', "
        + ", ".join(f"mh{bi * rows + r}" for r in range(rows))
        + "))"
        for bi in range(bands)
    )
    return f"array({', '.join(structs)})"


def _bucket_pairs_expr(carry: tuple[str, ...] = ()) -> str:
    """All-ordered-pairs (i < j) generator over the ``docs``
    bucket-membership array, generated array-side.

    With ``carry`` (e.g. ``("gn",)``) the array elements are structs
    ``(doc, *carry)`` and each pair emits ``doc_a, doc_b`` plus
    ``<c>_a, <c>_b`` for every carried field — how per-doc values
    (group sizes for the cross-expansion cap) ride the banding shuffle
    instead of paying join stages later."""
    if not carry:
        pair = "named_struct('doc_a', x, 'doc_b', y)"
    else:
        fields = [("doc_a", "x.doc"), ("doc_b", "y.doc")]
        fields += [(f"{c}_a", f"x.{c}") for c in carry]
        fields += [(f"{c}_b", f"y.{c}") for c in carry]
        pair = "named_struct(" + ", ".join(f"'{n}', {v}" for n, v in fields) + ")"
    return (
        "flatten(transform(docs, (x, i) -> transform("
        f"slice(docs, i + 2, greatest(size(docs) - i - 1, 0)), y -> {pair})))"
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 200,
    max_group: int = IDENT_MAX_GROUP,
) -> DataFrame:
    """Full MinHash-LSH near-dup: signatures → band candidates → verify
    candidates with exact Jaccard (set intersection restricted to the
    candidate docs).

    One tokenize+hash pass total: the per-doc gram ARRAY table
    (:func:`_row_gram_arrays`; MEMORY_AND_DISK, ~8 B/distinct gram —
    the same order as the corpus scan itself, one row per doc) is
    persisted and feeds BOTH the signature aggregation (via a map-side
    explode) and the verify (arrays semi-joined directly — no
    collect_set exchange).  The cluster must be able to cache ~1× the
    corpus across memory+local disk; beyond that, store the gram arrays
    once per corpus version (the gram log) and start from
    :func:`minhash_pairs_from_grams` (SCALE.md).

    Verify shape (see :func:`_jaccard_verify`): Jaccard over 60-bit
    shingle hashes equals Jaccard over the shingle strings up to md5
    collisions (~2^-60 per pair — negligible at any scale).  Join
    strategy is left to Catalyst/AQE: with few candidates the set
    table broadcasts, with many it shuffles — both survive scale.
    Candidate pairs skip the band-level distinct
    (``distinct_pairs=False``) — a pair agreeing on several bands is
    deduped once, on the tiny persisted candidate set, instead of
    paying an extra exchange over all banded rows.

    Content-identity collapse (module-level note): stats ride the
    signature aggregation for free, banding sees one representative per
    distinct gram set, identical-group pairs are emitted by expansion
    (never banded, never verified), and verified rep pairs expand back
    to member pairs.  Dup mass can no longer saturate ``max_bucket``
    (which now gates on distinct-content counts) and the exact-Jaccard
    verify only ever runs on pairs of DISTINCT gram sets.

    Cache lifecycle: the gram arrays, the signature/group table, and
    the candidate set stay persisted because the RETURNED DataFrame
    still reads them lazily.  Wrap the call and
    the consuming action in :func:`pipeline311_spark.ext.cache.cache_scope`
    for deterministic reclaim; without a scope, reclaim remains
    ``spark.catalog.clearCache()``.  In a long-lived service, prefer
    materializing the gram arrays to storage once per corpus version
    (see SCALE.md) instead of executor cache."""
    # Persist the ARRAY form (one row per doc): the signature
    # aggregation reads it through a map-side explode, and the verify
    # semi-joins the arrays directly — no collect_set exchange to
    # rebuild sets the scan already produced (measured ~0.5 s off
    # the bench verify tail).
    arrays = persist_tracked(_row_gram_arrays(df, id_col, text_col, n))
    return minhash_pairs_from_grams(
        arrays, k=k, bands=bands, threshold=threshold, seed=seed,
        max_bucket=max_bucket, max_group=max_group,
    )


def minhash_pairs_from_grams(
    arrays: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket: int = 200,
    max_group: int = IDENT_MAX_GROUP,
) -> DataFrame:
    """MinHash-LSH near-dup pairs from PREBUILT (doc, garr) gram arrays
    (the :func:`_row_gram_arrays` form) — the stored-corpus-version path
    (SCALE.md): tokenize/hash once per corpus version, write the arrays
    to storage (the gram log, :func:`load_gram_log`), and every
    dedup/contamination run after that starts here, paying only the
    signature aggregation.  ``arrays`` is read twice — exploded map-side
    into the signature groupBy, and semi-joined to the candidate docs
    for the verify, which needs no ``collect_set`` exchange because the
    sets are already arrays.  A storage-backed ``arrays`` is re-scanned
    for the verify; :func:`minhash_dedup_pairs` persists its own.

    Contract: each ``garr`` is DISTINCT — signature MINs are
    multiset-insensitive but the content stats that ride the same
    aggregation are not."""
    grams = arrays.selectExpr("doc", "explode(garr) AS g")
    aggs = map(F.expr, (*_minhash_aggs(k, seed), *_stat_aggs()))
    sigg = persist_tracked(_with_groups(grams.groupBy("doc").agg(*aggs)))
    reps = sigg.filter("doc = rep")
    cand = persist_tracked(
        lsh_candidate_pairs(
            reps, k, bands, max_bucket=max_bucket, distinct_pairs=False, carry=("gn",)
        )
    )
    n_pairs = cand.count()
    cand_docs = _probe_doc_ids(cand, n_pairs)
    doc_sets = arrays.join(F.broadcast(cand_docs), "doc", "left_semi").selectExpr(
        "doc", "garr AS sset"
    )
    cross = _jaccard_verify(cand.distinct(), doc_sets, threshold)
    return _expand_cross(cross, sigg, ["jaccard"], ("gn_a", "gn_b")).unionByName(
        _ident_member_pairs(sigg, max_group).withColumn("jaccard", F.expr(_dlit(1.0)))
    )


def _jaccard_verify(
    cand: DataFrame,
    doc_sets: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard check of candidate (doc_a, doc_b) pairs against a
    (doc, sset) gram-SET table already restricted to candidate docs:
    each pair checked row-wise with ``array_intersect`` — two joins
    total, no per-(pair × shared shingle) row explosion and no per-pair
    aggregation shuffle.  ``doc_sets`` are :func:`_row_gram_arrays`
    arrays, built map-side or read from the gram log.

    Size-ratio pre-gate: Jaccard is bounded above by
    min(|A|,|B|) / max(|A|,|B|), so pairs failing that ratio against
    ``threshold`` are dropped BEFORE their ``array_intersect`` is ever
    evaluated: the gate filter references only the (already joined)
    set SIZES, sits below the intersect projection, and Catalyst never
    hoists a projection above a filter — a failed pair costs two hash
    probes and a comparison, not a set intersection.  Output-neutral
    (a sound bound), so the DuckDB oracles need no mirror.  A separate
    pre-join of 8-byte sizes before the set join was measured a net
    loss at bench scale (two extra join stages per run) and saves
    nothing asymptotically — the sets it would avoid shipping are the
    hash-table build side either way, bounded by candidate-doc volume
    (banding caps candidates).

    ``size(sset)`` over the distinct-gram set IS the distinct-gram
    count the signature aggregation provides."""
    a = doc_sets.selectExpr("doc AS doc_a", "sset AS set_a")
    b = doc_sets.selectExpr("doc AS doc_b", "sset AS set_b")
    extra = [c for c in cand.columns if c not in ("doc_a", "doc_b")]
    t = _dlit(threshold)
    return (
        cand.select("doc_a", "doc_b", *extra)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            *extra,
            "set_a",
            "set_b",
            "size(set_a) AS sz_a",
            "size(set_b) AS sz_b",
        )
        .filter(f"least(sz_a, sz_b) / greatest(sz_a, sz_b) >= {t}")
        .selectExpr(
            "doc_a",
            "doc_b",
            *extra,
            "size(array_intersect(set_a, set_b)) AS inter",
            "sz_a",
            "sz_b",
        )
        .withColumn("jaccard", F.expr("inter / (sz_a + sz_b - inter)"))
        .filter(f"jaccard >= {t}")
        .select("doc_a", "doc_b", *extra, "jaccard")
    )


# ---------------------------------------------------------------------------
# The stored gram arrays as a tombstoned row log (the ext/artifact.py
# lifecycle).  Rows are one (doc, garr) per document and batch doc ids
# are disjoint, so the union of batch partitions IS the merge —
# signatures, banding and verify all run FROM the folded log exactly as
# they run from in-memory arrays (minhash_pairs_from_grams).
# ---------------------------------------------------------------------------


_GRAM_LOG = RowLog(
    "grams",
    T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("garr", T.ArrayType(T.LongType())),
            T.StructField("batch_id", T.LongType()),
        ]
    ),
    "doc",
)


def gram_log_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    validate_fresh_ids: bool = False,
) -> None:
    """Append one micro-batch's per-doc DISTINCT gram arrays (the input
    contract of :func:`minhash_pairs_from_grams`) — the
    ``foreachBatch`` body, behind the shared append guard.  A replayed
    post-fold batch would recreate doc rows the base already holds:
    MIN-idempotent for signatures, but inflating set-size denominators
    downstream.  ``validate_fresh_ids`` refuses a re-appended
    tombstoned doc id."""
    ids = batch_df.selectExpr(f"{id_col} AS doc")
    if admit_append(
        store_dir, _GRAM_LOG, ids, batch_id, "gram_log_append_batch", validate_fresh_ids
    ):
        append_rows(
            store_dir, _GRAM_LOG, batch_id,
            _row_gram_arrays(batch_df, id_col, text_col, n),
        )


def gram_log_delete_batch(
    ids: DataFrame, batch_id: int, store_dir: str, id_col: str = "doc_id"
) -> None:
    """Tombstone one batch of DELETED doc ids — the index-layer mirror
    of the reference's table-layer reconciliation
    (delete-removed-tickets.py:138-169).  Each doc is one row, so
    deletion needs no stat folding."""
    delete_rows(store_dir, _GRAM_LOG, ids.selectExpr(f"{id_col} AS doc"), batch_id)


def load_gram_log(spark, store_dir: str) -> DataFrame:
    """The (doc, garr) gram arrays: every batch, tombstoned docs
    removed."""
    return load_rows(spark, store_dir, _GRAM_LOG)


def gram_log_compact(spark, store_dir: str) -> None:
    """Fold the log to its ``batch_id = -1`` base, tombstoned docs
    physically dropped (ext/artifact.py ``compact_log``)."""
    compact_log(spark, store_dir, _GRAM_LOG)
