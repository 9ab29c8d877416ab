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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
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
    jvm_memo,
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
# tolerate them (r7).  Above it (duplicate-heavy corpus with raised
# bucket caps — ADVICE r7), 2·|pairs| endpoints can exceed the
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
    docs = cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc"))
    if 2 * n_pairs > PROBE_DISTINCT_ENDPOINTS:
        docs = docs.distinct()
    return docs

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one doc (lowest id) per normalized-text fingerprint.
    Hash-groupBy: one shuffle on the fingerprint."""
    fp = ensure_parallelism(df).withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return fp.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__fp", "__rn")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str, key: Column | None = None) -> DataFrame:
    """Fingerprint groups with >1 member (the audit view of exact_dedup)."""
    k = key if key is not None else fingerprint(text_col)
    return (
        ensure_parallelism(df.select(id_col, text_col)).select(F.col(id_col), k.alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
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

    Content-identity collapse (r5, see the module-level note): content
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
    sh = rs.select("doc", "sz", "fp1", "fp2", F.explode("garr").alias("g"))
    wsz = Window.partitionBy("g")
    buckets = (
        sh.repartition("g")
        .groupBy("g", "sz", "fp1", "fp2")
        .agg(F.min("doc").alias("doc"))
        .withColumn("df_", F.count("*").over(wsz))
        .filter((F.col("df_") >= 2) & (F.col("df_") <= max_df))
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
    )
    inter = (
        buckets.select(F.explode(_bucket_pairs_expr()).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    # group size rides the SAME sizes join the Jaccard needs anyway —
    # the expansion cap then costs zero extra stages (gn_cols)
    rsizes = groups.filter(F.col("doc") == F.col("rep")).select("doc", "sz", "gn")
    ra = rsizes.toDF("doc_a", "sz_a", "gn_a")
    rb = rsizes.toDF("doc_b", "sz_b", "gn_b")
    cross = (
        inter.join(ra, "doc_a")
        .join(rb, "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    expanded = _expand_cross(
        cross, groups, ["inter", "sz_a", "sz_b", "jaccard"], ("gn_a", "gn_b"),
        swap_cols=(("sz_a", "sz_b"),),
    )
    ident = _ident_member_pairs(groups, max_group, carry=("sz",)).select(
        "doc_a", "doc_b",
        F.col("sz").alias("inter"), F.col("sz").alias("sz_a"), F.col("sz").alias("sz_b"),
        F.lit(1.0).alias("jaccard"),
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
    compact = ensure_parallelism(df.select(F.col(id_col).alias("doc"), toks.alias("tk")))
    per = compact.withColumn("hs", _token_hash_expr()).filter(F.size("tk") >= n)
    return per.select("doc", _gram_fold_expr(n).alias("garr"))


@jvm_memo(maxsize=4)
def _token_hash_expr() -> Column:
    """Memoized per-token hash array over the fixed ``tk`` intermediate
    (expression construction is py4j-bound driver time; the tree is an
    immutable unresolved Column, reusable across plans)."""
    from pipeline311_spark.ext.hashing import MOD

    return F.transform(
        "tk", lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % MOD
    )


@jvm_memo(maxsize=8)
def _gram_fold_expr(n: int) -> Column:
    """Memoized distinct n-gram fold over the fixed ``hs``/``tk``
    intermediates."""
    from pipeline311_spark.ext.hashing import MOD

    def _fold(i: Column) -> Column:
        g = F.element_at(F.col("hs"), i + 1)
        for j in range(1, n):
            g = (g * F.lit(GRAM_BASE) + F.element_at(F.col("hs"), i + 1 + j)) % F.lit(MOD)
        return g

    return F.array_distinct(F.transform(F.sequence(F.lit(0), F.size("tk") - n), _fold))


@jvm_memo(maxsize=8)
def _minhash_aggs(k: int, seed: int) -> tuple[Column, ...]:
    """Memoized k min-affine aggregates over the fixed ``g`` column."""
    params = hash_params(k, seed)
    return tuple(
        F.min(affine(F.col("g"), a, b)).alias(f"mh{i}") for i, (a, b) in enumerate(params)
    )


# ---------------------------------------------------------------------------
# Content-identity collapse
# ---------------------------------------------------------------------------
#
# Identical-content docs (equal DISTINCT-gram sets) are the dedup hot
# spot at corpus scale: web corpora carry 20-40% exact duplicates, and
# every member of a dup group lands in the same LSH buckets with the
# same signature.  Left alone they either saturate the ``max_bucket``
# gate — the r4 semantics, where the strongest duplicates in the corpus
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

def _stat_aggs() -> tuple[Column, ...]:
    """Content-identity stat aggregates over per-doc-DISTINCT (doc, g)
    rows — all map-side combinable, so they ride an existing groupBy
    ("doc") exchange (e.g. the signature aggregation) for free."""
    (a1, b1), (a2, b2) = FP_PARAMS
    return (
        F.count("*").alias("sz"),
        F.bit_xor(F.col("g") * F.lit(a1) + F.lit(b1)).alias("fp1"),
        F.bit_xor(F.col("g") * F.lit(a2) + F.lit(b2)).alias("fp2"),
    )


def _row_stats(arrays: DataFrame) -> DataFrame:
    """Map-side (doc, sz, fp1, fp2, garr) from (doc, garr) gram arrays:
    the content-identity stats computed per row with ZERO shuffles —
    one combined two-fingerprint fold.  The projections are staged so
    Catalyst does not inline (and so re-evaluate) the expensive array
    expressions (CollapseProject only inlines aliases that are cheap or
    referenced once)."""
    (a1, b1), (a2, b2) = FP_PARAMS
    acc0 = F.struct(F.lit(0).cast("long").alias("f1"), F.lit(0).cast("long").alias("f2"))
    fps = F.aggregate(
        "garr",
        acc0,
        lambda a, x: F.struct(
            a["f1"].bitwiseXOR(x * F.lit(a1) + F.lit(b1)).alias("f1"),
            a["f2"].bitwiseXOR(x * F.lit(a2) + F.lit(b2)).alias("f2"),
        ),
    )
    g2 = arrays.select("doc", F.size("garr").cast("long").alias("sz"), fps.alias("__fps"), "garr")
    return g2.select(
        "doc", "sz",
        F.col("__fps.f1").alias("fp1"), F.col("__fps.f2").alias("fp2"), "garr",
    )


# The content-identity key (module note above).
CONTENT_KEY = ("sz", "fp1", "fp2")


def _with_groups(stats: DataFrame) -> DataFrame:
    """Attach rep (min doc id) and gn (group size) over the
    CONTENT_KEY — one narrow shuffle of doc-cardinality rows (4 longs
    each), never gram rows."""
    w = Window.partitionBy(*CONTENT_KEY)
    return stats.withColumn("rep", F.min("doc").over(w)).withColumn("gn", F.count("*").over(w))


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
    small = groups.filter((F.col("gn") <= max_group) & (F.col("gn") >= 2))
    clique = (
        small.groupBy(*CONTENT_KEY)
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
        .select(F.explode(_bucket_pairs_expr()).alias("p"), *carry)
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"), *carry)
    )
    star = groups.filter((F.col("gn") > max_group) & (F.col("doc") != F.col("rep"))).select(
        F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b"), *carry
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
    sized = cross.withColumn("__gna", F.col(ca_)).withColumn("__gnb", F.col(cb_))
    # The cap rides the membership JOIN CONDITION: a pair past the cap
    # matches nothing, the left join keeps it once with NULL members,
    # and the coalesce below yields the rep↔rep bridge row.  One plan,
    # no filter-split + union — a union would duplicate the (expensive)
    # verify subtree into both arms and re-run it (measured ~1 s of
    # re-executed stages per pair query at bench scale).
    small = F.col("__gna") * F.col("__gnb") <= F.lit(CROSS_MAX_PAIRS)
    mem = groups.filter(F.col("gn") >= 2).select("doc", "rep")
    a = mem.select(F.col("rep").alias("__ra"), F.col("doc").alias("__ma"))
    b = mem.select(F.col("rep").alias("__rb"), F.col("doc").alias("__mb"))
    ma = F.coalesce("__ma", "doc_a")
    mb = F.coalesce("__mb", "doc_b")
    swap = ma < mb
    exprs = {c: F.col(c) for c in value_cols}
    for ca, cb in swap_cols:
        exprs[ca] = F.when(swap, F.col(ca)).otherwise(F.col(cb))
        exprs[cb] = F.when(swap, F.col(cb)).otherwise(F.col(ca))
    return (
        sized.join(a, (F.col("doc_a") == F.col("__ra")) & small, "left")
        .join(b, (F.col("doc_b") == F.col("__rb")) & small, "left")
        .select(
            F.least(ma, mb).alias("doc_a"),
            F.greatest(ma, mb).alias("doc_b"),
            *[exprs[c].alias(c) for c in value_cols],
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
    grams = arrays.select("doc", F.explode("garr").alias("g"))
    return grams.groupBy("doc").agg(*_minhash_aggs(k, seed))


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
    banded = sig.select(
        "doc", *carry, F.explode(_band_expr(k, bands)).alias("bk")
    ).select("doc", *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # Size-gate FIRST (spill-safe window count), collect membership only
    # for surviving buckets: a hot bucket never reaches collect_set.
    # One row per (doc, band) → count == distinct docs in the bucket.
    wsz = Window.partitionBy("band", "key")
    gate = (F.col("n") >= 2) if max_bucket is None else (
        (F.col("n") >= 2) & (F.col("n") <= max_bucket)
    )
    member = F.struct("doc", *carry) if carry else F.col("doc")
    buckets = (
        banded.withColumn("n", F.count("*").over(wsz))
        .filter(gate)
        .groupBy("band", "key")
        # sort_array on structs orders by the leading field (doc) —
        # same pair order as the plain-doc form
        .agg(F.sort_array(F.collect_set(member)).alias("docs"))
    )
    pair_cols = ["doc_a", "doc_b"] + [f"{c}_{s}" for c in carry for s in ("a", "b")]
    out = buckets.select(F.explode(_bucket_pairs_expr(carry)).alias("p")).select(
        *[F.col(f"p.{c}").alias(c) for c in pair_cols]
    )
    return out.distinct() if distinct_pairs else out


@jvm_memo(maxsize=8)
def _band_expr(k: int, bands: int) -> Column:
    """Memoized band/key struct array over the fixed ``mh*`` columns."""
    if bands < 1 or k % bands:
        # bands > k would make rows = 0 → every band key the empty
        # string → the whole corpus in one bucket per band (silently
        # wrong: the size gate then drops everything).  LSH requires
        # bands * rows == k; fail loudly instead.
        raise ValueError(f"bands must divide k (got k={k}, bands={bands})")
    rows = k // bands
    return F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{bi * rows + r}") for r in range(rows)]).alias("key"),
        )
        for bi in range(bands)
    ])


@jvm_memo(maxsize=4)
def _bucket_pairs_expr(carry: tuple[str, ...] = ()) -> Column:
    """Memoized all-ordered-pairs (i < j) generator over the fixed
    ``docs`` bucket-membership array, generated array-side.

    With ``carry`` (e.g. ``("gn",)``) the array elements are structs
    ``(doc, *carry)`` and each pair emits ``doc_a, doc_b`` plus
    ``<c>_a, <c>_b`` for every carried field — how per-doc values
    (group sizes for the cross-expansion cap) ride the banding shuffle
    instead of paying join stages later."""
    docs = F.col("docs")
    if not carry:
        return F.flatten(
            F.transform(
                docs,
                lambda x, i: F.transform(
                    F.slice(docs, i + 2, F.greatest(F.size(docs) - i - 1, F.lit(0))),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.greatest(F.size(docs) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["doc"].alias("doc_a"),
                    y["doc"].alias("doc_b"),
                    *[x[c].alias(f"{c}_a") for c in carry],
                    *[y[c].alias(f"{c}_b") for c in carry],
                ),
            ),
        )
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

    Content-identity collapse (r5, module-level note): stats ride the
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
    # rebuild sets the scan already produced (r7; measured ~0.5 s off
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
    grams = arrays.select("doc", F.explode("garr").alias("g"))
    sigg = persist_tracked(
        _with_groups(grams.groupBy("doc").agg(*_minhash_aggs(k, seed), *_stat_aggs()))
    )
    reps = sigg.filter(F.col("doc") == F.col("rep"))
    cand = persist_tracked(
        lsh_candidate_pairs(
            reps, k, bands, max_bucket=max_bucket, distinct_pairs=False, carry=("gn",)
        )
    )
    n_pairs = cand.count()
    cand_docs = _probe_doc_ids(cand, n_pairs)
    doc_sets = arrays.join(F.broadcast(cand_docs), "doc", "left_semi").select(
        "doc", F.col("garr").alias("sset")
    )
    cross = _jaccard_verify(cand.distinct(), doc_sets, threshold)
    return _expand_cross(cross, sigg, ["jaccard"], ("gn_a", "gn_b")).unionByName(
        _ident_member_pairs(sigg, max_group).withColumn("jaccard", F.lit(1.0))
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

    Size-ratio pre-gate (r5): Jaccard is bounded above by
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
    a = doc_sets.select(F.col("doc").alias("doc_a"), F.col("sset").alias("set_a"))
    b = doc_sets.select(F.col("doc").alias("doc_b"), F.col("sset").alias("set_b"))
    extra = [c for c in cand.columns if c not in ("doc_a", "doc_b")]
    return (
        cand.select("doc_a", "doc_b", *extra)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            *extra,
            "set_a",
            "set_b",
            F.size("set_a").alias("sz_a"),
            F.size("set_b").alias("sz_b"),
        )
        .filter(F.least("sz_a", "sz_b") / F.greatest("sz_a", "sz_b") >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            *extra,
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
            "sz_a",
            "sz_b",
        )
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
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
    ids = batch_df.select(F.col(id_col).alias("doc"))
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
    delete_rows(store_dir, _GRAM_LOG, ids.select(F.col(id_col).alias("doc")), batch_id)


def load_gram_log(spark, store_dir: str) -> DataFrame:
    """The (doc, garr) gram arrays: every batch, tombstoned docs
    removed."""
    return load_rows(spark, store_dir, _GRAM_LOG)


def gram_log_compact(spark, store_dir: str) -> None:
    """Fold the log to its ``batch_id = -1`` base, tombstoned docs
    physically dropped (ext/artifact.py ``compact_log``)."""
    compact_log(spark, store_dir, _GRAM_LOG)
