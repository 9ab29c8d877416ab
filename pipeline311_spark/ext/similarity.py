"""Similarity search over an embedding column (north star).

Baseline: brute-force cosine top-k — one broadcast of the (small) query
set against the (huge) corpus, all arithmetic JVM-side via
``zip_with``/``aggregate`` higher-order functions (sequential fold →
deterministic, engine-portable sums).  The stored IVF-PQ index
(ext/ann_store.py) is the scale path; ``lsh_bucket`` / ``ivf_assign``
key a corpus for a partitioned layout, and ``semantic_dedup_keep`` picks
one keeper per embedding near-dup cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline311_spark.ext.hashing import ensure_parallelism, jvm_memo


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product (array order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with both norms precomputed per input row: every
    join-then-score path computes the per-SIDE norms before the join,
    so each candidate pair pays one fold (the dot), not three — at
    scale that is the difference between O(pairs·dim) and
    O(3·pairs·dim) interpreted work.

    ``try_divide``: a ZERO vector (failed encode, padding row — they
    happen in real embedding tables) has norm 0, and a plain ``/``
    CRASHES the whole query under Spark 4 ANSI (DIVIDE_BY_ZERO).
    Undefined similarity is NULL, which every downstream
    ``>= threshold`` filter and ``ORDER BY`` treats as not-similar —
    zero vectors silently never pair or rank, they don't kill the job."""
    return F.try_divide(dot(a, b), norm_a * norm_b)


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 — the same prepend-0.0 left fold as the DuckDB twins
    (one shared definition; the PQ/ADC oracles mirror it slice-wise)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query — cosine (descending, the
    default) or squared-L2 (``metric="sqdist"``, ascending).

    ``broadcast(queries)`` → the corpus is scanned once, no shuffle for
    the join; the only shuffle is the per-query top-k (window on
    query_id).  Ties break by neighbor id for determinism.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
        .withColumn("qn", l2_norm(F.col("qv")))
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    ).withColumn("cn", l2_norm(F.col("cv")))
    if metric == "sqdist":
        score = sqdist(F.col("qv"), F.col("cv")).alias("sq_dist")
        order = F.col("sq_dist").asc()
    elif metric == "cosine":
        score = cosine_pre(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos_sim")
        order = F.col("cos_sim").desc()
    else:
        # a typo'd metric must not silently rank by cosine — in a
        # recall audit that would compare ADC distances against the
        # wrong "exact" neighbor set (review r8)
        raise ValueError(f"unknown metric {metric!r}: use 'cosine' or 'sqdist'")
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", score
    )
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def deterministic_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Hyperplane coefficients in [-0.5, 0.5) from a fixed LCG —
    reproducible everywhere (incl. generated oracle SQL)."""
    x = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(round(x / float(1 << 31) - 0.5, 9))
        planes.append(row)
    return planes


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-string signature: bit_i = 1 iff dot(vec, plane_i) > 0.

    Formulation note: a single-pass fold carrying an n-plane struct
    accumulator was benchmarked against these n independent ``dot()``
    folds and measured 2x SLOWER steady-state (per-element struct
    allocation in the interpreted evaluator outweighs the saved array
    passes) — see git history.  Keep the per-plane dots."""
    bits = [
        F.when(dot(vec, F.array([F.lit(c) for c in plane])) > 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _require_dim(vec_col: str, dim: int | None) -> int:
    """Spark's ``ArrayType`` carries no fixed length, so the embedding
    dimension cannot come from the schema; callers must pass it.  (The
    old ``.first()`` fallback ran a Spark job during plan construction —
    a hidden driver action inside what looks like pure plan building.)"""
    if dim is None:
        raise ValueError(
            f"dim is required: array column {vec_col!r} has no fixed size in the "
            "schema, and inferring it would run a Spark job during plan construction"
        )
    return dim


@jvm_memo(maxsize=64)
def _signature_expr(vec_col: str, n_planes: int, dim: int, seed: int) -> Column:
    """Memoized hyperplane-signature Column for a named vector column.

    Building the signature expression costs ~0.55 s of *driver* time
    (n_planes × dim literal Columns plus the fold lambdas — thousands
    of py4j round trips), ~3× the executor time of actually bucketing
    a bench-sized corpus.  The expression is an immutable unresolved
    Catalyst tree referencing only the column NAME, so one instance is
    reusable across DataFrames, queries, and sessions within the
    process (py4j objects outlive ``spark.stop()`` — the JVM is per
    process).  Cache keyed by everything that determines the tree."""
    planes = deterministic_planes(n_planes, dim, seed)
    return hyperplane_signature(as_double(vec_col), planes)


def lsh_bucket(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Bucket rows by random-hyperplane signature.  ``dim`` is the
    embedding dimension (required — see :func:`_require_dim`)."""
    dim = _require_dim(vec_col, dim)
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col), as_double(vec_col).alias("v"),
            _signature_expr(vec_col, n_planes, dim, seed).alias("bucket"),
        )
        .withColumn("nv", l2_norm(F.col("v")))  # per-row norm, paid once
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """IVF cell assignment: each vector joins its nearest centroid (max
    cosine; ties broken by centroid id).  Centroids are broadcast —
    one corpus scan, no shuffle until the (tiny) per-vector top-1
    window.  At 100 TB you'd write the corpus partitioned by
    ``centroid_id`` so probes become partition-pruned reads."""
    c = F.broadcast(
        centroids.select(F.col(id_col).alias(centroid_id), as_double(vec_col).alias("cv"))
        .withColumn("ccn", l2_norm(F.col("cv")))
    )
    v = ensure_parallelism(
        corpus.select(F.col(id_col), as_double(vec_col).alias("v"))
    ).withColumn("nv", l2_norm(F.col("v")))
    scored = v.join(c).select(
        id_col, "v", "nv", centroid_id,
        cosine_pre(F.col("v"), F.col("cv"), F.col("nv"), F.col("ccn")).alias("c_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_sim").desc(), F.col(centroid_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn", "c_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    max_bucket: int | None = 200,
    max_group: int = 200,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: pairs are
    only compared within a bucket (near-identical vectors agree on all
    sign bits with high probability).

    Scale sizing: there are 2^n_planes buckets, so average occupancy is
    n/2^n_planes and the within-bucket self-join is quadratic in it —
    pick ``n_planes ≈ log2(corpus / desired_occupancy)`` (the signature
    is just n_planes sign bits; more planes cost one extra dot each).
    ``max_bucket`` is the backstop, the same spill-safe window gate as
    the MinHash band join — but since the r5 content collapse
    it gates on DISTINCT vectors: byte-identical vectors (the classic
    degenerate bucket — millions of copies of one embedding) are
    collapsed to a representative before bucketing and their pairs
    emitted by expansion (clique up to ``max_group`` per group, star
    beyond — linear output, same downstream clusters), so the
    strongest duplicates can no longer be silently dropped by the gate
    and the self-join only ever compares distinct vectors.  Vector
    identity is the exact array value (grouped directly — no
    fingerprint), mirrored 1:1 by the DuckDB oracle."""
    b = lsh_bucket(df, id_col, vec_col, n_planes, seed, dim)
    # exact grouping on the vector value, but with an xxhash64 prefix
    # in the partition key: the window's sort then compares 8-byte
    # hashes and only touches the 8·dim-byte array on hash ties —
    # still exact (v stays in the key), measured ~2x faster than
    # partitioning on the bare array
    wg = Window.partitionBy(F.xxhash64("v"), F.col("v"))
    from pipeline311_spark.ext.cache import persist_tracked

    # Persisted (tracked): the n_planes dot products + identity window
    # beneath feed five branches of the returned union (cross via
    # reps/gated, both expansion sides, clique, star) — without the pin
    # each branch could re-run the bucketing scan (exchange reuse across
    # union arms is not guaranteed under AQE).  Same lifecycle as the
    # MinHash sigg table: cache_scope / clearCache.
    groups = persist_tracked(
        b.withColumn("rep", F.min(id_col).over(wg))
        .withColumn("gn", F.count("*").over(wg))
    )
    # gn stays on the reps so the cross-group cap below is a pure row
    # filter — no sizes join, no extra AQE stage
    reps = groups.filter(F.col(id_col) == F.col("rep")).drop("rep")
    wsz = Window.partitionBy("bucket")
    gated = reps
    if max_bucket is not None:
        gated = reps.withColumn("__n", F.count("*").over(wsz)).filter(
            F.col("__n") <= max_bucket
        ).drop("__n")
    a, c = gated.alias("a"), gated.alias("b")
    cross = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.gn").alias("__gna"),
            F.col("b.gn").alias("__gnb"),
            cosine_pre(
                F.col("a.v"), F.col("b.v"), F.col("a.nv"), F.col("b.nv")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    # Cross-group cap + member expansion: the SHARED kernel
    # (ext.dedup._expand_cross — a verified rep↔rep pair between two
    # identical-vector groups whose bipartite product exceeds
    # CROSS_MAX_PAIRS emits only the rep↔rep bridge edge, gated in the
    # membership JOIN CONDITION with the sizes that rode the bucket
    # self-join — zero added stages, clusters identical because the
    # ident arm below always wires members to their rep).  Same DuckDB
    # oracle mirror as the dedup family.
    from pipeline311_spark.ext.dedup import _expand_cross

    expanded = (
        _expand_cross(
            cross.withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b"),
            groups.select(F.col(id_col).alias("doc"), "rep", "gn"),
            ["cos_sim"],
            gn_cols=("__gna", "__gnb"),
        )
        .withColumnRenamed("doc_a", "id_a")
        .withColumnRenamed("doc_b", "id_b")
    )
    # Identical-vector pairs: cosine computed with the SAME expression
    # as cross pairs (on v,v) so the value matches the oracle bit-wise.
    ga = groups.select(
        F.col("rep").alias("__r"), F.col(id_col).alias("id_a"), "gn", "v", "nv"
    )
    gb = groups.select(F.col("rep").alias("__r"), F.col(id_col).alias("id_b"))
    self_cos = cosine_pre(F.col("v"), F.col("v"), F.col("nv"), F.col("nv"))
    clique = (
        ga.filter(F.col("gn") <= max_group)
        .join(gb, "__r")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", self_cos.alias("cos_sim"))
    )
    star = groups.filter((F.col("gn") > max_group) & (F.col(id_col) != F.col("rep"))).select(
        F.col("rep").alias("id_a"), F.col(id_col).alias("id_b"), self_cos.alias("cos_sim")
    )
    ident = clique.unionByName(star).filter(F.col("cos_sim") >= threshold)
    return expanded.unionByName(ident)


def semantic_dedup_keep(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid,
    find within-cluster cosine near-duplicates, and drop every doc
    that has a lower-id near-duplicate in its cluster.  Returns the
    KEPT (id, centroid_id) rows.

    Spark shape: one broadcast-centroid assignment scan
    (:func:`ivf_assign`), then a within-cluster self-join — quadratic
    in CLUSTER size only, so K must scale with the corpus (the paper
    uses K ~ 0.1·n; constant cluster occupancy keeps total pair work
    linear).  ``max_cluster`` is the spill-safe backstop, the same
    window gate as the other bucketed joins: an oversized cluster is
    exempted from dedup (kept whole) rather than quadratic-blowing a
    task — at sane K it never triggers.

    Keep rule: a doc is dropped iff some LOWER-id doc in its cluster
    is ≥ threshold similar — deterministic, order-free, and exactly
    one survivor per duplicate chain head (the paper's random-keep is
    replaced by lowest-id for reproducibility).

    The gated assignment feeds FOUR consumers (both self-join sides,
    the keep anti-join, the oversized exemption), so it is persisted —
    without the cache each consumer re-runs the centroid-assignment
    scan (measured 2.7 s → 1.5 s at sf0.1).  The cache is
    corpus-sized (id + vector + cluster); at a scale where that is
    unaffordable, write the assignment out partitioned by
    ``centroid_id`` once (the cell-partitioned layout of the IVF-PQ
    store, ext/ann_store.py) and run the pruning from the store."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)  # id, v, nv, centroid_id
    wsz = Window.partitionBy("centroid_id")
    from pipeline311_spark.ext.cache import persist_tracked

    gated = persist_tracked(assigned.withColumn("__n", F.count("*").over(wsz)))
    small = gated.filter(F.col("__n") <= max_cluster).drop("__n")
    oversized = gated.filter(F.col("__n") > max_cluster).drop("__n")
    a = small.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = small.select(
        F.col("centroid_id"), F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    kept = small.join(dropped, id_col, "left_anti").select(id_col, "centroid_id")
    return kept.unionByName(oversized.select(id_col, "centroid_id"))
