"""Portable deterministic hashing used by dedup / similarity.

``portable_hash`` is the first 60 bits of md5, reduced mod a prime.
md5 exists as a codegen'd builtin on BOTH engines (Spark ``md5`` /
DuckDB ``md5``, identical lowercase-hex output on UTF-8 bytes), so the
Spark side is pure JVM whole-stage-codegen — ``conv(substring(md5(x),
1, 15), 16, 10)`` — while the DuckDB oracle reproduces it bit-exactly
with a 15-step hex-digit fold (oracle-side cost is irrelevant).

This replaced a character-fold polynomial hash (``aggregate(split(
...))``): interpreted higher-order lambdas are not whole-stage-codegen'd
and the char-fold was 27% of the whole round-1 bench (VERDICT.md perf
section).  Same portability, ~10x cheaper on the Spark side.

(Spark's native ``xxhash64`` is faster still but not reproducible in
DuckDB; swap it in via ``fast=True`` when oracle parity is not needed.)
"""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007

# Monotonic gateway epoch: bumps whenever the ACTIVE py4j gateway is a
# different live object than last observed.  A weakref comparison (not
# ``id()``) is what makes this sound — CPython reuses addresses after
# GC, so an id-keyed cache could serve a dead handle when a relaunched
# gateway lands on the old gateway's address; a dead weakref resolves
# to None and can never compare identical to a live object.  Races
# merely double-bump (an extra cache miss, never a stale hit).
_gw_state: dict = {"ref": None, "epoch": 0}


def _gateway_epoch() -> int:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0  # Spark Connect / no JVM: nothing to invalidate
    gw = sc._gateway
    ref = _gw_state["ref"]
    if ref is None or ref() is not gw:
        _gw_state["epoch"] += 1
        try:
            _gw_state["ref"] = weakref.ref(gw)
        except TypeError:  # not weakref-able: a strong ref is also reuse-proof
            _gw_state["ref"] = lambda: gw
    return _gw_state["epoch"]


def jvm_memo(maxsize: int = 8):
    """``lru_cache`` for memoized Column-tree builders, additionally
    keyed on the ACTIVE py4j gateway's epoch (ADVICE r4): a classic-mode
    Column pins a py4j JVM object handle, so a cache that outlives a
    gateway shutdown/relaunch (embedding hosts, harnesses calling
    ``SparkContext._gateway.shutdown``) would serve dead handles until
    process restart.  A relaunched gateway bumps :func:`_gateway_epoch`
    and is a guaranteed cache miss (stale entries age out of the LRU);
    under Spark Connect there is no gateway and the key is a constant.
    Builders stay ``cache_clear``-able."""

    def deco(fn):
        cached = functools.lru_cache(maxsize=maxsize)(
            lambda __gw, *a, **k: fn(*a, **k)
        )

        @functools.wraps(fn)
        def wrapper(*a, **k):
            return cached(_gateway_epoch(), *a, **k)

        wrapper.cache_clear = cached.cache_clear
        wrapper.cache_info = cached.cache_info
        return wrapper

    return deco

_HEX = "0123456789abcdef"


def meta_df(spark, rows, schema):
    """Metadata-scale local DataFrame (centroids, codebooks, query sets,
    offsets) from driver ``rows`` — tuples in ``schema`` order;
    ``schema`` is a DDL string or a ``StructType``.

    The rows travel to the JVM as an Arrow table, so no Python worker
    runs, neither to build the frame nor in any action on it.  A
    parallelized row list is instead decoded by a Python worker in
    every action that reads it: the first such action starts the worker
    daemon, and each partition costs a worker round-trip (the default
    ``defaultParallelism`` slices of an 8-row centroid frame cost
    ~4.5 s per action on a 32-CPU host).  A small Arrow table becomes
    a JVM-side local relation; ``coalesce(1)`` keeps the frame on one
    partition, so a write of it is one task and one file."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def ensure_parallelism(df, min_parts: int | None = None):
    """Repartition a DataFrame whose scan produced too few partitions
    (a single small parquet file → one task → one core does all the
    shingling).  At 100 TB the scan's file splits provide parallelism
    and this is a no-op; locally it unlocks all cores for the
    explode-heavy dedup/similarity operators."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def portable_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash: ``int(md5(s)[:15], 16)``.

    Codegen'd end-to-end (md5 → substring → conv → cast), identical in
    the DuckDB oracle via :func:`portable_hash64_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash64` (hex-digit fold)."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(string_split(substr(md5({expr}), 1, 15), ''), "
        f"c -> (strpos('{_HEX}', c) - 1)::BIGINT)), "
        "(acc, x) -> acc * 16 + x)"
    )


def portable_hash(col: Column | str, fast: bool = False) -> Column:
    """Deterministic string hash in [0, MOD) — safe for the affine
    universal-hash family below (h * a stays under 63 bits)."""
    c = F.col(col) if isinstance(col, str) else col
    if fast:
        return F.pmod(F.xxhash64(c), F.lit(MOD))
    return F.pmod(portable_hash64(c), F.lit(MOD))


def portable_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`portable_hash`."""
    return f"({portable_hash64_sql(expr)} % {MOD})"


def affine(h: Column, a: int, b: int) -> Column:
    """One universal-hash family member ``(a*h + b) mod MOD`` — the
    MinHash permutation."""
    return (h * F.lit(a) + F.lit(b)) % F.lit(MOD)


def affine_sql(expr: str, a: int, b: int) -> str:
    return f"(({expr}) * {a} + {b}) % {MOD}"


def hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via a fixed LCG — no RNG state, same
    on every run and in generated oracle SQL."""
    params = []
    x = seed
    for _ in range(k):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = (x % (MOD - 1)) + 1
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % MOD
        params.append((a, b))
    return params
