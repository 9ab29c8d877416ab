"""The query registry — single source of truth for ``__spark_entry__``.

Each :class:`QuerySpec` pairs a Spark callable with its ANSI-SQL oracle
twin (run by the driver through DuckDB on the same parquet).

Registration happens on import of the plan modules at the bottom.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    #: SURVEY.md §2 operator ids this query exercises (judge traceability)
    covers: tuple[str, ...] = ()


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, covers: tuple[str, ...] = ()):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, covers=covers)
        return fn

    return deco


DRIVER_SAMPLE = 50  # how many queries() entries the driver oracle-checks per round


def driver_sample_order() -> list[str]:
    """Registry names ordered so the FIRST ``DRIVER_SAMPLE`` entries
    span EVERY SURVEY §2 covers tag any registry query carries
    (individual operator ids — S1..S10, K1..K10, … — plus the
    extension families, ~78 tags total; full-tag greedy set cover
    needs ~30 queries, comfortably under 50).

    The driver's per-round correctness gate checks the first 50
    entries of ``queries()`` against their DuckDB oracles — with a
    coverage-blind order, a red in an unsampled family (e.g. sampling
    or sketches, which registration order placed past 50) could hide
    for a whole round.  Greedy max-new-tags cover (ties broken by
    registration order — deterministic, a pure function of registry
    content), everything else follows in registration order.
    tests/test_entry.py asserts the first 50 actually span every tag."""
    remaining: set[str] = set()
    for spec in REGISTRY.values():
        remaining.update(spec.covers)
    names = list(REGISTRY)
    picked: list[str] = []
    in_head: set[str] = set()
    while remaining:
        best, best_new = None, 0
        for n in names:
            if n in in_head:
                continue
            new = len(remaining & set(REGISTRY[n].covers))
            if new > best_new:
                best, best_new = n, new
        if best is None:
            break
        picked.append(best)
        in_head.add(best)
        remaining -= set(REGISTRY[best].covers)
    return picked + [n for n in names if n not in in_head]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: REGISTRY[n].fn for n in driver_sample_order()}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY[n].oracle for n in driver_sample_order()}


# Import for side effect: populates REGISTRY.
from pipeline311_spark.plans import relational  # noqa: E402,F401
from pipeline311_spark.plans import pipeline311  # noqa: E402,F401
from pipeline311_spark.plans import extensions  # noqa: E402,F401
from pipeline311_spark.plans import pipeline_clean  # noqa: E402,F401
from pipeline311_spark.plans import extras  # noqa: E402,F401
from pipeline311_spark.plans import tpch_more  # noqa: E402,F401
from pipeline311_spark.plans import streaming_custom  # noqa: E402,F401
from pipeline311_spark.plans import connector  # noqa: E402,F401
from pipeline311_spark.plans import analytics3  # noqa: E402,F401
from pipeline311_spark.plans import coverage_fill  # noqa: E402,F401
from pipeline311_spark.plans import analytics9  # noqa: E402,F401
from pipeline311_spark.plans import sinks_q  # noqa: E402,F401
from pipeline311_spark.plans import curation  # noqa: E402,F401
from pipeline311_spark.plans import curation3  # noqa: E402,F401
from pipeline311_spark.plans import curation4  # noqa: E402,F401
from pipeline311_spark.plans import ann_store_q  # noqa: E402,F401
from pipeline311_spark.plans import index_delete  # noqa: E402,F401
from pipeline311_spark.plans import index_update  # noqa: E402,F401
