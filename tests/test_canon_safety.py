"""Registry-wide canon-safety audit.

The driver's correctness gate canonicalizes results through pandas:
Spark rows via toPandas-like conversion, the DuckDB oracle via
``fetchdf``.  Two output classes break or destabilize that boundary
(both bit in round 1 — VERDICT.md "What's wrong" #1/#2):

  1. Unhashable cells: array/map/struct columns crash pandas'
     hash-based canonicalization (``TypeError: unhashable type``).
  2. Engine-variant numeric rendering: DuckDB SUM(BIGINT) returns
     HUGEINT → pandas float64 → "6.0", while Spark's long renders
     "6".  Same for decimals (Decimal('6.00') vs 6.0) and dates
     (date vs midnight Timestamp).  Nullable integer columns are the
     sneaky case: they become float64 only when nulls are present at
     a given scale factor — a data-DEPENDENT dtype — so they must be
     cast to double (or rendered to string) on BOTH engines.

These tests enforce the discipline statically-ish: every registered
query's Spark output schema must contain only canon-safe types, and
every oracle's DuckDB result types (resolved lazily, nothing executes)
must be canon-safe too.
"""

from __future__ import annotations

import duckdb
import pytest

from pipeline311_spark.plans import REGISTRY

# Spark simple-type prefixes that survive the pandas boundary.
_SPARK_SAFE = (
    "string",
    "bigint",
    "int",
    "smallint",
    "tinyint",
    "double",
    "float",
    "boolean",
    "timestamp",
)
_SPARK_BAD_PREFIX = ("array", "map", "struct", "binary", "decimal", "date")

# DuckDB logical types that round-trip pandas identically to Spark's.
_DUCK_SAFE = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "FLOAT",
    "VARCHAR",
    "BOOLEAN",
    "TIMESTAMP",
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_spark_outputs_canon_safe(registry_frames):
    # frames from the shared parallel-construction fixture (round 12):
    # this audit reads only output dtypes, so it shares one
    # construction pass with the plan audit
    offenders = {}
    for name, df in sorted(registry_frames.items()):
        bad = [
            (c, t)
            for c, t in df.dtypes
            if t.startswith(_SPARK_BAD_PREFIX) or not t.startswith(_SPARK_SAFE)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"canon-hazard Spark output columns: {offenders}"


def test_oracle_types_canon_safe(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    offenders = {}
    for name, spec in sorted(REGISTRY.items()):
        rel = con.sql(spec.oracle)  # lazy: binds + types, does not execute
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) not in _DUCK_SAFE
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"canon-hazard oracle result types: {offenders}"
