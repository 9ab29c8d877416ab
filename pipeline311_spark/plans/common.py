"""Shared helpers for the query registry.

Cross-engine determinism rules (every query obeys these so the driver's
order-insensitive value-hash matches the DuckDB oracle bit-for-bit):

* **Money/metric sums**: never sum raw doubles (summation order differs
  between engines).  Cast to DECIMAL first → exact associative sum →
  cast the result to DOUBLE.  Verified bit-identical.
* **Means**: exact decimal (or integer) sum cast to double, divided by
  the count — IEEE division of identical inputs is deterministic.
* **Array math** (dot products, folds): sequential fold in array order
  on both engines (`F.aggregate` / `list_reduce`) over doubles.
* **Timestamps**: render to strings (`date_format` / `strftime`) —
  the session timezone is pinned to UTC so naive parquet values
  round-trip identically.
* **Top-k**: always a deterministic total order (unique-key tiebreak).
* **Integer outputs**: cast to BIGINT on both sides.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline311_spark.session import prep_session
from pipeline311_spark.sources.readers import load_table


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prep_session(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Plan capture (VERDICT r10 item 5): store-serving queries must
# localCheckpoint before their tmp artifacts are cleaned up, which
# replaces the returned frame's lineage with a LogicalRDD scan — so the
# generated PLANS.md audit was all-zero exactly for the ~20 most
# interesting queries (every *_from_store / stream_* / hybrid).  All
# registry checkpoint sites now route through :func:`materialize`;
# tools/gen_plan_report.py flips ``_PLAN_CAPTURE`` to a list and reads
# the REAL pre-checkpoint formatted plan recorded here while the
# artifacts still exist.
# ---------------------------------------------------------------------------

_PLAN_CAPTURE: list[str] | None = None


def formatted_plan(df: DataFrame) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def materialize(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` with the plan-audit hook: when
    capture is on, record the frame's real formatted plan BEFORE the
    checkpoint erases its lineage.  Used via ``.transform(materialize)``
    so call sites stay chainable."""
    if _PLAN_CAPTURE is not None:
        _PLAN_CAPTURE.append(formatted_plan(df))
    return df.localCheckpoint(eager=True)


@contextmanager
def scratch_dir(tag: str) -> Iterator[str]:
    """A fresh ``p311_<tag>_<uuid>`` path under the system temp dir for
    one store query's files (not created; the writer makes it), removed
    on exit.  A frame that still reads the files must be
    :func:`materialize`'d before the block ends."""
    path = os.path.join(tempfile.gettempdir(), f"p311_{tag}_{uuid.uuid4().hex[:12]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with NULL vectors dropped — the engine-wide
    convention: a NULL embedding is a failed/absent encode and takes
    part in NO vector operation (a ZERO vector, by contrast, flows
    through and yields NULL similarity via try_divide).  Oracles mirror
    with ``WHERE embedding IS NOT NULL``."""
    return load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


def dec(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def dsum(col: Column | str) -> Column:
    """Exact sum of a 2-decimal metric, returned as double."""
    return F.sum(dec(col)).cast("double")


def revenue_expr() -> Column:
    """sum(l_extendedprice * (1 - l_discount)) via exact decimals."""
    one = F.lit(1).cast("decimal(18,2)")
    return F.sum(dec("l_extendedprice") * (one - dec("l_discount"))).cast("double")


REVENUE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"
)


def fmt_ts(col: Column | str, micros: bool = True) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS" if micros else "yyyy-MM-dd HH:mm:ss"
    return F.date_format(c, fmt)


def fmt_ts_sql(col: str, micros: bool = True) -> str:
    fmt = "%Y-%m-%d %H:%M:%S.%f" if micros else "%Y-%m-%d %H:%M:%S"
    return f"strftime({col}, '{fmt}')"
