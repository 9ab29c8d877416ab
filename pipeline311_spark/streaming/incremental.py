"""Watermark-driven incremental execution (SURVEY T1; §1.4).

The reference approximates a stream with scheduled batch + watermark
("get all records updated since then", README.md:21).
:class:`IncrementalRunner` is the faithful batch equivalent: read the
destination watermark, pull newer source rows, MERGE, write.  Late data
is handled naturally because the watermark is the *destination* max
while the pull is by *source* modify time.

The Structured Streaming form of the same loop is a ``foreachBatch``
MERGE through :func:`pipeline311_spark.operators.merge_backends
.upsert_into``, so both paths share the window-dedup kernel.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from pipeline311_spark.operators.aggregates import max_watermark
from pipeline311_spark.operators.filters import watermark_filter
from pipeline311_spark.operators.merge import upsert


class IncrementalRunner:
    """T1 as a reusable driver: ``run_once`` = one scheduled sync."""

    def __init__(
        self,
        read_target: Callable[[], DataFrame],
        read_source_since: Callable[[object | None], DataFrame],
        write_target: Callable[[DataFrame], None],
        key: str,
        watermark_col: str = "updated_datetime",
        inclusive: bool = False,
    ):
        self.read_target = read_target
        self.read_source_since = read_source_since
        self.write_target = write_target
        self.key = key
        self.watermark_col = watermark_col
        self.inclusive = inclusive

    def current_watermark(self, target: DataFrame):
        return max_watermark(target, self.watermark_col)

    def run_once(self) -> DataFrame:
        target = self.read_target()
        w = self.current_watermark(target)
        source = self.read_source_since(w)
        if w is not None:
            source = watermark_filter(source, self.watermark_col, w, self.inclusive)
        merged = upsert(target, source, self.key, self.watermark_col)
        self.write_target(merged)
        return merged
