"""Streaming + custom-Python-operator queries.

These run REAL Structured Streaming (``readStream`` over the events
parquet with ``availableNow`` so the stream drains and terminates) and
Arrow-batched grouped Python (``applyInPandas``), yet still verify
against the DuckDB oracle — because the semantics are deterministic
the execution mode is invisible in the result.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import functions as F

from pipeline311_spark.plans.common import fmt_ts_sql
from pipeline311_spark.plans.registry import register
from pipeline311_spark.schemas import EVENTS
from pipeline311_spark.sources.readers import load_table


def _stream_events(spark, sf_dir):
    """events as a file stream.  The physical timestamp encoding of the
    parquet varies across testdata generations (nanos-as-long vs
    tz-naive micros); probe the actual schema with a batch footer read
    and normalize event time exactly like the batch reader does, so the
    stream never assumes a physical type."""
    from pipeline311_spark.plans.common import prep_session
    from pipeline311_spark.sources.readers import normalize_event_time

    # prep_session owns ALL session conf this path needs, including
    # spark.sql.legacy.parquet.nanosAsLong for the footer probe below
    # and the stream's own micro-batch reads (r4 set it ad-hoc here and
    # never restored it — conf ownership now lives in one place).
    prep_session(spark)  # streaming bypasses table(): pin tz/conf here too
    physical = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .parquet(sf_dir)
    )
    return normalize_event_time(raw, EVENTS)


_STREAM_HOURLY_SQL = f"""
SELECT {fmt_ts_sql("date_trunc('hour', ts)", micros=False)} AS window_start,
       event_type, COUNT(*) AS n
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


@register("stream_windowed_counts", _STREAM_HOURLY_SQL, covers=("T1", "S7"))
def q_stream_windowed(spark, sf_dir):
    """Tumbling-window aggregation executed as a Structured Streaming
    job (complete mode, memory sink), then returned as a DataFrame.
    The watermark/late-data path is exercised in tests; here the
    stream drains fully so complete-mode results equal the batch
    twin."""
    import uuid

    stream = _stream_events(spark, sf_dir)
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").count()
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"  # unique per invocation
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("count").alias("n"),
    )


_APPLY_SQL = """
SELECT user_id,
       md5(string_agg(CAST(event_id AS VARCHAR), '|' ORDER BY ts, event_id)) AS history_fp,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""


@register("custom_apply_in_pandas", _APPLY_SQL, covers=("T7", "ext:text"))
def q_apply_in_pandas(spark, sf_dir):
    """Custom grouped operator via Arrow-batched ``applyInPandas``:
    per-user event-history fingerprint (md5 over the ts-ordered id
    sequence).  The pattern for anything Spark's builtins can't
    express (per-group sequence models, custom sketches)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")

    def fp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        joined = "|".join(str(i) for i in pdf["event_id"])
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "history_fp": [hashlib.md5(joined.encode()).hexdigest()],
                "n_events": [len(pdf)],
            }
        )

    return e.groupBy("user_id").applyInPandas(
        fp, "user_id long, history_fp string, n_events long"
    )
