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
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from pipeline311_spark.plans.common import fmt_ts_sql, table
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


_STREAM_MERGE_SQL = f"""
SELECT user_id, event_id, event_type, {fmt_ts_sql('ts')} AS ts_str
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


def _parquet_upsert_batch_fn(out_dir: str):
    """foreachBatch kernel shared by the streaming MERGE queries: each
    micro-batch is reduced latest-per-key (intra-batch ties break on
    event_id), then MERGEd into the serving table through
    ``upsert_into`` (updates win on ts ties; remote-safe existence
    probe, lineage-broken rewrite) — the warehouse MERGE path, not a
    parallel implementation."""
    from pipeline311_spark.operators.merge import latest_per_key
    from pipeline311_spark.operators.merge_backends import upsert_into

    def apply_batch(batch_df, batch_id):
        batch_latest = latest_per_key(batch_df, "user_id", "ts", tiebreak="event_id")
        upsert_into(batch_df.sparkSession, out_dir, batch_latest, "user_id", "ts")

    return apply_batch


def _serving_table_result(spark, out_dir: str):
    if not os.path.isdir(out_dir):
        # empty stream: foreachBatch never fired, nothing landed — an
        # empty serving table with the declared schema, not a read error
        return spark.createDataFrame(
            [], "user_id long, event_id long, event_type string, ts_str string"
        )
    return spark.read.parquet(out_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


@register("stream_merge_latest", _STREAM_MERGE_SQL, covers=("T1", "K3", "O5"))
def q_stream_merge_latest(spark, sf_dir):
    """The incremental MERGE executed through Structured Streaming:
    each micro-batch upserts into a parquet serving table via
    ``foreachBatch`` (the reference's whole sync loop, SURVEY §3.1,
    as a streaming job)."""
    import uuid

    out_dir = os.path.join(
        tempfile.gettempdir(), f"p311_stream_merge_{uuid.uuid4().hex[:12]}"
    )
    ckpt = out_dir + ".ckpt"

    stream = _stream_events(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")

    q = (
        stream.writeStream.foreachBatch(_parquet_upsert_batch_fn(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return _serving_table_result(spark, out_dir)


@register("stream_connector_incremental_sync", _STREAM_MERGE_SQL, covers=("S1", "T1", "K3", "O5"))
def q_stream_connector_sync(spark, sf_dir):
    """The reference's WHOLE sync architecture in one query: the
    paginated source connector (S1) streamed through its DSv2
    micro-batch reader with a per-trigger row cap (the polling loop,
    sync-db2.py:49-50), each micro-batch MERGEd latest-per-key into a
    parquet serving table via ``foreachBatch`` (T1/K3/O5).  Unlike
    stream_merge_latest (file-source stream), the source here is the
    custom connector — offsets are source cursor positions, and each
    batch's extract is planned as parallel pages on executors."""
    import time
    import uuid

    from pipeline311_spark.plans.common import prep_session
    from pipeline311_spark.sources import salesforce_sim
    from pipeline311_spark.sources.readers import normalize_event_time

    prep_session(spark)
    salesforce_sim.register(spark)
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = spark.read.parquet(path).schema
    n_rows = spark.read.parquet(path).count()
    per_trigger = max(1, (n_rows + 2) // 3)  # ~3 polling cycles at any sf

    raw = (
        spark.readStream.format("sf_cases")
        .schema(physical)
        .option("path", path)
        .option("maxrowspertrigger", str(per_trigger))
        .load()
    )
    stream = normalize_event_time(raw, EVENTS).select("user_id", "event_id", "event_type", "ts")

    out_dir = os.path.join(
        tempfile.gettempdir(), f"p311_conn_sync_{uuid.uuid4().hex[:12]}"
    )
    ckpt = out_dir + ".ckpt"

    q = (
        stream.writeStream.foreachBatch(_parquet_upsert_batch_fn(out_dir))
        .option("checkpointLocation", ckpt)
        .start()
    )
    # A rate-limited source never "finishes" on its own; drain by
    # polling committed progress until every source row is processed.
    deadline = time.time() + 300
    done = 0
    while time.time() < deadline and done < n_rows:
        done = sum(int(p["numInputRows"]) for p in q.recentProgress)
        time.sleep(0.25)
    q.stop()
    q.awaitTermination(60)
    if done < n_rows:
        raise TimeoutError(f"connector sync drained {done}/{n_rows} rows in 300s")
    return _serving_table_result(spark, out_dir)


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


@register("custom_grouped_map_batched", _APPLY_SQL, covers=("T7", "ext:text"))
def q_grouped_map_batched(spark, sf_dir):
    """Same per-user fingerprint via ext.grouped.apply_per_key_sorted —
    applyInPandas semantics at mapInPandas cost (one Arrow stream per
    partition instead of one round-trip per group)."""
    from pipeline311_spark.ext.grouped import apply_per_key_sorted

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")

    def fp(pdf: pd.DataFrame) -> pd.DataFrame:
        joined = "|".join(str(i) for i in pdf["event_id"])
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "history_fp": [hashlib.md5(joined.encode()).hexdigest()],
                "n_events": [len(pdf)],
            }
        )

    return apply_per_key_sorted(
        e, "user_id", ["ts", "event_id"], fp, "user_id long, history_fp string, n_events long"
    )


# ---------------------------------------------------------------------------
# Streaming dedup + native session windows
# ---------------------------------------------------------------------------

_STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("stream_dedup_watermark", _STREAM_DEDUP_SQL, covers=("T1", "ext:dedup", "A6"))
def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` —
    the bounded-state streaming twin of the batch fingerprint dedup:
    state for a key is dropped once the watermark passes it, so state
    size tracks the dedup window, not the stream length.  The emitted
    row per key is first-arrival (nondeterministic ts), so the query
    projects to the key columns, which IS the deterministic answer."""
    import uuid

    stream = _stream_events(spark, sf_dir).select("user_id", "event_type", "ts")
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.select("user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


_SESSION_GAP_MIN = 30

_SESSION_WINDOW_SQL = f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL {_SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL {_SESSION_GAP_MIN} MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# Watermarked stream-stream join
# ---------------------------------------------------------------------------

_STREAM_JOIN_SQL = """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
"""


@register("stream_stream_join", _STREAM_JOIN_SQL, covers=("T1", "J4", "F2"))
def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join: clicks matched to the same
    user's purchases within the following hour.  Both sides carry an
    event-time watermark and the join condition bounds the time range,
    so the state store evicts a buffered click once the purchase-side
    watermark passes click_ts + 1 hour — state size tracks the join
    window, not the stream length (the property that makes this viable
    on an unbounded 100 TB/day stream).  The stream drains fully under
    ``availableNow``, so the emitted matches equal the batch/oracle
    twin exactly."""
    import uuid

    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "click_id", "purchase_id")
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Custom stateful streaming operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


@register("stream_stateful_running_totals", _STATEFUL_SQL, covers=("T1", "T7"))
def q_stateful_running_totals(spark, sf_dir):
    """Per-user running totals carried across micro-batches by the
    state store (``applyInPandasWithState`` — the custom stateful
    operator Spark's built-in streaming aggs can't express when the
    update logic is arbitrary Python).

    The events table is split into four chunk files and streamed with
    ``maxFilesPerTrigger=1``, so the state genuinely crosses batch
    boundaries; each batch's emissions land in a parquet sink tagged
    with the batch id, and the LAST emission per user — i.e. the final
    state — must equal a plain GROUP BY over all events, which is the
    oracle.  Totals are integer cents (pre-rounded), so cross-batch
    accumulation is exact and batch-boundary-independent."""
    import uuid

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from pipeline311_spark.streaming.stateful import running_totals_stream

    base = os.path.join(tempfile.gettempdir(), f"p311_stateful_{uuid.uuid4().hex[:12]}")
    src_dir, out_dir, ckpt = base + "_src", base + "_out", base + "_ckpt"

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    for i in range(4):  # four files -> four micro-batches
        events.filter(F.pmod("event_id", F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    )
    updates = running_totals_stream(stream.select("user_id", "cents"))

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    q = (
        updates.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    emitted = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("user_id", "n_events", "total_cents")
    )


@register("q_session_window_native", _SESSION_WINDOW_SQL, covers=("T1", "O5", "A-class"))
def q_session_window(spark, sf_dir):
    """Native ``session_window`` aggregation (gap-merged event-time
    sessions; window end = last event + gap).  Runs in batch here so
    every session is emitted — the streaming variant is append-mode
    with a watermark, where the trailing session per key stays open
    (correct streaming semantics, but unmatchable against a batch
    oracle by construction).  Oracle is the strict gaps-and-islands
    twin: a new island starts when the gap is >= the session gap,
    mirroring session_window's half-open [start, last+gap) merge."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n_events",
        )
    )


@register("stream_session_window", _SESSION_WINDOW_SQL, covers=("T1", "O5", "A-class"))
def q_stream_session_window(spark, sf_dir):
    """Session-window aggregation as a Structured Streaming job —
    gap-merged event-time sessions maintained in streaming state
    (complete mode: no watermark required, every session re-emitted per
    trigger; ``availableNow`` drains the file source so the final
    memory-sink table equals the batch twin exactly — same oracle as
    q_session_window_native).  The production shape for an unbounded
    stream is update/append mode + ``withWatermark`` so closed sessions
    evict (state bounded by open sessions per key, not stream length);
    that path is exercised in tests/test_streaming_sinks.py where
    emission timing, not final content, is the contract."""
    import uuid

    stream = _stream_events(spark, sf_dir)
    agg = stream.groupBy(
        F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    name = f"stream_sessw_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
    )
