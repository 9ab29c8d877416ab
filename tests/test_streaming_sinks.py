"""Tests for the incremental runner (T1), batched sink writer (K5-K7
retry envelope), and structured-streaming joins and session windows."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.sinks.writers import batched_foreach_writer, write_parquet
from pipeline311_spark.streaming.incremental import IncrementalRunner


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_incremental_runner_two_syncs(spark, tmp_path):
    tgt = str(tmp_path / "target")
    src_rows = [
        (1, "v1", ts("2024-01-01T00:00:00")),
        (2, "v1", ts("2024-01-02T00:00:00")),
    ]
    source = {"df": spark.createDataFrame(src_rows, "pk long, val string, updated_datetime timestamp")}
    write_parquet(source["df"].limit(0), tgt)

    runner = IncrementalRunner(
        read_target=lambda: spark.read.parquet(tgt),
        read_source_since=lambda w: source["df"],
        write_target=lambda df: df.count(),  # materialize; targets differ per sync below
        key="pk",
        watermark_col="updated_datetime",
    )
    merged = runner.run_once()
    assert merged.count() == 2

    # second sync with one newer row, one stale row and one row exactly
    # at the target watermark (2024-01-02): strict > must not re-merge it
    source["df"] = spark.createDataFrame(
        [
            (2, "v2", ts("2024-01-05T00:00:00")),
            (1, "stale", ts("2023-12-01T00:00:00")),
            (1, "tie", ts("2024-01-02T00:00:00")),
        ],
        "pk long, val string, updated_datetime timestamp",
    )
    runner.read_target = lambda: merged
    out = {r["pk"]: r["val"] for r in runner.run_once().collect()}
    assert out == {1: "v1", 2: "v2"}


def test_batched_writer_batches_and_retries(spark, tmp_path):
    log = str(tmp_path / "sent.log")
    df = spark.range(0, 103).coalesce(1)

    fail_marker = str(tmp_path / "failed_once")

    def send(rows):
        # fail the first call once to exercise the retry ladder
        if not os.path.exists(fail_marker):
            open(fail_marker, "w").close()
            raise RuntimeError("transient")
        with open(log, "a") as f:
            f.write(f"{len(rows)}\n")

    batched_foreach_writer(df, send, batch_size=50, max_tries=3, backoff_s=0.01)
    sizes = [int(line) for line in open(log)]
    assert sorted(sizes, reverse=True) == [50, 50, 3]


def test_batched_writer_raises_after_max_tries(spark):
    def always_fail(rows):
        raise RuntimeError("down")

    with pytest.raises(Exception):
        batched_foreach_writer(spark.range(5), always_fail, batch_size=2, max_tries=2, backoff_s=0.0)


def test_batched_writer_throttle_pauses_between_batches(spark, tmp_path):
    import time as _time

    log = str(tmp_path / "stamps.log")

    def send(rows):
        with open(log, "a") as f:
            f.write(f"{_time.monotonic()}\n")

    df = spark.range(0, 6).coalesce(1)
    batched_foreach_writer(df, send, batch_size=2, throttle_s=0.2)
    stamps = [float(line) for line in open(log)]
    assert len(stamps) == 3
    # T6: a politeness pause separates consecutive successful batches
    assert all(b - a >= 0.18 for a, b in zip(stamps, stamps[1:]))


def test_stream_stream_join_matches_cross_batch_boundaries(spark, tmp_path):
    """Watermarked stream-stream join where matching pairs arrive in
    DIFFERENT micro-batches: the earlier side must be held in the state
    store until its partner arrives.  Synthetic, time-ordered chunks;
    watermark delays are generous so eviction can't race batch order —
    the eviction bound itself is documented plan behavior, what's under
    test here is cross-batch buffering correctness."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "ssj_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # batch 1: clicks only; batch 2 (one hour later): their purchases
    rows1 = [(u, 100 + u, "click", base + dt.timedelta(minutes=u)) for u in range(5)]
    rows2 = [
        (u, 200 + u, "purchase", base + dt.timedelta(minutes=u + 30)) for u in range(5)
    ] + [(99, 299, "purchase", base + dt.timedelta(hours=10))]  # never matches
    schema = "user_id long, event_id long, event_type string, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 days")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "30 days")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("user_id", "click_id", "purchase_id")

    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_cross_batch")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # every batch-1 click matched by its batch-2 purchase; the 10h-late
    # purchase matched nothing
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.table("ssj_cross_batch").collect()
    }
    assert got == {(u, 100 + u, 200 + u) for u in range(5)}
    # and the stream genuinely ran more than one micro-batch
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1


def test_stream_session_window_watermark_eviction(spark, tmp_path):
    """Append-mode streaming session windows: a session is emitted
    exactly once, only after the watermark passes its end; sessions the
    watermark has not closed stay in state and are NOT emitted.  This
    is the unbounded-stream production shape of stream_session_window
    (the registry query drains in complete mode to equal the batch
    oracle); state here is bounded by open sessions, not stream
    length."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "sessw_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp"
    # batch 1: user 1 has a 2-event session; user 2 a 1-event session
    rows1 = [(1, base), (1, base + dt.timedelta(minutes=10)), (2, base + dt.timedelta(hours=2))]
    # batch 2: much later events push the watermark past both sessions;
    # these new sessions remain open at shutdown
    rows2 = [(1, base + dt.timedelta(hours=4)), (2, base + dt.timedelta(hours=4))]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessw_evict")
        .option("checkpointLocation", str(tmp_path / "sessw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["w"]["start"], r["n_events"])
        for r in spark.table("sessw_evict").collect()
    }
    # only the two watermark-closed sessions; the T0+4h sessions are
    # open (watermark = T0+4h - 10min < their end) and must not appear
    assert got == {(1, base, 2), (2, base + dt.timedelta(hours=2), 1)}
