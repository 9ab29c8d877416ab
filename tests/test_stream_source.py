"""Streaming half of the sf_cases connector: offset math, multi-batch
rate limiting, and checkpoint-restart exactly-once."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import functions as F


def _start_stream(spark, path, schema, out_name, per_trigger, ckpt=None):
    from pipeline311_spark.sources import salesforce_sim

    salesforce_sim.register(spark)
    st = (
        spark.readStream.format("sf_cases")
        .schema(schema)
        .option("path", path)
        .option("pagesize", "200")
        .option("maxrowspertrigger", str(per_trigger))
        .load()
    )
    w = st.writeStream.format("memory").queryName(out_name)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    return w.start()


def _drain(spark, q, out_name, want, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline and spark.table(out_name).count() < want:
        time.sleep(0.25)
    q.stop()
    q.awaitTermination(30)


def test_stream_source_rate_limited_multibatch(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    n = spark.read.parquet(path).count()
    name = f"ss_multi_{uuid.uuid4().hex[:8]}"
    q = _start_stream(spark, path, schema, name, per_trigger=max(1, n // 4))
    _drain(spark, q, name, n)
    got = spark.table(name)
    assert got.count() == n                       # every row exactly once
    assert got.select("event_id").distinct().count() == n
    nonempty = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert nonempty >= 4                          # the cap actually paced ingestion
    # matches the batch read bit-for-bit
    batch = spark.read.parquet(path)
    assert got.select(*batch.columns).exceptAll(batch).count() == 0


def test_stream_source_availablenow_drains_everything(spark, sf_dir):
    from pipeline311_spark.sources import salesforce_sim

    salesforce_sim.register(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    n = spark.read.parquet(path).count()
    name = f"ss_drain_{uuid.uuid4().hex[:8]}"
    st = (
        spark.readStream.format("sf_cases")
        .schema(schema)
        .option("path", path)
        .load()  # no per-trigger cap: availableNow must see the full store
    )
    q = st.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.table(name).count() == n


def test_stream_source_checkpoint_restart_exactly_once(spark, sf_dir):
    from pipeline311_spark.sources import salesforce_sim

    salesforce_sim.register(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    n = spark.read.parquet(path).count()
    per = max(1, n // 5)
    base = os.path.join(tempfile.gettempdir(), f"ss_restart_{uuid.uuid4().hex[:12]}")
    ckpt, out = base + ".ckpt", base + ".out"

    def start():
        st = (
            spark.readStream.format("sf_cases")
            .schema(schema)
            .option("path", path)
            .option("pagesize", "200")
            .option("maxrowspertrigger", str(per))
            .load()
        )
        return (
            st.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def sunk():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # sink dir not created yet

    # phase 1: ingest at least one batch, then stop (usually mid-stream;
    # a fast machine may fully drain between polls — the exactly-once
    # assertions below hold either way, so don't hard-assert seen1 < n)
    q1 = start()
    deadline = time.time() + 120
    while time.time() < deadline and sunk() < per:
        time.sleep(0.05)
    q1.stop()
    q1.awaitTermination(30)
    seen1 = sunk()
    assert seen1 > 0

    # phase 2: a FRESH reader restarts from the checkpointed offset
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline and sunk() < n:
        time.sleep(0.25)
    q2.stop()
    q2.awaitTermination(30)

    got = spark.read.parquet(out).select("event_id")
    assert got.count() == n                       # no gap, and
    assert got.distinct().count() == n            # no overlap (exactly-once)


def test_crash_resume_into_merge_matches_uninterrupted(spark, sf_dir):
    """r6 punch #6: kill the incremental sync between micro-batches and
    restart from the checkpoint — the foreachBatch MERGE must resume
    into the serving table such that the FINAL table exactly matches an
    uninterrupted run (the reference's ordered processing,
    sync-db2-ago.py:539-556, exists precisely for this resumability).

    The source is the rate-limited connector stream (several
    micro-batches by construction), so the interrupt genuinely lands
    between batches.  Effective exactly-once = checkpointed source
    offsets + an IDEMPOTENT merge: a replayed batch (foreachBatch is
    at-least-once across restarts) upserts the same latest-per-key
    rows again, changing nothing.  A torn parquet overwrite mid-batch
    would need a transactional table format and is out of scope for
    the parquet kernel."""
    from pipeline311_spark.plans.common import prep_session
    from pipeline311_spark.plans.streaming_custom import (
        EVENTS,
        _parquet_upsert_batch_fn,
        _serving_table_result,
    )
    from pipeline311_spark.sources import salesforce_sim
    from pipeline311_spark.sources.readers import normalize_event_time

    prep_session(spark)
    salesforce_sim.register(spark)
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = spark.read.parquet(path).schema
    n = spark.read.parquet(path).count()
    per = max(1, (n + 3) // 4)  # ~4 micro-batches
    base = os.path.join(tempfile.gettempdir(), f"ss_resume_{uuid.uuid4().hex[:12]}")

    def committed(q):
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    def run(out, ckpt, interrupt: bool):
        def start():
            raw = (
                spark.readStream.format("sf_cases")
                .schema(physical)
                .option("path", path)
                .option("maxrowspertrigger", str(per))
                .load()
            )
            stream = normalize_event_time(raw, EVENTS).select(
                "user_id", "event_id", "event_type", "ts"
            )
            return (
                stream.writeStream.foreachBatch(_parquet_upsert_batch_fn(out))
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        already = 0
        if interrupt:
            deadline = time.time() + 120
            while time.time() < deadline and committed(q) < per:
                time.sleep(0.05)
            q.stop()
            q.awaitTermination(30)
            assert committed(q) < n, "stream drained before the interrupt"
            # rows the first incarnation committed offsets for: the
            # restarted query re-delivers AT LEAST n - already rows
            # (at-least-once), so the drain condition below terminates.
            # The old condition waited for committed(q) == n on the NEW
            # incarnation, which never reports the pre-restart rows —
            # the loop always burned its full 240 s deadline (round 12;
            # the assertions at the end were already the real gate).
            already = committed(q)
            q = start()
        deadline = time.time() + 240
        done = 0
        while time.time() < deadline and done < n - already:
            done = committed(q)
            # belt-and-braces exit for the rare progress-event race
            # (offsets committed just before stop but the progress
            # event not yet visible → `already` undercounts): once the
            # engine reports no available data after real progress,
            # the stream is drained regardless of the row math.
            if done > 0 and not q.status["isDataAvailable"] and not q.status["isTriggerActive"]:
                break
            time.sleep(0.25)
        q.stop()
        q.awaitTermination(30)
        return _serving_table_result(spark, out)

    interrupted = run(base + ".out1", base + ".ckpt1", interrupt=True)
    clean = run(base + ".out2", base + ".ckpt2", interrupt=False)
    a = sorted(tuple(r) for r in interrupted.collect())
    b = sorted(tuple(r) for r in clean.collect())
    assert a == b and len(a) > 0
