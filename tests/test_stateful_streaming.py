"""applyInPandasWithState: state must genuinely persist across
micro-batches (streaming/stateful.py) — under BOTH state-store
providers (the HDFS-backed heap default and RocksDB, the 100 TB
keyspace choice; punch r5 #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.streaming.stateful import configure_state_store, running_totals_stream

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_provider(request, spark):
    old = spark.conf.get(_PROVIDER_KEY, None)
    configure_state_store(spark, request.param)
    yield request.param
    if old is None:
        spark.conf.unset(_PROVIDER_KEY)
    else:
        spark.conf.set(_PROVIDER_KEY, old)


def test_state_carries_across_micro_batches(spark, tmp_path, state_provider):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # two chunk files: user 1 appears in both, user 2 only in the first
    spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "user_id long, cents long"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(1, 300)], "user_id long, cents long"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        running_totals_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {
        (r["user_id"], r["batch_id"]): (r["n_events"], r["total_cents"])
        for r in spark.read.parquet(out).collect()
    }
    batches = sorted({b for _, b in rows})
    assert len(batches) == 2, f"expected 2 micro-batches, saw {batches}"
    b0, b1 = batches
    # user 1: cumulative state grew across the batch boundary
    assert rows[(1, b0)] == (2, 300)
    assert rows[(1, b1)] == (3, 600)
    # user 2: emitted only in its batch; state kept (no timeout) but not re-emitted
    assert rows[(2, b0)] == (1, 50)
    assert (2, b1) not in rows


def _protobuf_available() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState's state protocol needs google.protobuf, "
    "not installed in this environment (the operator code is real, "
    "the runtime dependency is absent)",
)
def test_transform_with_state_matches_apply_in_pandas(spark, tmp_path):
    """The Spark-4 transformWithState form must produce the SAME
    cumulative per-batch rows as the applyInPandasWithState kernel —
    the two state APIs are interchangeable for this operator.
    (transformWithState requires the RocksDB provider by design.)"""
    from pipeline311_spark.streaming.stateful import running_totals_stream_tws

    old = spark.conf.get(_PROVIDER_KEY, None)
    configure_state_store(spark, "rocksdb")
    try:
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [(1, 100), (1, 200), (2, 50)], "user_id long, cents long"
        ).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(
            [(1, 300)], "user_id long, cents long"
        ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema("user_id long, cents long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

        q = (
            running_totals_stream_tws(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        rows = {
            (r["user_id"], r["batch_id"]): (r["n_events"], r["total_cents"])
            for r in spark.read.parquet(out).collect()
        }
        batches = sorted({b for _, b in rows})
        assert len(batches) == 2
        b0, b1 = batches
        assert rows[(1, b0)] == (2, 300)
        assert rows[(1, b1)] == (3, 600)
        assert rows[(2, b0)] == (1, 50)
        assert (2, b1) not in rows
    finally:
        if old is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, old)


def test_event_time_timeout_evicts_state(spark, tmp_path, state_provider):
    """EventTimeTimeout: a key silent past its gap emits one final row
    from the timeout branch and its state is removed; active keys keep
    accumulating.  This is the eviction bound that makes custom state
    safe on an unbounded stream."""
    import datetime as dt

    from pipeline311_spark.streaming.stateful import expiring_totals_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, cents long, ts timestamp"
    # batch 1: both users active
    spark.createDataFrame(
        [(1, 100, base), (2, 50, base)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: only user 1, four hours later — watermark sweeps past
    # user 2's (last_seen + 30min) timeout
    spark.createDataFrame(
        [(1, 200, base + dt.timedelta(hours=4))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        expiring_totals_stream(stream, gap_ms=30 * 60 * 1000)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = [
        (r["user_id"], r["final"], r["n_events"], r["total_cents"])
        for r in spark.read.parquet(out).collect()
    ]
    # user 2 fired exactly one FINAL row with its frozen totals
    assert rows.count((2, True, 1, 50)) == 1
    # user 1 stayed active: progress rows only, never finalized
    assert (1, False, 2, 300) in rows
    assert not any(u == 1 and f for (u, f, _, _) in rows)


def test_late_batch_cannot_kill_query_or_regress_timeout(spark, tmp_path):
    """ADVICE r4: the timeout used to be set from only the current
    batch's max ts — a late-but-admitted batch where last_ms + gap <=
    watermark made setTimeoutTimestamp throw and killed the query, and
    out-of-order batches could pull an already-later timeout backward.
    The clamp (max(last+gap, wm+1)) plus last-seen-in-state must keep
    the query alive and still finalize silent keys."""
    import datetime as dt

    from pipeline311_spark.streaming.stateful import expiring_totals_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, cents long, ts timestamp"
    # batch 1: both users at base
    spark.createDataFrame([(1, 100, base), (2, 50, base)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 2: user 1 jumps 4h ahead — watermark sweeps far past base
    spark.createDataFrame(
        [(1, 200, base + dt.timedelta(hours=4))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3: user 1 again, barely ahead of the old data and far
    # BEHIND the current watermark + gap window (gap 5 min; the
    # pre-clamp code would compute a timeout below the watermark)
    spark.createDataFrame(
        [(1, 1, base + dt.timedelta(minutes=1))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        expiring_totals_stream(stream, gap_ms=5 * 60 * 1000)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.exception() is None  # the r4 code died here (IllegalArgumentException)
    rows = [
        (r["user_id"], r["final"], r["total_cents"])
        for r in spark.read.parquet(out).collect()
    ]
    # user 2 went silent and was finalized despite the hostile batch
    assert (2, True, 50) in rows


@pytest.mark.parametrize("n_files,per_trigger", [(5, 1), (5, 2), (1, 1)])
def test_final_state_independent_of_batch_boundaries(spark, tmp_path, n_files, per_trigger):
    """The module docstring's oracle-ability claim, tested directly:
    for the SAME event set under different micro-batch splits (5x1
    files, 5 files 2-per-trigger, one big batch), the final per-user
    state must equal a plain batch GROUP BY — integer-cents state makes
    cross-batch accumulation exact, so batch boundaries cannot show."""
    import random

    rng = random.Random(42)
    events = [(rng.randrange(4), rng.randrange(-500, 2000)) for _ in range(60)]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    for chunk in range(n_files):
        rows = events[chunk::n_files]
        spark.createDataFrame(rows, "user_id long, cents long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(src)
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        running_totals_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emitted row per user == final cumulative state
    got = {}
    for r in spark.read.parquet(out).collect():
        prev = got.get(r["user_id"])
        if prev is None or r["n_events"] > prev[0]:
            got[r["user_id"]] = (r["n_events"], r["total_cents"])
    want = {}
    for u, c in events:
        n, tot = want.get(u, (0, 0))
        want[u] = (n + 1, tot + c)
    assert got == want


# ---------------------------------------------------------------------------
# Recording-fake contract for the transformWithState processor (r6):
# the live equivalence test above skips without google.protobuf (Spark's
# state-server protocol), but everything WE own — the StatefulProcessor's
# state handling, accumulation, and emit contract — executes here against
# a recording fake of the handle/ValueState API.
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self, store: dict, key):
        self._store, self._key = store, key
        self.gets = 0
        self.updates = 0

    def get(self):
        self.gets += 1
        return self._store.get(self._key)

    def update(self, value):
        self.updates += 1
        self._store[self._key] = value


class _FakeHandle:
    """Per-key view of a persistent dict, recording getValueState calls
    the way StatefulProcessorHandle hands out named state variables."""

    def __init__(self, store: dict, key):
        self._store, self._key = store, key
        self.state_vars: list[tuple] = []
        self.value_states: list[_FakeValueState] = []

    def getValueState(self, name: str, schema) -> _FakeValueState:
        self.state_vars.append((name, schema))
        vs = _FakeValueState(self._store, (name, self._key))
        self.value_states.append(vs)
        return vs


def test_tws_processor_contract_with_recording_fake():
    """Drive RunningTotalsProcessor through the StatefulProcessor API
    with a fake handle: same batches as the live tests, asserting (a)
    cumulative per-key rows identical to the applyInPandasWithState
    kernel's contract, (b) state persists across micro-batches, and
    (c) exactly ONE state round trip per key per batch (the documented
    hot-path claim — exists()+get() would be two)."""
    import pandas as pd

    from pipeline311_spark.streaming.stateful import (
        STATE_SCHEMA,
        RunningTotalsProcessor,
    )

    store: dict = {}  # persists across micro-batches, like the state backend

    def run_batch(key_rows: dict):
        emitted = {}
        for key, pdfs in key_rows.items():
            proc = RunningTotalsProcessor()
            handle = _FakeHandle(store, key)
            proc.init(handle)
            assert handle.state_vars == [("totals", STATE_SCHEMA)]
            out = list(proc.handleInputRows((key,), iter(pdfs), None))
            proc.close()
            vs = handle.value_states[0]
            assert vs.gets == 1, "more than one state fetch per key per batch"
            assert vs.updates == 1
            assert len(out) == 1
            emitted[key] = (
                int(out[0]["n_events"][0]),
                int(out[0]["total_cents"][0]),
            )
        return emitted

    # batch 0: user 1 (two rows, split across two pandas chunks), user 2
    b0 = run_batch(
        {
            1: [pd.DataFrame({"cents": [100]}), pd.DataFrame({"cents": [200]})],
            2: [pd.DataFrame({"cents": [50]})],
        }
    )
    assert b0 == {1: (2, 300), 2: (1, 50)}
    # batch 1: only user 1 — state from batch 0 must carry
    b1 = run_batch({1: [pd.DataFrame({"cents": [300]})]})
    assert b1 == {1: (3, 600)}
    # untouched key's state survived
    assert store[("totals", 2)] == (1, 50)
