"""Custom stateful streaming operator (``applyInPandasWithState``).

The reference's incremental loop keeps one scalar of implicit state (the
destination watermark, SURVEY §1.4/T1).  This module is the general
form: arbitrary per-key state carried across micro-batches by the state
store, with the update logic in an Arrow-batched pandas function.

Determinism note: the running total is kept in integer cents (the
caller pre-rounds ``value*100`` to a long), so cross-batch accumulation
is exact integer arithmetic — the final state is independent of batch
boundaries and matches a plain GROUP BY on the full input, which is
what makes the operator oracle-checkable.

At scale: state lives in the executor state store partitioned by the
grouping key (RocksDB-backed on a real cluster); each micro-batch
shuffles only that batch's rows.  Nothing accumulates on the driver.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_cents long"
STATE_SCHEMA = "n long, cents long"


def _update_running_totals(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


def running_totals_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, total-cents) over a stream of
    ``(user_id long, cents long)`` rows; every batch emits the updated
    cumulative state for the users present in that batch."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EXPIRING_OUTPUT_SCHEMA = "user_id long, n_events long, total_cents long, final boolean"
# last-seen event time rides in state so out-of-order batches can never
# move the timeout backward (ADVICE r4)
EXPIRING_STATE_SCHEMA = "n long, cents long, last long"


def expiring_totals_stream(events_stream: DataFrame, gap_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Per-user totals with EVENT-TIME state eviction — the property
    that keeps custom state viable on an unbounded stream: a key whose
    watermark-relative session gap has passed emits one FINAL row and
    its state is REMOVED from the store (state bounded by active keys,
    not stream history).  Input: ``(user_id long, cents long,
    ts timestamp)`` with a watermark already set on ``ts``.

    Progress rows (``final=false``) stream per batch; the terminal
    ``final=true`` row fires from the timeout branch when the watermark
    passes last-seen + gap — the applyInPandasWithState analogue of
    session_window eviction (tests/test_stateful_streaming.py).

    Timeout hardening (ADVICE r4): ``setTimeoutTimestamp`` throws (and
    kills the query) if handed a value <= the current watermark, which
    a late-but-within-watermark batch can produce whenever
    ``gap_ms`` < the watermark delay.  The timeout is therefore clamped
    to ``max(last_seen + gap, watermark + 1)``, and ``last_seen`` is
    carried IN STATE so an out-of-order batch can never regress an
    already-later timeout.

    Checkpoint migration: the state schema grew from 2 to 3 fields when
    ``last`` moved into state.  Spark pins the state schema in the
    checkpoint's metadata and REFUSES to start a restarted query whose
    schema differs (StateSchemaNotCompatible — loud, at start, before
    any batch).  There is no in-place state migration for
    ``applyInPandasWithState``; upgrade by draining the old query, then
    starting the new version against a FRESH checkpoint dir with the
    source replayed from an earlier offset — the downstream MERGE sink
    is idempotent (SURVEY §7.5.5), so the replay is absorbed."""

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, cents, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents], "final": [True]}
            )
            return
        n, cents, last_ms = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
            last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((n, cents, last_ms))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ms + gap_ms, wm + 1))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents], "final": [False]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EXPIRING_OUTPUT_SCHEMA,
        stateStructType=EXPIRING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# State-store provider (punch r5 #6)
# ---------------------------------------------------------------------------

HDFS_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)


class RunningTotalsProcessor(StatefulProcessor):
    """StatefulProcessor for the Spark-4 ``transformWithState`` API —
    the same per-key running (count, cents) contract as
    :func:`running_totals_stream`, on the NEW arbitrary-state surface
    (named ValueState handles, timer registry, TTL support) that
    supersedes ``applyInPandasWithState`` for new code.

    Why keep both: transformWithState REQUIRES the RocksDB state-store
    provider (Spark refuses HDFS-backed state for it), so the
    applyInPandasWithState form remains the portable default; this
    form is the forward path and the two are asserted equivalent in
    tests/test_stateful_streaming.py.  A module-level class: the
    processor is pickled to the state-server worker, so it must be
    importable by reference."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timer_values):
        # ONE state-server round trip: ValueState.get() returns None
        # when absent (unlike GroupState.get, which raises) — the
        # exists()-then-get() idiom would pay two protobuf hops per
        # key per micro-batch on the hot path
        prev = self._totals.get()
        n, cents = prev if prev is not None else (0, 0)
        for pdf in rows:
            n += len(pdf)
            cents += int(pdf["cents"].sum())
        self._totals.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

    def close(self) -> None:
        pass


def running_totals_stream_tws(events_stream: DataFrame) -> DataFrame:
    """:func:`running_totals_stream` on ``transformWithStateInPandas``.
    The session must have the RocksDB state-store provider configured
    (:func:`configure_state_store` — the API rejects the HDFS-backed
    provider by design).

    Runtime dependency note: the transformWithState state protocol
    speaks protobuf between the Python worker and the state server —
    ``google.protobuf`` must be installed or the query fails at start
    with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE (this container
    ships without it; the equivalence test is skipped-if-absent)."""
    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def configure_state_store(spark, provider: str = "rocksdb"):
    """Select the streaming state-store provider for queries started on
    this session.  The HDFS-backed default keeps every key's state in
    executor HEAP — memory-bound at 100 TB key cardinality; RocksDB
    (shipped with Spark 4, no extra jars) spills to local disk and is
    the production choice for large keyspaces.  Must be set BEFORE the
    query starts (the provider is frozen into the checkpoint's
    offset log for the query's lifetime)."""
    cls = {"rocksdb": ROCKSDB_STATE_STORE, "hdfs": HDFS_STATE_STORE}[provider]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
    return spark
