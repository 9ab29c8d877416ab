"""Warehouse API + stateful streaming (applyInPandasWithState) tests."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline311_spark.api import Warehouse


def test_warehouse_sql_and_query(spark, sf_dir):
    wh = Warehouse(spark, sf_dir)
    assert wh.sql("SELECT count(*) AS n FROM lineitem").first()["n"] == 6000
    df = wh.query("q05_nation_revenue")
    assert df.count() > 0
    assert "q05_nation_revenue" in wh.queries()
    joined = wh.sql(
        "SELECT r_name, count(*) AS n FROM nation n "
        "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r_name"
    )
    assert joined.count() == 5


def test_apply_in_pandas_with_state_streaming(spark, tmp_path):
    """Custom stateful streaming operator: running per-user event count
    across micro-batches via applyInPandasWithState (SURVEY §2.8 /
    north-star 'custom stateful operators')."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "stream_in")
    os.makedirs(src)
    rows = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "user_id long, event_id long"
    )
    rows.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("user_id long, event_id long").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)

    out_schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("total", T.LongType())]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def count_events(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "total": [n]})

    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            count_events, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        .writeStream.format("memory")
        .queryName("state_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = {r["user_id"]: r["total"] for r in spark.table("state_counts").collect()}
    assert first == {1: 2, 2: 1}


def test_hostile_session_timezone_pinned(spark, sf_dir):
    """The driver harness owns the session passed to __spark_entry__ and
    may configure any timezone; every query path (batch via table(),
    streaming via _stream_events) must pin the conf itself so rendered
    wall times stay oracle-identical.  Sweep the timestamp-rendering
    queries under a session whose tz starts as America/New_York."""
    from pipeline311_spark.plans import REGISTRY

    sensitive = (
        "q_hourly_rollup",
        "p15_utc_relocalize",
        "stream_windowed_counts",
    )
    baseline = {
        n: sorted(map(tuple, REGISTRY[n].fn(spark, sf_dir).collect())) for n in sensitive
    }
    for n in sensitive:
        # fresh session per query: the first query's own conf pinning
        # must not mask a later query that forgot to pin
        hostile = spark.newSession()
        hostile.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = sorted(map(tuple, REGISTRY[n].fn(hostile, sf_dir).collect()))
        assert got == baseline[n], n
