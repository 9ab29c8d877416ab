"""Unit tests for relational/pipeline operators: validation, joins,
merge/upsert semantics (incl. F3 vs F4 boundary), reconciliation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pipeline311_spark.operators.filters import time_range, watermark_filter
from pipeline311_spark.operators.joins import anti_join, exists_probe, semi_join
from pipeline311_spark.operators.merge import (
    latest_per_key,
    merge_with_surrogate,
    upsert,
)
from pipeline311_spark.operators.reconcile import reconcile_deletes
from pipeline311_spark.sources.validate import (
    SchemaMismatch,
    assert_single_row_per_key,
    dup_guard,
    validate_columns,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [
            (1, "old", ts("2024-01-01T00:00:00")),
            (2, "old", ts("2024-01-02T00:00:00")),
            (3, "old", ts("2024-01-03T00:00:00")),
        ],
        "pk long, val string, updated_datetime timestamp",
    )


@pytest.fixture()
def updates(spark):
    return spark.createDataFrame(
        [
            (2, "new", ts("2024-01-05T00:00:00")),  # update
            (4, "new", ts("2024-01-04T00:00:00")),  # insert
            (3, "tie", ts("2024-01-03T00:00:00")),  # exact version tie -> update wins
        ],
        "pk long, val string, updated_datetime timestamp",
    )


def test_upsert_matched_unmatched_and_tie(target, updates):
    out = {r["pk"]: r["val"] for r in upsert(target, updates, "pk", "updated_datetime").collect()}
    assert out == {1: "old", 2: "new", 3: "tie", 4: "new"}


def test_upsert_idempotent(target, updates):
    once = upsert(target, updates, "pk", "updated_datetime")
    twice = upsert(once, updates, "pk", "updated_datetime")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_watermark_strict_vs_inclusive(target):
    w = ts("2024-01-02T00:00:00")
    strict = watermark_filter(target, "updated_datetime", w, inclusive=False)
    incl = watermark_filter(target, "updated_datetime", w, inclusive=True)
    assert strict.count() == 1  # only pk=3
    assert incl.count() == 2  # boundary row replayed


def test_merge_with_surrogate_ids(spark, updates):
    target = spark.createDataFrame(
        [
            (10, 1, "old", ts("2024-01-01T00:00:00")),
            (11, 2, "old", ts("2024-01-02T00:00:00")),
            (12, 3, "old", ts("2024-01-03T00:00:00")),
        ],
        "objectid long, pk long, val string, updated_datetime timestamp",
    )
    out = merge_with_surrogate(target, updates, "pk", "updated_datetime")
    rows = {r["pk"]: r["objectid"] for r in out.collect()}
    assert rows[1] == 10 and rows[2] == 11 and rows[3] == 12  # kept ids
    assert rows[4] == 13  # new id above previous max


def test_time_range_half_open(spark, target):
    out = time_range(target, "updated_datetime", "2024-01-01", "2024-01-03")
    assert {r["pk"] for r in out.collect()} == {1, 2}


def test_semi_anti_exists(spark, target, updates):
    assert {r["pk"] for r in semi_join(target, updates, "pk").collect()} == {2, 3}
    assert {r["pk"] for r in anti_join(target, updates, "pk").collect()} == {1}
    marked = {r["pk"]: r["exists"] for r in exists_probe(updates, target, "pk").collect()}
    assert marked == {2: True, 3: True, 4: False}


def test_latest_per_key_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 100, ts("2024-01-01T00:00:00")), (1, 101, ts("2024-01-01T00:00:00"))],
        "pk long, seq long, updated_datetime timestamp",
    )
    [row] = latest_per_key(df, "pk", "updated_datetime", tiebreak="seq").collect()
    assert row["seq"] == 101


def test_reconcile_deletes(spark):
    raw = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "pk long, val string")
    viewer = raw
    tombstones = spark.createDataFrame([(9, "z"), (2, "stale")], "pk long, val string")
    source = spark.createDataFrame([(1,), (3,)], "pk long")
    state = reconcile_deletes(raw, viewer, tombstones, source, "pk")
    assert {r["pk"] for r in state["deleted"].collect()} == {2}
    assert {r["pk"] for r in state["raw"].collect()} == {1, 3}
    assert {r["pk"] for r in state["viewer"].collect()} == {1, 3}
    # prior tombstone for pk=2 replaced by freshly archived row; pk=9 kept
    trows = [(r["pk"], r["val"]) for r in state["tombstones"].collect()]
    assert sorted(trows) == [(2, "b"), (9, "z")]


def test_validate_and_guards(spark):
    df = spark.createDataFrame([(1, "x"), (1, "y")], "pk long, val string")
    validate_columns(df, ["pk", "val"])
    with pytest.raises(SchemaMismatch):
        validate_columns(df, ["pk"])
    with pytest.raises(SchemaMismatch):
        validate_columns(df, ["pk", "val", "missing"])
    with pytest.raises(AssertionError):
        dup_guard(df, "pk")
    with pytest.raises(AssertionError):
        assert_single_row_per_key(df, "pk")
    dup_guard(df.limit(1), "pk")


def test_observed_telemetry_counts_rows(spark, sf_dir):
    from pyspark.sql import functions as F

    from pipeline311_spark.operators.telemetry import observed
    from pipeline311_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    out, obs = observed(
        d.filter(F.col("n_chars") > 0), extra={"total_chars": F.sum("n_chars")}
    )
    n = out.count()
    got = obs.get
    assert got["n_rows"] == n > 0
    assert got["total_chars"] == d.agg(F.sum("n_chars")).first()[0]


def test_merge_with_surrogate_ids_partitioning_invariant(spark):
    # The two-phase assignment (range partition -> per-partition
    # row_number + broadcast offsets) must produce the SAME dense,
    # key-ordered ids regardless of how the insert batch arrives
    # partitioned — the determinism the replaced global window gave,
    # without its single-task funnel.
    target = spark.createDataFrame(
        [(100, 0, "old", ts("2024-01-01T00:00:00"))],
        "objectid long, pk long, val string, updated_datetime timestamp",
    )
    ups_rows = [(pk, "new", ts("2024-02-01T00:00:00")) for pk in range(1, 41)]
    base = spark.createDataFrame(ups_rows, "pk long, val string, updated_datetime timestamp")
    outs = []
    for ups in (base.repartition(1), base.repartition(7, "val"), base.repartition(16, "pk")):
        out = merge_with_surrogate(target, ups, "pk", "updated_datetime")
        outs.append({r["pk"]: r["objectid"] for r in out.collect()})
    assert outs[0] == outs[1] == outs[2]
    new_ids = [outs[0][pk] for pk in range(1, 41)]
    assert new_ids == list(range(101, 141))  # dense, key-ordered, above max
