"""Contract tests for __spark_entry__ and the query registry."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = load_entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert "revenue" in df.columns


def test_registry_contract(spark):
    mod = load_entry()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 40
    # one oracle per query, keyed alike
    assert set(oracles) == set(qs), set(qs) ^ set(oracles)


@pytest.mark.parametrize("name", ["q01_pricing_summary", "k3_upsert_merge", "dedup_exact_groups"])
def test_sample_queries_run(spark, sf_dir, name):
    mod = load_entry()
    df = mod.queries()[name](spark, sf_dir)
    assert df.count() > 0


def test_driver_sample_spans_every_covers_tag():
    """The driver oracle-checks only the FIRST 50 queries() entries per
    round; this guard pins that those 50 span every SURVEY §2 covers
    tag in the whole registry, so a red can never hide in the
    unsampled remainder for a round."""
    from pipeline311_spark.plans.registry import DRIVER_SAMPLE, REGISTRY, driver_sample_order

    order = driver_sample_order()
    assert sorted(order) == sorted(REGISTRY), "ordering must be a permutation"
    head = order[:DRIVER_SAMPLE]
    head_tags, all_tags = set(), set()
    for n, spec in REGISTRY.items():
        all_tags.update(spec.covers)
        if n in set(head):
            head_tags.update(spec.covers)
    assert head_tags == all_tags, f"driver sample misses tags: {sorted(all_tags - head_tags)}"
    # and queries()/oracle_sql() actually USE this order (the driver
    # reads dict order)
    from pipeline311_spark import plans

    assert list(plans.queries()) == order
    # every registered query must be HASH-checkable
    unoracled = [n for n, spec in REGISTRY.items() if not spec.oracle]
    assert unoracled == [], f"queries without an oracle: {unoracled}"
    assert "sim_ann_cells_train_step" in head
