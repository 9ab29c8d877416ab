"""Corpus snapshot diff (plans/curation4.py) — the diff-status
partitioning the oracle twin can't see."""

from __future__ import annotations

from pipeline311_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def test_version_diff_statuses_partition_the_union(spark):
    """Statuses follow the residue-class construction exactly: added =
    in-new-only, removed = in-old-only, changed = revised text, and the
    four classes partition the id union."""
    from pipeline311_spark.plans.curation4 import (
        _VD_ADD_MOD,
        _VD_ADD_RES,
        _VD_CHG_MOD,
        _VD_CHG_RES,
        _VD_REM_MOD,
        _VD_REM_RES,
    )

    rows = REGISTRY["corpus_version_diff"].fn(spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        i = r["doc_id"]
        assert i not in seen, "duplicate doc_id in diff"
        seen.add(i)
        in_old = i % _VD_ADD_MOD != _VD_ADD_RES
        in_new = i % _VD_REM_MOD != _VD_REM_RES
        assert in_old or in_new
        if not in_old:
            expect = "added"
        elif not in_new:
            expect = "removed"
        elif i % _VD_CHG_MOD == _VD_CHG_RES:
            expect = "changed"
        else:
            expect = "unchanged"
        assert r["status"] == expect, (i, r["status"], expect)
