"""The generators are pure functions of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import gen


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


GENERATORS = {
    "tpch": gen.gen_tpch,
    "cases": lambda seed, out: gen.gen_cases(seed, out, 2),
    "corpus": gen.gen_corpus,
}


# fixed tables, and the etl_sync initial load (built once per checkout)
SEED_FREE = ("region.parquet", "nation.parquet", "initial.parquet")


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    make = GENERATORS[name]
    a, b, c = (str(tmp_path / d) for d in ("a", "b", "c"))
    make(7, a)
    make(7, b)
    make(8, c)
    da, db, dc = _tree_digest(a), _tree_digest(b), _tree_digest(c)
    assert da and da == db
    assert da.keys() == dc.keys()
    assert all(da[f] != dc[f] for f in da if f not in SEED_FREE)
