from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pipeline311_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def private_tempdir(tmp_path_factory):
    """Point the ``tempfile`` default at a fresh directory for the
    session, so the store queries' scratch dirs
    (``plans/common.scratch_dir`` reads ``tempfile.gettempdir()`` per
    call) land where no other process writes, and the leak checks that
    glob it see only this suite's dirs.  pytest's own ``tmp_path`` root
    is fixed first, under the system temp dir as usual."""
    import shutil
    import tempfile

    tmp_path_factory.getbasetemp()
    prior = tempfile.tempdir
    path = tempfile.mkdtemp(prefix="graft_tests_")
    tempfile.tempdir = path
    try:
        yield path
    finally:
        tempfile.tempdir = prior
        shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def fresh_bm25(spark, tmp_path_factory):
    """Build a fresh one-batch BM25 index log over a frame and return
    its fold — the reference every maintained (multi-batch, deleted,
    compacted) index must equal artifact by artifact."""
    from pipeline311_spark.ext.retrieval import bm25_index_append_batch, load_bm25_index

    def build(df):
        out = str(tmp_path_factory.mktemp("fresh_bm25"))
        bm25_index_append_batch(df, 0, out)
        return load_bm25_index(spark, out)

    return build


def sweep_map(fn, items, workers: int | None = None):
    """Map ``fn`` over ``items`` from a small driver thread pool and
    return results in item order (round 12, guide §2.6: Spark actions
    are sequential only because driver code calls them sequentially).

    Exists for the registry-WIDE sweep tests, which each iterate all
    ~190 queries and dominated the suite wall (plan audit 260 s, canon
    audit 193 s, empty-tables audit 165 s, hostile parity 212 s on a
    quiet machine — 55% of the whole suite).  Concurrent construction
    is safe for registry queries: every tmp store is uuid-named, every
    memory-sink queryName is uuid-unique, and the only runtime confs
    query paths set are fixed idempotent values (prep_session pins the
    same conf every call).

    ``fn`` should CATCH per-item failures and return them as data when
    the test wants the full failure list (the sweeps' reporting
    contract); an exception escaping ``fn`` propagates after all
    submitted items finish, same visibility as the sequential loop."""
    from concurrent.futures import ThreadPoolExecutor

    items = list(items)
    n = workers or int(os.environ.get("SPARK_GRAFT_TEST_SWEEP_WORKERS", "8"))
    if len(items) <= 1 or n <= 1:
        return [fn(it) for it in items]
    with ThreadPoolExecutor(max_workers=min(n, len(items))) as pool:
        return list(pool.map(fn, items))


@pytest.fixture(scope="session")
def registry_frames(spark, sf_dir):
    """Every registry query constructed ONCE, shared by the sweep
    audits that only inspect the returned frame (plan shape, output
    dtypes) — previously each audit re-ran the full construction pass,
    and for store/lifecycle queries construction executes the index
    builds, so each pass cost minutes.  Construction is overlapped via
    :func:`sweep_map`; failures carry the query name."""
    from pipeline311_spark.plans import REGISTRY

    def build(name):
        try:
            return name, REGISTRY[name].fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — name the failing query
            raise RuntimeError(f"constructing {name}: {e}") from e

    return dict(sweep_map(build, sorted(REGISTRY)))
