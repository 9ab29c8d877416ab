"""Engine-vs-oracle parity on a HOSTILE documents corpus.

The driver's testdata contains no NULL / empty / whitespace-only
texts, so a tokenizer-convention divergence between the Spark plan and
its DuckDB twin (e.g. DuckDB's ``string_split('') = ['']`` vs the
engine's ``tokens('') = []``) stays latent under the normal gates.
This harness manufactures exactly that corpus and runs every
documents-only registry query on BOTH engines, comparing with the
driver's own canonicalization (imported from check_oracle).

Queries whose oracle references any other table are skipped (the
hostile dir ships documents/events/embeddings).  Scope: the TPC-H
relational tables follow the spec's NOT NULL key constraints — their
hostile counterparts are governed by the audit_referential_integrity
gate, not synthetic NULL keys (primary-key
NULLness is out of contract); the dirty-in-practice tables are the
three covered here.  Id columns (doc_id / vec_id / event_id) stay
non-NULL in the hostile fixtures for the same reason — an oracle
that used NOT IN over an id subquery would hit the classic NOT-IN
three-valued row wipe on NULL ids on the ORACLE side, not an engine
bug; the J3/J4 reconciliation oracles use NOT EXISTS.

Usage: python tools/check_hostile_docs.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tools.check_oracle import TABLES, audit_schema, canon as _canon, value_hash as _vh  # noqa: E402


def canon(v):
    """Driver canon PLUS int-valued-float unification: a NULL anywhere
    in an integer column makes pandas float64 the whole column on the
    oracle side ('5.0' vs '5') — a RENDERING artifact of the hostile
    NULLs, not a semantic divergence.  The driver-strict rendering is
    still enforced by check_oracle on the real (NULL-free) testdata."""
    if isinstance(v, float) and not (v != v) and v.is_integer():
        return str(int(v))
    return _canon(v)


def value_hash(rows, columns):
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()

HOSTILE_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, None, "en", "web", None),
    (1, "", "en", "web", 0),
    (2, "   ", "en", "web", 3),
    (3, "\t\n ", "de", "web", 3),
    (4, "the quick brown fox jumps over the lazy dog", "en", "web", 44),
    (5, "the quick brown fox jumps over the lazy dog", "en", "books", 44),
    (6, "one", "en", "books", 3),
    (7, "der die das und ist der die das", "de", "books", 31),
    (8, "a a a a a a a a", "en", "web", 15),
    (9, "  padded   whitespace   everywhere  ", "en", "books", 36),
    (10, "unicode café naïve résumé tokens", "fr", "web", 32),
    (11, "the and of to a the and of to a", "en", "books", 31),
    # trailing-newline SOURCE: Java-regex '$' matches before it, RE2
    # '$' does not — a pattern anchored with \z agrees on both
    (12, "plain text here", "en", "web\n", 15),
]


def _write_hostile_events(path: str) -> None:
    """Events with NULL ts / user / type / value / props, duplicates,
    and out-of-order arrival — naive micros encoding like the driver's."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def ts(mins):
        return None if mins is None else t0 + datetime.timedelta(minutes=mins)

    rows = [
        # event_id, ts, user_id, event_type, value, props
        (0, ts(0), 1, "click", 1.5, '{"k": 1}'),
        (1, ts(1), 1, "click", 2.5, None),
        (2, ts(90), 1, "view", None, '{"k": 2}'),
        (3, ts(2), 2, "click", 0.0, "not json"),
        (4, None, 2, "view", 3.0, '{"k": 3}'),
        (5, ts(3), None, "error", -1.0, '{"k": 4}'),
        (6, ts(200), 2, None, 4.0, "{}"),
        (7, ts(200), 2, "view", 4.0, "{}"),  # duplicate ts
        (8, ts(50), 3, "", 2.0, '{"k": 5}'),
        (9, ts(10080), 1, "click", 9.5, '{"k": 6}'),  # a week later
        (10, ts(-100), 3, "click", 1.0, '{"k": 7}'),  # before t0
    ]
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, path)


def _write_hostile_embeddings(path: str, dim: int = 64) -> None:
    """Embeddings with a zero vector, a NULL vector, NULL label, and
    constant/duplicate vectors — float32 lists like the driver's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def vec(seed):
        return [((seed * 31 + i * 7) % 97) / 97.0 - 0.5 for i in range(dim)]

    rows = [
        (0, vec(1), 0),
        (1, vec(2), 1),
        (2, [0.0] * dim, 0),  # zero vector (failed encode)
        (3, None, 1),  # NULL embedding
        (4, vec(1), None),  # duplicate of 0, NULL label
        (5, vec(5), 2),
        (6, [1.0] * dim, 2),  # constant vector
        (7, vec(7), 0),
    ]
    cols = list(zip(*rows))
    table = pa.table(
        {
            "vec_id": pa.array(cols[0], pa.int64()),
            "embedding": pa.array(cols[1], pa.list_(pa.float32())),
            "label": pa.array(cols[2], pa.int32()),
        }
    )
    pq.write_table(table, path)


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="hostile_docs_") as tmp:
        _check(tmp, set(sys.argv[1:]))


def _check(tmp: str, only: set[str]) -> None:
    """Write the hostile tables under ``tmp``, compare every
    documents-only query (or those in ``only``) on both engines, and
    exit 1 on any failure."""
    from pyspark.sql import SparkSession

    from pipeline311_spark import plans

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spark.createDataFrame(
        HOSTILE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    _write_hostile_events(os.path.join(tmp, "events.parquet"))
    _write_hostile_embeddings(os.path.join(tmp, "embeddings.parquet"))

    import threading
    from concurrent.futures import ThreadPoolExecutor

    # one duckdb connection (with the three hostile views) per worker
    # thread — duckdb connections are not shared across threads, and a
    # fresh in-process connection over the same parquet files is cheap
    _local = threading.local()

    def _con():
        if getattr(_local, "con", None) is None:
            c = duckdb.connect()
            c.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp}/documents.parquet/*.parquet')"
            )
            c.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp}/events.parquet')"
            )
            c.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{tmp}/embeddings.parquet')"
            )
            _local.con = c
        return _local.con

    other = [t for t in TABLES if t not in ("documents", "events", "embeddings")]

    def check_one(item):
        """-> ("ok"|"fail"|"skip", failure message or None).  The whole
        per-query body of the old sequential loop, verbatim semantics."""
        name, spec = item
        try:
            sdf = spec.fn(spark, tmp)
            if audit_schema(sdf):
                raise RuntimeError("canon-hazard columns")
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return "skip", None  # engine reads a table the hostile dir lacks
            return "fail", f"{name}: spark error: {msg[:200]}"
        try:
            odf = _con().execute(spec.oracle).fetchdf()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            return "fail", f"{name}: duckdb error: {str(e)[:200]}"
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append("column mismatch")
        if not problems and value_hash(srows, scols) != value_hash(orows, ocols):
            idx_s = sorted(range(len(scols)), key=lambda i: scols[i])
            idx_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            set_s = sorted("|".join(canon(r[i]) for i in idx_s) for r in srows)
            set_o = sorted("|".join(canon(r[i]) for i in idx_o) for r in orows)
            diff = next((f"spark={a[:120]} oracle={b[:120]}" for a, b in zip(set_s, set_o) if a != b), "")
            problems.append(f"value-hash mismatch {diff}")
        if problems:
            return "fail", f"{name}: " + "; ".join(problems)
        return "ok", None

    ok = fail = skip = 0
    failures = []
    todo = []
    for name, spec in sorted(plans.REGISTRY.items()):
        if only and name not in only:
            continue
        # table-name scan over the oracle with string literals stripped:
        # the BM25 queries carry the literal term 'customer' in their
        # VALUES list, which is a query string, not a table reference
        # (caught r8 — the whole BM25 family was silently skipped)
        oracle_no_literals = re.sub(r"'[^']*'", "''", spec.oracle)
        if any(re.search(rf"\b{t}\b", oracle_no_literals) for t in other):
            skip += 1
            continue
        todo.append((name, spec))
    # overlapped sweep (round 12, guide §2.6): queries are independent
    # (uuid tmp stores, uuid memory-sink names, fixed-value conf pins)
    workers = int(os.environ.get("SPARK_GRAFT_TEST_SWEEP_WORKERS", "8"))
    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        results = list(pool.map(check_one, todo))
    for status, msg in results:
        if status == "ok":
            ok += 1
        elif status == "skip":
            skip += 1
        else:
            fail += 1
            failures.append(msg)
    for f in failures:
        print("FAIL", f)
    print(f"{ok} ok, {fail} fail, {skip} skipped (non-documents tables)")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
