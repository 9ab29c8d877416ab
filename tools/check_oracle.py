"""Local replica of the driver's correctness gate — driver-strict edition.

Round-1 lesson (VERDICT.md): the driver canonicalizes through pandas.
Two consequences the old local canon masked:

  1. DuckDB SUM(BIGINT) returns HUGEINT, which pandas downcasts to
     float64 — so an uncast integer SUM renders "6.0" on the oracle
     side vs "6" from Spark.  The old canon unified 3.0→3 and hid it
     (confirmed driver red: s9_csv_roundtrip).
  2. pandas' hash-based canonicalization crashes on unhashable cells
     (lists/dicts), so any query returning array/struct/map columns
     errors out in the driver even when registered oracle-less
     (confirmed driver err on a multimodal query returning arrays).

This gate therefore:
  - fetches the oracle via ``fetchdf()`` (pandas), exactly like the
    driver, and canonicalizes values WITHOUT the float→int unify;
  - audits every query's Spark output schema and FAILS on
    array/map/struct/binary (unhashable or engine-variant rendering),
    decimal (Decimal('6.00') vs float 6.0) and date (date vs
    Timestamp midnight) columns — render them to string/double/long
    in the plan instead.

Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import time
import traceback
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Spark output types that are safe under a pandas-based canonicalizer.
_SAFE_TYPE_PREFIXES = (
    "string",
    "bigint",
    "int",
    "smallint",
    "tinyint",
    "double",
    "float",
    "boolean",
    "timestamp",
)


def audit_schema(sdf):
    """Return a list of (column, dtype) pairs that would break or
    destabilize the driver's pandas canonicalizer."""
    bad = []
    for name, dtype in sdf.dtypes:
        if not dtype.startswith(_SAFE_TYPE_PREFIXES) or dtype.startswith(
            ("array", "map", "struct", "binary", "decimal", "date")
        ):
            bad.append((name, dtype))
    return bad


def canon(v):
    """Driver-strict value rendering: no float→int unification."""
    if v is None:
        return "∅"
    if isinstance(v, (list, dict, set, np.ndarray)):
        return "<UNHASHABLE:" + type(v).__name__ + ">"
    if isinstance(v, (bool, np.bool_)):
        return "1" if v else "0"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, Decimal):
        return "DEC:" + str(v)  # distinct on purpose: decimals must not reach output
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime())
    if isinstance(v, datetime.datetime):
        return str(v)
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = set(args)

    from pyspark.sql import SparkSession
    from pipeline311_spark import plans

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    ok = fail = 0
    for name, spec in plans.REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            hazards = audit_schema(sdf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            fail += 1
            continue
        if hazards:
            print(f"FAIL {name}: canon-hazard output columns {hazards}")
            fail += 1
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                idx_s = sorted(range(len(scols)), key=lambda i: scols[i])
                idx_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                set_s = sorted("|".join(canon(r[i]) for i in idx_s) for r in srows)
                set_o = sorted("|".join(canon(r[i]) for i in idx_o) for r in orows)
                for a, b in zip(set_s, set_o):
                    if a != b:
                        problems.append(f"  first diff:\n  spark : {a[:300]}\n  oracle: {b[:300]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
            fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail")
    spark.stop()
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
