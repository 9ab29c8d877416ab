"""Scaling probe: run representative operators at sf0.001 / 0.01 / 0.1
(10x data per step) in ONE session and report per-step wall time and
the step-to-step scaling ratio.

A ratio well under 10x across a 10x data step means the operator is
still overhead-bound at that scale (fixed stage/wave cost dominates);
a ratio near 10x means it has reached its data-proportional regime.
Anything consistently ABOVE 10x would indicate super-linear behavior
(quadratic candidate blowup, skew) — the thing the `max_df` /
`max_bucket` caps and bucketed candidate generation exist to prevent.

Usage: python tools/scale_probe.py [query ...]
Prints one JSON line per query: {"query", "secs": {sf: s}, "ratios"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

DEFAULT = [
    "q01_pricing_summary",
    "q05_nation_revenue",
    "q18_large_orders",
    "dedup_exact_groups",
    "text_lang_id",
    "k3_upsert_merge",
    "q_sessionize",
]


def main() -> None:
    from pyspark.sql import SparkSession

    from pipeline311_spark import plans

    names = sys.argv[1:] or DEFAULT
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("pipeline311_scale_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen so sf0.001 numbers aren't all JIT
    for w in ("q05_nation_revenue", "dedup_exact_groups"):
        plans.REGISTRY[w].fn(spark, SFS[0]).count()

    for name in names:
        spec = plans.REGISTRY.get(name)
        if spec is None:
            print(json.dumps({"query": name, "err": "not in REGISTRY"}))
            continue
        secs: dict[str, float] = {}
        for sf_dir in SFS:
            sf = os.path.basename(sf_dir).replace("sf", "")
            best = float("inf")
            try:
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.time()
                    spec.fn(spark, sf_dir).count()
                    best = min(best, time.time() - t0)
                secs[sf] = round(best, 3)
            except Exception as e:
                secs[sf] = None
                print(f"{name}@{sf}: {e!r}", file=sys.stderr)
        ks = list(secs)
        ratios = {
            f"{ks[i]}->{ks[i+1]}": round(secs[ks[i + 1]] / secs[ks[i]], 2)
            for i in range(len(ks) - 1)
            if secs.get(ks[i]) and secs.get(ks[i + 1])
        }
        print(json.dumps({"query": name, "secs": secs, "ratios": ratios}))
    spark.stop()


if __name__ == "__main__":
    main()
