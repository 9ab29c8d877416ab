"""Skewed fact⋈fact join probe (r6 punch #7): measure, at bench scale
on local[32], two ways to execute a join whose left side rides one
pathological hot key:

* ``aqe_skew``   — plain sort-merge join, AQE skew-join splitting ON
                   (the SCALE.md default claim).  The executed plan is
                   checked to actually contain ``skew=true``.
* ``no_aqe``     — the same join with skew splitting OFF: the
                   pathological baseline (one reducer drags the stage).

Both must return the same row count (they're the same join).
Prints one JSON line; paste the numbers into SCALE.md.

Usage: python tools/skew_probe.py [n_left_millions (default 20)]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    n_m = float(sys.argv[1]) if len(sys.argv) > 1 else 20.0
    n_left = int(n_m * 1_000_000)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew_probe")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # fact-fact: forbid broadcast so the SMJ shuffle is real
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # at 100 TB a hot partition is GBs against the 256 MB default
        # threshold; at probe scale the hot partition is ~100 MB of
        # compressed longs, so scale the trigger down proportionally —
        # same code path, representative ratio (hot ≈ 250x median)
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # left fact: 90% of rows on key 0, the rest unique-ish; right fact:
    # 100k rows across 1000 keys (100 matches per key) — join output
    # ~ n_left*0.9*100 for the hot key alone, so aggregate instead of
    # materializing
    left = spark.range(n_left).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(100_000).select(
        F.pmod("id", F.lit(1000)).alias("k"), (F.col("id") * 3).alias("rv")
    )

    def timed(fn):
        t0 = time.time()
        out = fn()
        return out, round(time.time() - t0, 3)

    results: dict[str, float] = {}
    counts: dict[str, int] = {}

    # JIT/codegen warmup so the first measured variant isn't penalized
    left.limit(100_000).join(right, "k").agg(F.count(F.lit(1))).collect()

    def run_plain(skew_on: bool, tag: str):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
        agg = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("payload") % 97).alias("s")
        )
        (row,), secs = timed(agg.collect)
        counts[tag] = row["n"]
        results[tag] = secs
        return agg

    agg = run_plain(True, "aqe_skew")
    plan = agg._jdf.queryExecution().executedPlan().toString()
    skew_fired = "skew=true" in plan
    run_plain(False, "no_aqe")
    assert len(set(counts.values())) == 1, f"row counts diverge: {counts}"
    print(
        json.dumps(
            {
                "n_left": n_left,
                "rows_joined": counts["aqe_skew"],
                "skew_split_fired": skew_fired,
                "secs": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
