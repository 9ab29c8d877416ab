"""Generate PLANS.md: physical-plan statistics for every registry query.

For each query (built against sf0.001 so sink-type queries stay cheap):
number of non-reused Exchanges, join strategy counts, Python-eval
nodes, and flags (cartesian product / single partition).  The point is a reviewable, regenerable audit of
plan discipline: joins broadcast where expected, no accidental
cartesians, Python confined to the declared pandas operators.

Usage: python tools/gen_plan_report.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    from pipeline311_spark import plans

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan_report")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pipeline311_spark.plans import common

    rows = []
    for name, spec in sorted(plans.REGISTRY.items()):
        try:
            # capture the REAL pre-checkpoint plans of store-serving
            # queries (VERDICT r10 item 5): their returned frame is a
            # LogicalRDD after localCheckpoint, so explain() on it is
            # all-zero noise — plans/common.materialize records the
            # true serve plan while the tmp artifacts still exist
            common._PLAN_CAPTURE = []
            df = spec.fn(spark, sf_dir)
            captured = common._PLAN_CAPTURE
            common._PLAN_CAPTURE = None
            if captured:
                # the LAST capture is the returned frame's plan (a few
                # queries checkpoint intermediates first)
                p = captured[-1]
            else:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                p = buf.getvalue()
            # Count via the details-section headers "(N) NodeName": these
            # exist only for MAIN-plan nodes, so persisted intermediates'
            # stored plans (re-printed verbatim under every
            # InMemoryTableScan reference) don't inflate the counts —
            # the table reflects the EXECUTED plan.
            node = lambda pat: len(re.findall(rf"^\(\d+\) {pat}", p, re.M))
            stats = {
                "exchanges": node(r"Exchange\b"),
                "reused": node(r"ReusedExchange"),
                "cached": node(r"InMemoryTableScan"),
                "bhj": node(r"BroadcastHashJoin"),
                "smj": node(r"SortMergeJoin"),
                "bnlj": node(r"BroadcastNestedLoopJoin"),
                "py": node(
                    r"(?:ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
                    r"MapInPandas|FlatMapGroupsInPandasWithState)"
                ),
                "flags": " ".join(
                    f
                    for f, hit in (
                        ("CARTESIAN", "CartesianProduct" in p),
                        ("SINGLE_PART", "SinglePartition" in p),
                    )
                    if hit
                ),
            }
            rows.append((name, stats, None))
        except Exception as e:  # noqa: BLE001 — report, don't die
            common._PLAN_CAPTURE = None
            rows.append((name, None, f"{type(e).__name__}: {str(e).splitlines()[0][:100]}"))

    out = [
        "# PLANS — physical-plan audit of every registry query (generated)",
        "",
        f"Generated by `python tools/gen_plan_report.py {sf_dir}`. Counts come from",
        "the formatted explain's details-section headers, which exist only for",
        "MAIN-plan nodes — so the table reflects the EXECUTED plan: persisted",
        "intermediates' stored lineages (re-printed under every InMemoryTableScan",
        "reference) are excluded, and `cached` counts the InMemoryTableScan reads",
        "themselves. Store-serving queries (every `*_from_store` / `stream_*` /",
        "hybrid / index-maintenance entry) localCheckpoint before their tmp",
        "artifacts are cleaned up, which would leave only a LogicalRDD scan here —",
        "their rows instead show the REAL pre-checkpoint serve plan, captured by",
        "plans/common.materialize while the artifacts exist (VERDICT r10 item 5).",
        "`reused` counts ReusedExchange nodes (shared shuffles); `py`",
        "counts Arrow/pandas eval nodes — nonzero ONLY for the declared pandas",
        "operators. BNLJ appears only where a broadcast cross join against a tiny",
        "build side is the intended plan (centroid assignment, per-source fraction",
        "broadcast, query-set scoring). Flags: CARTESIAN should never appear;",
        "SINGLE_PART only on the documented allowlist",
        "(tests/test_connector_plans.py).",
        "",
        "Reading note: SMJ counts are the static pre-AQE choice; at runtime AQE",
        "converts them to broadcast when the built side measures small, and the",
        "remaining SMJs (fact⋈fact joins such as the full-outer and range joins)",
        "are exactly the joins that SHOULD sort-merge at scale.",
        "",
        "| query | exchanges | reused | cached | BHJ | SMJ | BNLJ | py | flags |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    errs = []
    for name, stats, err in rows:
        if err is not None:
            errs.append(f"| {name} | ERROR: {err} |")
            continue
        out.append(
            f"| {name} | {stats['exchanges']} | {stats['reused']} | {stats['cached']} | "
            f"{stats['bhj']} | {stats['smj']} | {stats['bnlj']} | {stats['py']} | "
            f"{stats['flags']} |"
        )
    if errs:
        out += ["", "## Errors", "", "| query | error |", "|---|---|", *errs]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries, {len(errs)} errors")
    spark.stop()


if __name__ == "__main__":
    main()
