"""Sink operators under the oracle gate.

K5/K6 (batched adds/deletes with retry, reference
``sync-db2-ago.py:249-380``) were pytest-only in round 1 (VERDICT
"What's missing" #3).  Here the whole writer envelope — per-partition
batching, bounded retry with backoff, executor-side sends — is put on
the driver's correctness gate: rows are pushed through
``batched_foreach_writer`` into a file-backed collecting sink where
EVERY batch deliberately fails its first attempt (so the retry ladder
is exercised for real, not just plumbed), then read back and compared
row-for-row against the DuckDB oracle reading the source table.

The collecting sink is a shared directory — valid in local mode and on
any cluster with a shared filesystem; a real deployment would point
``send`` at the REST/JDBC endpoint instead (same envelope).

K3-at-scale companion: see :mod:`pipeline311_spark.operators.merge`
(``merge_incremental_partitioned``) for the partition-pruned MERGE.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F

from pipeline311_spark.plans.common import materialize, scratch_dir, table
from pipeline311_spark.plans.registry import register
from pipeline311_spark.sinks.writers import batched_foreach_writer

_K5_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("k5_batched_writer_roundtrip", _K5_SQL, covers=("K5", "K6", "T3", "T4"))
def q_batched_writer_roundtrip(spark, sf_dir):
    from pyspark.sql import types as T

    n = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .repartition(4)  # several partitions -> several writer instances
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    with scratch_dir("k5") as out:
        os.makedirs(out)

        def send(rows):
            # Executor-side sink: first attempt of every batch fails (marker
            # file tracks attempts), so each flush exercises retry+backoff.
            import json

            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            payload = sorted((r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in rows)
            seq = min(k for k, _, _ in payload)  # stable batch id: same rows -> same id
            marker = os.path.join(out, f".try_{pid}_{seq}")
            if not os.path.exists(marker):
                with open(marker, "w"):
                    pass
                raise RuntimeError("transient sink error (deliberate first-attempt failure)")
            with open(os.path.join(out, f"batch_{pid}_{seq}.jsonl"), "w") as f:
                for key, name, region in payload:
                    row = {"n_nationkey": key, "n_name": name, "n_regionkey": region}
                    f.write(json.dumps(row) + "\n")

        batched_foreach_writer(n, send, batch_size=3, max_tries=3, backoff_s=0.01)

        import glob

        if not glob.glob(os.path.join(out, "batch_*.jsonl")):
            # empty increment -> no batches flushed; the roundtrip result is
            # an empty table with the declared schema, not a read error
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).json(os.path.join(out, "batch_*.jsonl")).select(
            "n_nationkey", "n_name", F.col("n_regionkey")
        ).transform(materialize)  # materialize before the cleanup


# ---------------------------------------------------------------------------
# T5 + T6 under the oracle gate: `df.observe` progress telemetry
# (reference's print-every-50k counter, sync-db2.py:64-67) plus the
# throttled batched writer (politeness pause,
# delete-removed-tickets.py:146-147).  The observation is driven by a
# SQL action on the observed plan — in production that action IS the
# sink write (df.write fires observations; `foreachPartition` is an
# RDD action and does not, which is why the writer pass here is
# separate).  The returned row exposes the observed metrics next to an
# independent recount of what actually landed in the throttled sink —
# the oracle recomputes both from the source table, so a telemetry
# undercount or a throttle-path row drop both hash-mismatch.
# ---------------------------------------------------------------------------

_T5_T6_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_observed,
       CAST(SUM(n_regionkey) AS BIGINT) AS total_region_observed,
       CAST(COUNT(*) AS BIGINT) AS n_rows_landed
FROM nation
"""


@register("t5_t6_observe_throttled_sink", _T5_T6_SQL, covers=("T5", "T6", "K5", "T3"))
def q_observe_throttled(spark, sf_dir):
    import json

    from pipeline311_spark.operators.telemetry import observed

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").repartition(2)
    n, obs = observed(
        n, f"t5_progress_{uuid.uuid4().hex[:8]}", extra={"total_region": F.sum("n_regionkey")}
    )
    n.count()  # SQL action: streams rows through the observe node once
    with scratch_dir("t5t6") as out:
        os.makedirs(out)

        def send(rows):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            payload = sorted((r["n_nationkey"], r["n_regionkey"]) for r in rows)
            with open(os.path.join(out, f"batch_{pid}_{payload[0][0]}.jsonl"), "w") as f:
                for key, region in payload:
                    f.write(json.dumps({"k": key, "r": region}) + "\n")

        # throttle_s > 0: every successful flush takes the politeness pause
        # (T6) — per executor slot; cap partitions to bound the global rate.
        batched_foreach_writer(n, send, batch_size=10, throttle_s=0.02)

        import glob

        m = obs.get  # populated by the writer's action
        landed = (
            spark.read.json(os.path.join(out, "batch_*.jsonl")).count()
            if glob.glob(os.path.join(out, "batch_*.jsonl"))
            else 0  # empty increment: nothing flushed
        )
        return spark.createDataFrame(
            [(int(m["n_rows"]), int(m["total_region"] or 0), int(landed))],
            "n_rows_observed long, total_region_observed long, n_rows_landed long",
        )
