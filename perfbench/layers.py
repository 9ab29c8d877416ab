"""Per-layer metrics of a traced run.

Times come from the span tree (:mod:`perfbench.spans`); Spark-side
counters come from attributing each new job of the operation's job group
to the action span that launched it, and from there to the innermost
layer call that issued the action.  Every value is a mean per operation.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.spans import LAYERS

_JOB_KEYS = ("input_records", "input_bytes", "output_bytes", "shuffle_write_bytes")


class ActionSampler:
    """Runs at the end of every traced action: records the peak storage
    held by persisted / checkpointed blocks, and charges the jobs the
    action launched to the layer (and callable) that issued it."""

    def __init__(self, spark, tracer, stats):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.stats = stats
        self.peak_storage_mb = 0.0
        self.seen_jobs: set[int] = set()
        self.by_layer: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_JOB_KEYS, 0))
        self.by_callable: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_JOB_KEYS, 0))

    def sample(self, span) -> None:
        held = sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())
        self.peak_storage_mb = max(self.peak_storage_mb, held / 2**20)
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return
        new = [j for j in self.stats.tracker.getJobIdsForGroup(group) if j not in self.seen_jobs]
        if not new:
            return
        self.seen_jobs.update(new)
        counters = self.stats.job_counters(new)
        spans = self.tracer.spans
        owner = spans[span.parent] if span.parent is not None else None
        layer = owner.layer if owner is not None else "client"
        for k in _JOB_KEYS:
            self.by_layer[layer][k] += counters[k]
        # every enclosing callable, so e.g. the MERGE is visible under
        # operators.merge_backends.upsert_into whatever it calls inside
        p = span.parent
        while p is not None:
            for k in _JOB_KEYS:
                self.by_callable[spans[p].name][k] += counters[k]
            p = spans[p].parent


def _mean(ops, key) -> float:
    return sum(o.get(key, 0) for o in ops) / max(len(ops), 1)


def per_layer(tracer, since: int, ops: list[dict], sampler: ActionSampler, extras: dict) -> dict:
    n = max(len(ops), 1)
    lt = tracer.layer_times(since)
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS + ("client",):
        row = lt.get(layer, {})
        out[f"{layer}.construct_s"] = (row.get("construct_s", 0.0) / n, "s")
        out[f"{layer}.exec_s"] = (row.get("exec_s", 0.0) / n, "s")
    pc, pe = out["plans.construct_s"][0], out["plans.exec_s"][0]
    out["plans.construct_share"] = (pc / (pc + pe) if pc + pe else 0.0, "ratio")

    for k in ("jobs", "stages", "tasks"):
        out[f"session.{k}"] = (sum(o["spark"][k] for o in ops) / n, "count")
    out["session.shuffle_write_bytes"] = (sum(o["spark"]["shuffle_write_bytes"] for o in ops) / n, "bytes")
    out["sources.rows_read"] = (sum(o["spark"]["input_records"] for o in ops) / n, "rows")
    out["sources.bytes_read"] = (sum(o["spark"]["input_bytes"] for o in ops) / n, "bytes")
    out["sources.pages"] = (_mean(ops, "pages"), "count")
    out["functions.rows_cleaned"] = (_mean(ops, "rows_cleaned"), "rows")

    merge = sampler.by_callable.get("operators.merge_backends.upsert_into", {})
    merge_in = merge.get("input_records", 0) / n
    changed = _mean(ops, "merge_rows_changed")
    out["operators.merge_rows_in"] = (merge_in, "rows")
    out["operators.merge_rows_changed"] = (changed, "rows")
    out["operators.merge_useful_ratio"] = (changed / merge_in if merge_in else 0.0, "ratio")
    out["operators.partitions_rewritten"] = (_mean(ops, "partitions_rewritten"), "count")
    out["operators.rows_deleted"] = (_mean(ops, "rows_deleted"), "rows")

    sinks = sampler.by_layer.get("sinks", {})
    out["sinks.bytes_written"] = ((sinks.get("output_bytes", 0) + sum(o.get("sent_bytes", 0) for o in ops)) / n, "bytes")
    out["sinks.files_written"] = (_mean(ops, "files_written"), "count")
    out["sinks.batches_sent"] = (_mean(ops, "sent_batches"), "count")
    out["sinks.send_retries"] = (_mean(ops, "send_retries"), "count")
    out["pipelines.driver_actions"] = (tracer.actions_under("pipelines", since) / n, "count")

    builds = [o for o in ops if o["kind"] == "build"]
    serves = [o for o in ops if o["kind"] == "serve"]
    out["ext.build_s"] = (sum(o["s"] for o in builds) / max(len(builds), 1), "s")
    out["ext.serve_s"] = (sum(o["s"] for o in serves) / max(len(serves), 1), "s")
    out["ext.artifact_bytes"] = (_mean(builds, "artifact_bytes") if builds else 0.0, "bytes")
    out["ext.cache.persisted_mb"] = (sampler.peak_storage_mb, "MB")
    cand = extras.get("candidate_pairs", 0)
    verified = extras.get("verified_pairs", 0)
    out["ext.dedup.candidate_pairs"] = (cand, "count")
    out["ext.dedup.verified_pairs"] = (verified, "count")
    out["ext.dedup.precision"] = (verified / cand if cand else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
