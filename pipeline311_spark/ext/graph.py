"""Connected components over a pair/edge table — the dup-cluster
builder that turns pairwise near-dup hits (MinHash/Jaccard
pairs) into groups with a canonical keeper per group.

Algorithm: iterative min-label propagation (a.k.a. hash-to-min).
Each round every node takes the min label among itself and its
neighbors; converges in O(component diameter) rounds.  Fully
shuffle-based (join + groupBy per round), lineage cut per round with
``localCheckpoint`` so plans don't grow unboundedly — the standard
Spark pattern for fixpoint algorithms (same shape as GraphX/GraphFrames
CC without the dependency).

At 100 TB: rounds are bounded by the diameter of dup clusters, which
for dedup workloads is tiny (near-dup clusters are dense); each round
is one join + one aggregate on the edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline311_spark.ext.cache import (
    local_checkpoint_tracked,
    persist_tracked,
    release_local_checkpoint,
)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    Only nodes appearing in ``edges`` are labeled (isolated nodes have
    no dup relation to resolve).

    Checkpoint lifecycle (r5): each round's ``localCheckpoint`` is
    RELEASED as soon as the next round has been materialized and the
    convergence check has read it — without this every round pins a
    corpus-of-labels RDD in the block manager for the context lifetime
    (``clearCache()`` cannot reach checkpoint storage), which at 100 TB
    label cardinality is an executor-storage leak proportional to
    iteration count.  Only the FINAL round's checkpoint survives — the
    returned DataFrame reads it; reclaim it by running the call inside
    :func:`pipeline311_spark.ext.cache.cache_scope` (consume the labels
    inside the scope — a released checkpoint has no lineage to
    recompute) or via
    :func:`pipeline311_spark.ext.cache.release_local_checkpoint`.
    """
    if max_iter < 1:
        # 0 rounds would return the seeded labels unverified — the
        # fail-loud contract below could never fire
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    from pyspark.sql import Observation

    def _ck_observed(df: DataFrame):
        """Checkpoint a label frame with its EXACT label sum riding the
        materialization job (round 11, guide §1.2): min-label
        propagation only ever LOWERS a node's label (the new label is
        the min of a set containing the old one), so round r changed
        some label iff sum(labels) strictly decreased — an exact
        decimal(38,0) sum (associative, order-free, |node|·2^63 fits 38
        digits) observed on the eager ``localCheckpoint`` replaces the
        per-round join-back + count JOB the convergence check used to
        cost.  One Spark job per round instead of two."""
        obs = Observation()
        observed = df.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        )
        return local_checkpoint_tracked(observed), obs

    sym = persist_tracked(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    # Initial label = min(self, neighbors): exactly what one
    # propagation round over a self-initialized table would produce,
    # computed inside the node-dedup aggregation that was needed
    # anyway — saves one full join+aggregate+checkpoint round (r8; a
    # star cluster whose center is the min id converges at init, so
    # the flat dedup-graph case pays 1 round instead of 2)
    labels, obs0 = _ck_observed(
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.min("d").alias("mn"))
        .select("node", F.least(F.col("node"), F.col("mn")).alias("component"))
    )
    prev_sum = obs0.get["s"]

    changed = 0
    for _ in range(max_iter):
        msgs = sym.join(labels, sym.d == labels.node).select(
            F.col("s").alias("node"), "component"
        )
        new_labels, obs = _ck_observed(
            labels.unionByName(msgs).groupBy("node").agg(F.min("component").alias("component"))
        )
        new_sum = obs.get["s"]
        # a strictly smaller exact sum IS "some label changed" (labels
        # are per-node non-increasing); equality IS the fixpoint
        changed = int(new_sum != prev_sum)
        # new_labels is materialized (eager) and its observed sum was
        # the convergence check — the previous round's checkpoint has
        # had its last read; release it now.
        release_local_checkpoint(labels)
        labels = new_labels
        prev_sum = new_sum
        if changed == 0:
            break
    if changed != 0:
        # The LAST allowed round still changed labels — but that round
        # may itself have reached the fixpoint (convergence is only
        # observable as a zero-change round, so a component whose
        # propagation finishes exactly at round max_iter would raise
        # spuriously — review r8).  One extra verification pass
        # (transient, no checkpoint) settles it.
        msgs = sym.join(labels, sym.d == labels.node).select(
            F.col("s").alias("node"), "component"
        )
        verify = labels.unionByName(msgs).groupBy("node").agg(
            F.min("component").alias("component")
        )
        changed = (
            verify.join(labels.withColumnRenamed("component", "old"), "node")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
    sym.unpersist()
    if changed != 0:
        # Fail LOUDLY: min-label propagation needs up to
        # component-diameter rounds, and a silently unconverged label
        # table means wrong (non-minimal) components — downstream
        # survivor sets would silently diverge from the exact
        # transitive closure (review r8).  Diameter > max_iter means a
        # pathological near-dup chain; raise max_iter explicitly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); a dup-cluster chain has "
            f"diameter > {max_iter} — pass a larger max_iter"
        )
    return labels


def dup_clusters(pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b") -> DataFrame:
    """Near-dup pairs -> (doc, cluster, is_keeper): the decision table a
    dedup pipeline writes (keep the minimum id per cluster)."""
    cc = connected_components(pairs, id_a, id_b)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )
