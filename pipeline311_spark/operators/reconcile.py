"""Deletion reconciliation (SURVEY §3.3; J3/K8).

Reference: delete-removed-tickets.py — full id scan, 1000-id chunked
SOQL existence probes, python set-minus, then 4 SQL statements
(clear prior tombstones for those ids, archive, delete from raw, delete
from viewer).  Engine: one anti-join + three derived DataFrames.  No
chunking, no sleeps, no driver-side id sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pipeline311_spark.operators.joins import anti_join, semi_join


def deleted_keys(ours: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """J3: ids we hold that the source no longer has
    (delete-removed-tickets.py:138-142).  ``ours`` may repeat a key, so
    its side is made distinct; a left anti-join never multiplies left
    rows, so the source side needs no ``distinct`` (it would only add
    an aggregate and an exchange)."""
    return ours.select(key).distinct().join(source.select(key), key, "left_anti")


def reconcile_deletes(
    raw: DataFrame,
    viewer: DataFrame,
    tombstones: DataFrame,
    source_ids: DataFrame,
    key: str,
) -> dict[str, DataFrame]:
    """Full reconciliation: returns the new state of every affected
    table (delete-removed-tickets.py:153-179).

    * ``deleted``     — keys to remove (anti-join J3)
    * ``tombstones``  — archived rows + prior tombstones for other keys
                        (K8: delete-then-insert of the full raw rows)
    * ``raw`` / ``viewer`` — targets rewritten without the deleted keys

    The archived rows are one partition placed first, so a write of
    ``tombstones`` puts each sync's archived rows in one file.  Spark
    writes a file for an empty task only when it is partition 0, so
    partition 0 must not be the prior side, which is empty on a first
    sync.  Only the archived rows are coalesced: coalescing the whole
    table would funnel every prior tombstone through one task.  The
    coalesce is narrow, so the broadcast semi-join that selects the
    archived rows, a full scan of ``raw``, runs in that one task too.
    """
    dead = deleted_keys(raw, source_ids, key)
    archived = semi_join(raw, dead, key, broadcast_right=True)
    kept_tombstones = anti_join(tombstones, dead, key, broadcast_right=True)
    return {
        "deleted": dead,
        "tombstones": archived.coalesce(1).unionByName(kept_tombstones, allowMissingColumns=True),
        "raw": anti_join(raw, dead, key, broadcast_right=True),
        "viewer": anti_join(viewer, dead, key, broadcast_right=True),
    }
