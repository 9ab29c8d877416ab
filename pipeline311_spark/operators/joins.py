"""Join operators J1-J4 (SURVEY §2.5).

Every join in the reference is key-based on the primary key; here each
is one declarative join and Catalyst picks broadcast vs sort-merge vs
shuffled-hash (AQE can switch at runtime).  The chunked remote
IN-list loops (delete-removed-tickets.py:112-135: 1000 ids per SOQL
probe) collapse into single shuffle-free-or-broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def semi_join(left: DataFrame, right: DataFrame, key: str, broadcast_right: bool = False) -> DataFrame:
    """J4: EXISTS — rows of ``left`` whose key appears in ``right``
    (sync-db2-ago.py:583-586 per-key AGO existence probe).  Broadcast
    the key set when it is small (it usually is — it's a changed-keys
    batch)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r.select(key).distinct(), key, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, key: str, broadcast_right: bool = False) -> DataFrame:
    """J3: NOT EXISTS — the deletion-reconciliation kernel
    (delete-removed-tickets.py:138-142 ``set(ours) - set(theirs)`` per
    chunk).  One line, any cardinality, no chunking."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r.select(key).distinct(), key, "left_anti")
