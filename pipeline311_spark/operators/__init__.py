"""Relational + pipeline operators (SURVEY §2.4-§2.8).

Filters F1-F8, joins J1-J4 (upsert-match, anti-reconcile, semi-probe),
aggregates A1-A7 (watermarks, dup-guard counts), sorts/set-ops O1-O5,
the incremental MERGE kernel (K3/K4/T1), deletion reconciliation
(J3/K8) and partition-pruned backfill (T2/S10).
"""

from pipeline311_spark.operators.filters import (  # noqa: F401
    static_source_filter,
    time_range,
    watermark_filter,
)
from pipeline311_spark.operators.joins import (  # noqa: F401
    semi_join,
    anti_join,
    exists_probe,
)
from pipeline311_spark.operators.aggregates import (  # noqa: F401
    max_watermark,
    coalesced_max_watermark,
    count_matched,
)
from pipeline311_spark.operators.merge import (  # noqa: F401
    upsert,
    latest_per_key,
)
from pipeline311_spark.operators.reconcile import (  # noqa: F401
    deleted_keys,
    reconcile_deletes,
)
from pipeline311_spark.operators.backfill import partition_window_filter  # noqa: F401
