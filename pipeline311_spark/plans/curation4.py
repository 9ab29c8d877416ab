"""Corpus snapshot reconciliation and the product-quantization
constants the stored IVF-PQ index queries share:

* ``corpus_version_diff`` — snapshot reconciliation between two corpus
  versions: per-doc added / removed / changed / unchanged via content
  fingerprints.  The versions are derived deterministically from the
  one documents table (residue-class membership + a text revision for
  one residue class) so the oracle reproduces them exactly.  Scale:
  fingerprints are map-side; the diff is ONE co-partitioned full-outer
  join on doc_id.

* Product quantization (Jégou et al. 2011): each 64-dim embedding
  splits into ``_PQ_M`` sub-vectors of ``_PQ_SUBDIM`` dims, each
  assigned to one of ``_PQ_K`` per-subspace centroids;
  :func:`_pq_sqdist_sql` is the DuckDB twin of the per-subspace
  squared L2 (``plans/ann_store_q.py``, ``plans/index_delete.py``).

Reference scope note: the reference pipeline (sync-db2.py and
siblings) has no corpus/vector layer; these extend the engine the same
way the rest of ext/ does — see SURVEY.md §2.10.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline311_spark.ext.textstats import fingerprint
from pipeline311_spark.plans.common import table
from pipeline311_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Corpus snapshot diff
# ---------------------------------------------------------------------------

# v_old = docs outside residue 3 (mod 17): residue 3 docs are "added"
# in the new version.  v_new = docs outside residue 5 (mod 19):
# residue 5 docs were "removed".  Residue 2 (mod 13) docs carry a text
# revision in v_new, so their fingerprints differ -> "changed".
_VD_ADD_MOD, _VD_ADD_RES = 17, 3
_VD_REM_MOD, _VD_REM_RES = 19, 5
_VD_CHG_MOD, _VD_CHG_RES = 13, 2
_VD_REV = " (rev2)"


def _version_diff_sql() -> str:
    from pipeline311_spark.plans.extensions import _norm_sql

    return f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
v_old AS (
  SELECT doc_id, md5({_norm_sql('text')}) AS fp FROM base
  WHERE doc_id % {_VD_ADD_MOD} <> {_VD_ADD_RES}),
v_new AS (
  SELECT doc_id,
         md5({_norm_sql(f"(text || '{_VD_REV}')")}) AS fp_rev,
         md5({_norm_sql('text')}) AS fp_same,
         doc_id % {_VD_CHG_MOD} = {_VD_CHG_RES} AS revised
  FROM base WHERE doc_id % {_VD_REM_MOD} <> {_VD_REM_RES})
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN (CASE WHEN n.revised THEN n.fp_rev ELSE n.fp_same END) <> o.fp
                 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v_old o FULL OUTER JOIN v_new n ON o.doc_id = n.doc_id
"""


@register("corpus_version_diff", _version_diff_sql(),
          covers=("J3", "O3", "ext:export", "ext:versioning"))
def q_version_diff(spark, sf_dir):
    base = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    v_old = base.filter(F.col("doc_id") % _VD_ADD_MOD != _VD_ADD_RES).select(
        "doc_id", F.expr(fingerprint("text")).alias("fp_old")
    )
    revised = f"doc_id % {_VD_CHG_MOD} = {_VD_CHG_RES}"
    v_new = base.filter(F.col("doc_id") % _VD_REM_MOD != _VD_REM_RES).select(
        "doc_id",
        F.expr(
            fingerprint(f"CASE WHEN {revised} THEN concat(text, '{_VD_REV}') ELSE text END")
        ).alias("fp_new"),
    )
    # ONE co-partitioned full-outer join on doc_id; fingerprints are
    # map-side.  At scale both snapshots hash-partition once — with
    # bucketed snapshot storage even that exchange disappears.
    j = v_old.join(v_new, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Product-quantization encoding
# ---------------------------------------------------------------------------

_PQ_M = 4          # sub-vector count
_PQ_SUBDIM = 16    # dims per sub-vector (4 x 16 = 64)
_PQ_K = 4          # centroids per subspace


def _pq_sqdist_sql(a: str, b: str, j: int) -> str:
    """Per-subspace squared L2 between 1-based list slices — the same
    prepend-0.0 left fold as the Spark F.aggregate twin."""
    lo, hi = j * _PQ_SUBDIM + 1, (j + 1) * _PQ_SUBDIM
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(list_zip({a}[{lo}:{hi}], {b}[{lo}:{hi}]), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))), (x, y) -> x + y)"
    )
