"""The cleaning kernel: reference ``process_row`` (common.py:112-224)
re-expressed as vectorized Column expressions (SURVEY §2.3 P1-P12).

Semantics are replicated *exactly*, including the subtle bits flagged in
SURVEY §7.5:

* error-swallowing is per-column: P3/P4 keep the original value on
  error, P5-P9 null out (we encode each branch explicitly with
  ``when/otherwise`` instead of bare ``except``);
* ``description_full`` derives from the *cleaned* description before the
  250-char truncate, and is absent (NULL) when description is NULL;
* ``status_notes`` reads the **raw** source columns
  (Close_Reason__c/Status_Update__c), so cleaning runs before the final
  projection;
* the TEXT_FIELDS guard (NULL->'' + truncate 2000) runs *last*
  (common.py:220-222);
* district 0 stays 0 (the reference's ``if out_row[...]:`` guard is
  falsy for 0 so the >100 check never nulls it);
* ``private_case`` NULL -> 1 (common.py:184-186).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline311_spark.functions.text import nfkd_ascii, strip_edge_chars
from pipeline311_spark.functions.timeparse import lenient_timestamp
from pipeline311_spark.functions.geo import point_ewkt_from_xy
from pipeline311_spark.schemas import FIELD_MAP, TEXT_FIELDS
from pipeline311_spark.ext.hashing import jvm_memo


def rename_projection(df: DataFrame, field_map: dict[str, str] | None = None) -> DataFrame:
    """P1: rename-projection of the 32 mapped columns (common.py:117)."""
    fm = field_map or FIELD_MAP
    return df.select([F.col(src).alias(dest) for dest, src in fm.items()])


def point_ewkt(lon: Column | str, lat: Column | str) -> Column:
    """P2 — see functions/geo.py."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    return point_ewkt_from_xy(lon, lat)


def clean_description(col: Column | str) -> Column:
    """P3 first half: strip edge ``<>'`` then NFKD->ASCII.

    The caller derives description_full (first 2000 chars) and
    description (first 250 chars) from this one cleaned value
    (common.py:133-139).  NULL -> NULL (the reference's bare except
    leaves the None in place).
    """
    c = F.col(col) if isinstance(col, str) else col
    return nfkd_ascii(strip_edge_chars(c))


def bounded_truncate(col: Column | str, n: int) -> Column:
    """P4/P12 truncation primitive: first ``n`` chars, NULL passthrough."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, n)


def district_number(col: Column | str) -> Column:
    """P5: extract first digit-run as int; no digits/NULL -> NULL;
    value > 100 -> NULL (common.py:147-169).  '22nd District' -> 22,
    '911' -> NULL, 0 -> 0 (falsy guard skips the >100 check)."""
    c = F.col(col) if isinstance(col, str) else col
    first = F.regexp_extract(c, r"(\d+)", 1)
    num = F.when(first != "", first.cast("long"))
    return F.when(num > 100, F.lit(None)).otherwise(num).cast("int")


def lower_trim(col: Column | str) -> Column:
    """P6: lowercase + strip whitespace; NULL -> NULL (common.py:172-175)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def parent_id(col: Column | str) -> Column:
    """P7: int cast; '0' / unparseable -> NULL (common.py:178-181).

    The reference tests the RAW value against ``'0'`` *before* the int
    cast, so other spellings of zero ('00', ' 0') survive as 0 — only
    the exact string '0' (or int 0) nulls out.  Python ``int('12.0')``
    raises, so non-integral strings null out — ``try_cast`` to long
    matches (Spark try_cast('12.0' as long) is NULL).  Spark's cast
    also trims ASCII control characters around the digits, which
    ``int()`` rejects ('0\\x1f' raises), so a value holding one nulls
    out too.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(
        (s == "0") | s.rlike(r"[\x00-\x08\x0e-\x1f\x7f]"), F.lit(None)
    ).otherwise(c.try_cast("long"))


def private_flag(col: Column | str) -> Column:
    """P8: False/'false' -> 0, anything else **including NULL** -> 1
    (common.py:184-186)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.cast("string").isin("false"), F.lit(0)).otherwise(F.lit(1))


def status_notes_col(status: Column, close_reason: Column, status_update: Column) -> Column:
    """P10+P11: pick raw source by status, then clean (strip edge chars,
    ASCII-fold, truncate 2000) — cleaning applies to strings only, and
    NULL passes through (common.py:204-216)."""
    chosen = F.when(status == "Closed", close_reason).otherwise(status_update)
    return F.substring(nfkd_ascii(strip_edge_chars(chosen)), 1, 2000)


def text_field_guard(col: Column | str, max_len: int = 2000) -> Column:
    """P12: blanket TEXT_FIELDS guard — NULL -> '' and truncate
    (common.py:220-222)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.coalesce(c, F.lit("")), 1, max_len)


def clean_cases(df: DataFrame, field_map: dict[str, str] | None = None) -> DataFrame:
    """The full kernel: Salesforce-shaped strings in, CASE_CLEAN out.

    One declarative ``select`` — Catalyst fuses every expression into a
    single whole-stage-codegen projection; the only Python hop is the
    Arrow-batched NFKD UDF, shared by three columns.  Contrast with the
    reference's per-row dict loop that materializes everything in driver
    memory (sync-db2.py:62-69 — the #1 anti-pattern at 100 TB).

    The ~40-column expression tree costs ~0.5 s of driver time to build
    (hundreds of py4j round trips) vs ~0.05 s to execute at bench scale,
    and an incremental runner would otherwise rebuild it every batch
    cycle — so the select list is memoized per field_map (Columns are
    immutable unresolved trees keyed only on source column names)."""
    fm_items = tuple((field_map or FIELD_MAP).items())
    return df.select(list(_clean_case_cols(fm_items)))


@jvm_memo(maxsize=8)
def _clean_case_cols(fm_items: tuple[tuple[str, str], ...]) -> tuple[Column, ...]:
    fm = dict(fm_items)
    cleaned_desc = clean_description(F.col(fm["description"]))

    cols: dict[str, Column] = {}
    for dest, src in fm.items():
        cols[dest] = F.col(src)

    cols["service_request_id"] = F.col(fm["service_request_id"]).try_cast("long")
    cols["description"] = F.substring(cleaned_desc, 1, 250)
    cols["description_full"] = F.substring(cleaned_desc, 1, 2000)
    cols["vehicle_license_plate_state"] = bounded_truncate(F.col(fm["vehicle_license_plate_state"]), 30)
    cols["police_district"] = district_number(F.col(fm["police_district"]))
    cols["council_district_num"] = district_number(F.col(fm["council_district_num"]))
    cols["pinpoint_area"] = lower_trim(F.col(fm["pinpoint_area"]))
    cols["parent_service_request_id"] = parent_id(F.col(fm["parent_service_request_id"]))
    cols["private_case"] = private_flag(F.col(fm["private_case"]))
    for prefix in ("requested", "updated", "expected", "closed"):
        dest = f"{prefix}_datetime"
        cols[dest] = lenient_timestamp(F.col(fm[dest]))
    cols["status_notes"] = status_notes_col(
        F.col(fm["status"]), F.col("Close_Reason__c"), F.col("Status_Update__c")
    )
    cols["shape"] = point_ewkt(
        F.col("Centerline__Longitude__s"), F.col("Centerline__Latitude__s")
    )

    # Last: the blanket guard (order matters — SURVEY §7.5.3).
    for tf in TEXT_FIELDS:
        cols[tf] = text_field_guard(cols[tf])

    order = (
        ["service_request_id", "status", "service_name", "service_code",
         "description", "description_full", "status_notes"]
        + [d for d in fm if d not in {
            "service_request_id", "status", "service_name", "service_code",
            "description"}]
        + ["shape"]
    )
    return tuple(cols[name].alias(name) for name in order)
