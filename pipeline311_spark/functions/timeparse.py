"""Timestamp parsing / formatting (SURVEY P9, P15, P16; §7.5.1).

The reference parses ISO-8601-ish strings leniently with arrow
(common.py:189-201) and converts to US/Eastern; formats back with
``to_char(col,'YYYY-MM-DD HH24:MI:SS TZH:TZM')`` (sync-db2.py:58).
Engine policy: store UTC instants in ``TimestampType``; convert/format
only at the edges, explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PIPELINE_TZ = "America/New_York"

# Formats the lenient parser accepts, most specific first.  ``coalesce``
# of ``to_timestamp`` attempts == arrow.get's lenient behavior for the
# shapes Salesforce actually emits (REST: 2024-03-15T08:30:00.000+0000).
_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSSXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSXX",
    "yyyy-MM-dd HH:mm:ssXX",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
]


def lenient_timestamp(col: Column | str) -> Column:
    """Parse a messy timestamp string; unparseable/NULL -> NULL
    (common.py:198-201 ParserError/TypeError -> None).

    Offset-bearing strings resolve to exact instants; naive strings are
    interpreted in the session timezone (pin it!).  Result is a UTC
    instant in ``TimestampType`` — the reference's ``.to('US/Eastern')``
    is a *display* conversion, applied at the edge via
    :func:`to_local_string`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in _FORMATS])


def to_local_string(col: Column | str, tz: str = PIPELINE_TZ) -> Column:
    """Format an instant as local wall time in ``tz``,
    'yyyy-MM-dd HH:mm:ss', without the zone offset (SURVEY P16;
    sync-db2.py:58, sync-db2-ago.py:480-485).  The two instants of the
    fall-back hour read the same; :func:`to_local_string_with_offset`
    is the form that appends the offset."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.from_utc_timestamp(c, tz), "yyyy-MM-dd HH:mm:ss")


def to_local_string_with_offset(col: Column | str, tz: str = PIPELINE_TZ) -> Column:
    """Local wall time WITH the zone offset — the faithful twin of the
    reference's ``to_char(..., 'YYYY-MM-DD HH24:MI:SS TZH:TZM')``
    (sync-db2.py:58): '2024-07-15 08:00:00 -04:00'.

    The per-row offset is derived from the engine's own conversion
    (``from_utc_timestamp(c, tz)`` shifts the instant by exactly the
    zone offset, so the epoch difference IS the offset), which makes it
    DST-correct per row and — unlike the offset-less
    :func:`to_local_string` — unambiguous across the fall-back hour:
    the two UTC instants that both read 01:30 local render with -04:00
    vs -05:00."""
    c = F.col(col) if isinstance(col, str) else col
    local = F.from_utc_timestamp(c, tz)
    off = local.cast("long") - c.cast("long")
    a = F.abs(off)
    return F.concat(
        F.date_format(local, "yyyy-MM-dd HH:mm:ss"),
        F.lit(" "),
        F.when(off < 0, F.lit("-")).otherwise(F.lit("+")),
        F.lpad((a / 3600).cast("int").cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(((a % 3600) / 60).cast("int").cast("string"), 2, "0"),
    )


def utc_string_relocalize(col: Column | str, tz: str = PIPELINE_TZ) -> Column:
    """SURVEY P15 (sync-db2-ago.py:164-169, fixing its module-level
    strptime bug, SURVEY §2.9.3): if a datetime *string* carries a
    ``+0000`` suffix, re-render it as local wall time; otherwise pass
    through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ssXX"))
    return F.when(
        c.contains("+0000") & parsed.isNotNull(),
        F.date_format(F.from_utc_timestamp(parsed, tz), "yyyy-MM-dd HH:mm:ss"),
    ).otherwise(c)
