"""The HTTP seam of the S1 connector: SOQL building, cursor
pagination, and the retry ladder as testable pure logic.

The reference's extract client is a REST session with
``Retry(total=10, connect=5, backoff_factor=3)`` and a 540 s timeout
(delete-removed-tickets.py:24-25, sync-db2.py:42-43), paging through
results with ``query_all_iter`` (sync-db2.py:49-50,
delete-removed-tickets.py:34) over a SOQL string whose projection and
WHERE clause are hand-built (config.py:103-145).  This module is the
engine-native equivalent of that client, factored so every piece is
contract-testable WITHOUT a network:

* :func:`soql_query` — the SOQL text from the SAME DSv2 ``Filter``
  objects the connector's ``pushFilters`` accepts, so a pushed
  predicate renders into the remote WHERE clause exactly once;
* :func:`fetch_all` — cursor pagination (`nextRecordsUrl`) with the
  reference's retry ladder (``backoff_factor * 2**(attempt-1)``
  sleeps, same schedule as urllib3's ``Retry``), transport-agnostic;
* :class:`UrllibTransport` — the real stdlib HTTP client (no
  ``requests`` in this container), constructed with the reference's
  540 s timeout; raises :class:`TransportError` on any network
  failure so ``fetch_all`` owns the retry policy;
* tests drive :func:`fetch_all` through a RECORDING fake transport
  (tests/test_rest_transport.py) — no network needed.

The DSv2 connector (sources/salesforce_sim.py) stands in for the
remote API with a parquet-backed page store; a production deployment
swaps its page read for ``fetch_all(UrllibTransport(...), ...)`` and
nothing else changes — pushdown, pagination partitioning, and the
streaming offsets are transport-independent.
"""

from __future__ import annotations

import http.client
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Callable, Iterator

from pyspark.sql.datasource import (
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)


class TransportError(Exception):
    """A CONNECTION-level failure (refused, timeout, bad JSON) — the
    retry ladder's unit of failure.  Mirrors the reference exactly:
    ``Retry`` without a ``status_forcelist`` retries connection
    errors, never HTTP status codes."""


class HttpStatusError(Exception):
    """An HTTP error RESPONSE (4xx/5xx).  Deliberately NOT retried: a
    401 (expired token) or 400 (malformed SOQL) fails the same way
    eleven times — retrying would stall the job ~11 minutes on the
    reference ladder before surfacing the real error."""

    def __init__(self, status: int, msg: str):
        super().__init__(f"HTTP {status}: {msg}")
        self.status = status


def _soql_literal(v) -> str:
    """SOQL literal rendering: strings quoted with backslash escaping,
    datetimes as unquoted UTC ISO-8601 (tz-aware values are CONVERTED
    to UTC first — stamping a non-UTC wall time with Z would shift the
    remote WHERE clause by the offset; second precision, SOQL
    convention), bools lowercase, numbers plain."""
    import datetime as dt

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _attr(f: Filter) -> str:
    # multi-segment DSv2 paths are relationship fields: SOQL spells
    # them dotted (Account.Name) — never truncate to the first segment
    return ".".join(f.attribute)


def soql_where(filters: list[Filter]) -> str:
    """WHERE clause from pushed DSv2 filters — the same predicate
    classes the connector's ``pushFilters`` accepts, so a pushed
    filter is applied at the remote exactly once.  Raises on a filter
    class the remote can't express (the caller must then NOT claim it
    as pushed)."""
    parts = []
    for f in filters:
        if isinstance(f, EqualTo):
            parts.append(f"{_attr(f)} = {_soql_literal(f.value)}")
        elif isinstance(f, GreaterThan):
            parts.append(f"{_attr(f)} > {_soql_literal(f.value)}")
        elif isinstance(f, GreaterThanOrEqual):
            parts.append(f"{_attr(f)} >= {_soql_literal(f.value)}")
        elif isinstance(f, LessThan):
            parts.append(f"{_attr(f)} < {_soql_literal(f.value)}")
        elif isinstance(f, LessThanOrEqual):
            parts.append(f"{_attr(f)} <= {_soql_literal(f.value)}")
        elif isinstance(f, IsNotNull):
            parts.append(f"{_attr(f)} != null")
        else:
            raise ValueError(f"filter not expressible in SOQL: {f!r}")
    return " AND ".join(parts)


def soql_query(table: str, columns: list[str], filters: list[Filter] | None = None) -> str:
    """The reference's hand-built query text (config.py:103-145) from
    structured inputs: explicit projection (never ``SELECT *`` — SOQL
    has no star) plus the pushed-filter WHERE clause."""
    q = f"SELECT {', '.join(columns)} FROM {table}"
    w = soql_where(filters or [])
    return f"{q} WHERE {w}" if w else q


@dataclass
class RetryPolicy:
    """The reference ladder: Retry(total=10, backoff_factor=3).
    Sleep schedule is urllib3's EXACTLY: the first retry is immediate
    (``get_backoff_time`` returns 0 while the consecutive-error count
    is <= 1), then backoff_factor · 2^(n-1) — [0, 6, 12, 24, …] for
    factor 3.  ``max_tries`` counts TOTAL attempts; urllib3's
    ``total=10`` permits 10 *retries* after the first attempt, so the
    matching default here is 11 (ADVICE r6: 10 was one rung short).
    Per-request timeout lives on the TRANSPORT (the reference's 540 s
    session timeout → :class:`UrllibTransport`)."""

    max_tries: int = 11
    backoff_factor: float = 3.0
    # urllib3 Retry.DEFAULT_BACKOFF_MAX — without it the factor-3
    # ladder's late rungs grow to 1536 s; urllib3 clamps every sleep
    backoff_max: float = 120.0

    def sleeps(self) -> Iterator[float]:
        for attempt in range(1, self.max_tries):
            raw = 0.0 if attempt <= 1 else self.backoff_factor * (2 ** (attempt - 1))
            yield min(raw, self.backoff_max)


def fetch_all(
    transport: Callable[[str, dict | None], dict],
    query_url: str,
    soql: str,
    retry: RetryPolicy | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[dict]:
    """``query_all_iter`` semantics: GET the query endpoint, yield
    ``records``, follow ``nextRecordsUrl`` until ``done`` — each HTTP
    request independently wrapped in the retry ladder.  ``transport``
    is any ``(url, params) -> parsed-json`` callable raising
    :class:`TransportError` on failure; ``sleep`` is injectable so the
    ladder is testable without wall-clock time."""
    retry = retry or RetryPolicy()

    def get_with_retry(url: str, params: dict | None) -> dict:
        sleeps = retry.sleeps()
        tries = 0
        while True:
            tries += 1
            try:
                return transport(url, params)
            except TransportError:
                if tries >= retry.max_tries:
                    raise
                sleep(next(sleeps))

    page = get_with_retry(query_url, {"q": soql})
    while True:
        # a response missing `records` or `done` is a malformed page,
        # not a short result set: treating absent `done` as True would
        # silently truncate the stream — the exact failure mode the
        # no-cursor guard below exists to prevent (ADVICE r6)
        if "records" not in page or "done" not in page:
            raise TransportError(
                f"malformed query response (missing {'records' if 'records' not in page else 'done'}) — refusing a possibly-truncated extract"
            )
        yield from page["records"]
        if page["done"]:
            return
        if not page.get("nextRecordsUrl"):
            # done=false without a cursor: a silently short extract is
            # the worst failure mode for a parity-gated pipeline
            raise TransportError("done=false but no nextRecordsUrl — truncated page stream")
        page = get_with_retry(page["nextRecordsUrl"], None)


@dataclass
class UrllibTransport:
    """Real stdlib HTTP transport (no ``requests`` in this container):
    bearer-token GET returning parsed JSON, every failure class mapped
    to :class:`TransportError` so :func:`fetch_all` owns retries.  The
    540 s default timeout is the reference's session timeout."""

    base_url: str
    token: str
    timeout_s: float = 540.0
    headers: dict = field(default_factory=dict)

    def __call__(self, url: str, params: dict | None) -> dict:
        full = url if url.startswith("http") else self.base_url.rstrip("/") + url
        if params:
            full += ("&" if "?" in full else "?") + urllib.parse.urlencode(params)
        req = urllib.request.Request(
            full,
            headers={"Authorization": f"Bearer {self.token}", **self.headers},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            # an HTTP RESPONSE arrived: not a transport failure, not
            # retryable (reference Retry has no status_forcelist)
            raise HttpStatusError(e.code, e.reason) from e
        except (
            # OSError covers URLError (its subclass) plus the raw
            # socket errors resp.read() raises MID-BODY, which urllib
            # does NOT wrap: ConnectionResetError, BrokenPipeError,
            # socket.timeout/TimeoutError (review r7 — the first
            # narrowing missed these and a mid-body reset after the
            # 540 s window would have escaped the ladder entirely)
            OSError,
            # IncompleteRead / RemoteDisconnected etc. — also read-phase
            http.client.HTTPException,
            json.JSONDecodeError,  # 200 with a non-JSON body (proxy page)
            UnicodeDecodeError,  #   mojibake body
        ) as e:
            # ONLY the transient classes map to the retry ladder
            # (ADVICE r6): a bare `except Exception` sent programming
            # errors (TypeError, AttributeError) through the full
            # ~25-minute ladder before surfacing — everything else now
            # propagates immediately, matching the fail-fast rationale
            # used for HTTP statuses.
            raise TransportError(str(e)) from e
