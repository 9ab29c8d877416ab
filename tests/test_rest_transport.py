"""The S1 connector's HTTP seam (sources/rest_transport.py), driven
through a RECORDING fake transport: SOQL text from pushed DSv2 filters,
query_all_iter-style cursor pagination, and the reference retry
ladder (Retry(total=10, backoff_factor=3) — delete-removed-
tickets.py:24-25) asserted without a network."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, IsNotNull, StringStartsWith

from pipeline311_spark.sources.rest_transport import (
    RetryPolicy,
    TransportError,
    fetch_all,
    soql_query,
    soql_where,
)


def test_soql_text_from_pushed_filters():
    q = soql_query(
        "Case",
        ["CaseNumber", "Status", "LastModifiedDate"],
        [
            GreaterThan(("LastModifiedDate",), dt.datetime(2024, 3, 1, 12, 30)),
            EqualTo(("Status",), "Closed"),
            IsNotNull(("CaseNumber",)),
        ],
    )
    assert q == (
        "SELECT CaseNumber, Status, LastModifiedDate FROM Case "
        "WHERE LastModifiedDate > 2024-03-01T12:30:00Z "
        "AND Status = 'Closed' AND CaseNumber != null"
    )
    # string escaping: quotes/backslashes cannot break out of the literal
    assert soql_where([EqualTo(("s",), "O'Brien \\ co")]) == "s = 'O\\'Brien \\\\ co'"
    # unsupported filter classes must raise, never silently drop
    with pytest.raises(ValueError, match="not expressible"):
        soql_where([StringStartsWith(("s",), "x")])


class _FakeRest:
    """Recording fake: scripted pages keyed by URL, with optional
    per-URL failure counts before success (5xx behavior)."""

    def __init__(self, pages: dict, fail_first: dict | None = None):
        self.pages = pages
        self.fail_left = dict(fail_first or {})
        self.calls: list[tuple[str, dict | None]] = []

    def __call__(self, url: str, params):
        self.calls.append((url, params))
        if self.fail_left.get(url, 0) > 0:
            self.fail_left[url] -= 1
            raise TransportError("503 service unavailable")
        return self.pages[url]


def test_pagination_follows_cursor_in_order():
    fake = _FakeRest(
        {
            "/q": {"records": [{"id": 1}, {"id": 2}], "done": False, "nextRecordsUrl": "/q-2"},
            "/q-2": {"records": [{"id": 3}], "done": False, "nextRecordsUrl": "/q-3"},
            "/q-3": {"records": [{"id": 4}], "done": True},
        }
    )
    got = list(fetch_all(fake, "/q", "SELECT Id FROM Case", sleep=lambda s: None))
    assert [r["id"] for r in got] == [1, 2, 3, 4]
    # the SOQL rides only the FIRST request; cursor URLs are opaque
    assert fake.calls[0] == ("/q", {"q": "SELECT Id FROM Case"})
    assert fake.calls[1:] == [("/q-2", None), ("/q-3", None)]


def test_retry_ladder_matches_reference_schedule():
    """Two connection failures then success: sleeps must be urllib3's
    EXACT schedule for backoff_factor=3 — the first retry immediate
    (get_backoff_time returns 0 while consecutive errors <= 1), then
    factor * 2^(n-1): [0, 6] — and the page still arrives intact."""
    fake = _FakeRest(
        {"/q": {"records": [{"id": 9}], "done": True}}, fail_first={"/q": 2}
    )
    slept: list[float] = []
    got = list(fetch_all(fake, "/q", "soql", sleep=slept.append))
    assert [r["id"] for r in got] == [9]
    assert slept == [0.0, 6.0]
    assert len(fake.calls) == 3


def test_retry_ladder_exhausts_and_raises():
    fake = _FakeRest({"/q": {"records": []}}, fail_first={"/q": 99})
    slept: list[float] = []
    with pytest.raises(TransportError):
        list(
            fetch_all(
                fake, "/q", "soql",
                retry=RetryPolicy(max_tries=4, backoff_factor=0.5),
                sleep=slept.append,
            )
        )
    assert slept == [0.0, 1.0, 2.0]  # 3 sleeps between 4 tries, first immediate
    assert len(fake.calls) == 4


def test_mid_pagination_failure_retries_only_that_page():
    fake = _FakeRest(
        {
            "/q": {"records": [{"id": 1}], "done": False, "nextRecordsUrl": "/q-2"},
            "/q-2": {"records": [{"id": 2}], "done": True},
        },
        fail_first={"/q-2": 1},
    )
    slept: list[float] = []
    got = list(fetch_all(fake, "/q", "soql", sleep=slept.append))
    assert [r["id"] for r in got] == [1, 2]
    assert slept == [0.0]
    # the first page was NOT re-fetched (no duplicate records)
    assert [u for u, _ in fake.calls] == ["/q", "/q-2", "/q-2"]


def test_urllib_transport_maps_failures_to_transport_error():
    """Offline: any network failure surfaces as TransportError (so the
    ladder owns policy), never a raw URLError escaping to Spark."""
    from pipeline311_spark.sources.rest_transport import UrllibTransport

    t = UrllibTransport("http://127.0.0.1:1", token="x", timeout_s=0.2)
    with pytest.raises(TransportError):
        t("/services/data/v58.0/query", {"q": "SELECT Id FROM Case"})


def test_http_status_errors_are_not_retried():
    """4xx/5xx RESPONSES fail fast (reference Retry has no
    status_forcelist): an expired token must not stall the job through
    the full 10-try ladder."""
    from pipeline311_spark.sources.rest_transport import HttpStatusError

    calls = []

    def transport(url, params):
        calls.append(url)
        raise HttpStatusError(401, "unauthorized")

    slept: list[float] = []
    with pytest.raises(HttpStatusError, match="401"):
        list(fetch_all(transport, "/q", "soql", sleep=slept.append))
    assert len(calls) == 1 and slept == []


def test_truncated_page_stream_raises_not_silently_short():
    fake = _FakeRest({"/q": {"records": [{"id": 1}], "done": False}})
    with pytest.raises(TransportError, match="truncated"):
        list(fetch_all(fake, "/q", "soql", sleep=lambda s: None))


def test_soql_datetime_tz_converted_to_utc():
    aware = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone(dt.timedelta(hours=5)))
    assert soql_where([GreaterThan(("ts",), aware)]) == "ts > 2024-03-01T07:00:00Z"


def test_soql_nested_relationship_path_dotted():
    assert soql_where([EqualTo(("Account", "Name"), "Acme")]) == "Account.Name = 'Acme'"


def test_default_ladder_is_eleven_attempts_with_backoff_cap():
    """ADVICE r6: urllib3 Retry(total=10) permits 10 retries = 11 total
    attempts, and clamps every sleep at DEFAULT_BACKOFF_MAX=120 s — the
    default policy must match both."""
    fake = _FakeRest({"/q": {"records": []}}, fail_first={"/q": 99})
    slept: list[float] = []
    with pytest.raises(TransportError):
        list(fetch_all(fake, "/q", "soql", sleep=slept.append))
    assert len(fake.calls) == 11
    assert slept == [0.0, 6.0, 12.0, 24.0, 48.0, 96.0, 120.0, 120.0, 120.0, 120.0]


def test_malformed_page_missing_done_or_records_raises():
    """ADVICE r6: a page missing `done` must NOT be read as done=True —
    that silently truncates the extract; same for missing `records`."""
    fake = _FakeRest({"/q": {"records": [{"id": 1}]}})  # no `done`
    with pytest.raises(TransportError, match="missing done"):
        list(fetch_all(fake, "/q", "soql", sleep=lambda s: None))
    fake2 = _FakeRest({"/q": {"done": True}})  # no `records`
    with pytest.raises(TransportError, match="missing records"):
        list(fetch_all(fake2, "/q", "soql", sleep=lambda s: None))


def test_urllib_transport_propagates_programming_errors(monkeypatch):
    """ADVICE r6: only transient classes (URLError, timeout, bad JSON)
    map to TransportError; a TypeError must surface immediately, not
    ride the ~11-minute ladder."""
    import urllib.request

    from pipeline311_spark.sources.rest_transport import UrllibTransport

    t = UrllibTransport("http://example.invalid", token="x")

    def boom(req, timeout):
        raise TypeError("programming error")

    monkeypatch.setattr(urllib.request, "urlopen", boom)
    with pytest.raises(TypeError):
        t("/q", None)

    class _Resp:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return b"<html>gateway timeout</html>"  # 200 with non-JSON body

    monkeypatch.setattr(urllib.request, "urlopen", lambda req, timeout: _Resp())
    with pytest.raises(TransportError):
        t("/q", None)


def test_urllib_transport_retries_mid_body_network_failures(monkeypatch):
    """Review r7: read-phase failures (connection reset / truncated
    chunked body) are raised RAW by resp.read() — urllib only wraps
    connection-phase errors in URLError — and must still map to
    TransportError so the ladder owns them."""
    import http.client
    import urllib.request

    from pipeline311_spark.sources.rest_transport import UrllibTransport

    t = UrllibTransport("http://example.invalid", token="x")

    class _Resp:
        def __init__(self, exc):
            self.exc = exc

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            raise self.exc

    for exc in (
        ConnectionResetError("reset by peer"),
        BrokenPipeError("broken pipe"),
        http.client.IncompleteRead(b"partial"),
        http.client.RemoteDisconnected("closed"),
        TimeoutError("timed out"),
    ):
        monkeypatch.setattr(
            urllib.request, "urlopen", lambda req, timeout, e=exc: _Resp(e)
        )
        with pytest.raises(TransportError):
            t("/q", None)
