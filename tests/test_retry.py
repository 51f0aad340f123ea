"""Retry/backoff semantics (sources/retry.py) and their wiring into
the per-URL fetch (sources/stac_fetch.py) and the CMR page loop
(sources/cmr.py) — the reference gets these from its control plane
(SQS redrive maxReceiveCount 2 + Batch retryAttempts 3); here they
live per-request inside the task."""

from __future__ import annotations

import threading
import urllib.error
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from hls_stac_parquet_spark.sources.retry import (
    parse_retry_after,
    request_with_retries,
)
from hls_stac_parquet_spark.sources.stac_fetch import _fetch_one


def _no_jitter(lo, hi):
    return hi


def test_retry_transient_status_then_success():
    calls, sleeps = [], []
    responses = [(503, b"busy", {}), (429, b"slow", {}), (200, b"ok", {})]

    def send():
        calls.append(1)
        return responses[len(calls) - 1]

    status, body, _ = request_with_retries(
        send, attempts=3,
        sleep=sleeps.append, jitter=_no_jitter,
    )
    assert (status, body) == (200, b"ok")
    assert len(calls) == 3
    # exponential: 0.5 * 2^0, 0.5 * 2^1 (jitter pinned to the cap)
    assert sleeps == [0.5, 1.0]


def test_retry_exhaustion_returns_last_response():
    def send():
        return 503, b"still busy", {}

    status, body, _ = request_with_retries(
        send, attempts=3, sleep=lambda s: None, jitter=_no_jitter
    )
    assert status == 503 and body == b"still busy"


def test_retry_honors_retry_after_header():
    sleeps = []
    calls = []

    def send():
        calls.append(1)
        if len(calls) == 1:
            return 429, b"", {"Retry-After": "3"}
        return 200, b"ok", {}

    status, _, _ = request_with_retries(
        send, attempts=3,
        sleep=sleeps.append, jitter=_no_jitter,
    )
    assert status == 200
    assert sleeps == [3.0]  # server's 3s beats the computed 0.5s


def test_retry_after_capped_and_garbage_ignored():
    assert parse_retry_after({"Retry-After": "2.5"}) == 2.5
    assert parse_retry_after({"retry-after": "0"}) == 0.0
    assert parse_retry_after({"Retry-After": "Wed, 21 Oct"}) is None
    assert parse_retry_after({}) is None
    sleeps = []
    calls = []

    def send():
        calls.append(1)
        if len(calls) == 1:
            return 503, b"", {"Retry-After": "9999"}
        return 200, b"", {}

    request_with_retries(
        send, attempts=2,
        sleep=sleeps.append, jitter=_no_jitter,
    )
    assert sleeps == [8.0]  # capped at BACKOFF_MAX_S


def test_retry_after_http_date_form():
    """RFC 9110 HTTP-date form: wait = date - now, clamped at 0;
    partial/garbage dates still fall back to None (computed backoff)."""
    now = lambda: 946684800.0  # 2000-01-01T00:00:00Z  # noqa: E731
    # 2 minutes in the future → 120 s
    assert parse_retry_after(
        {"Retry-After": "Sat, 01 Jan 2000 00:02:00 GMT"}, now=now
    ) == 120.0
    # RFC 5322 "-0000" (naive) parses as UTC
    assert parse_retry_after(
        {"retry-after": "Sat, 01 Jan 2000 00:02:00 -0000"}, now=now
    ) == 120.0
    # date in the past → retry immediately, never negative
    assert parse_retry_after(
        {"Retry-After": "Fri, 31 Dec 1999 23:00:00 GMT"}, now=now
    ) == 0.0
    assert parse_retry_after({"Retry-After": "Wed, 21 Oct"}) is None
    assert parse_retry_after({"Retry-After": "not a date"}) is None


def test_retry_after_both_forms_property():
    """Property sweep over both RFC 9110 forms: delay-seconds N and an
    HTTP-date N seconds past the injected now() must agree."""
    from email.utils import formatdate

    now_s = 1_000_000_000.0
    now = lambda: now_s  # noqa: E731
    for n in (0, 1, 7, 59, 60, 3599, 86400):
        secs = parse_retry_after({"Retry-After": str(n)})
        date = parse_retry_after(
            {"Retry-After": formatdate(now_s + n, usegmt=True)}, now=now
        )
        assert secs == float(n)
        assert date is not None and abs(date - n) < 1.0  # formatdate is 1s-granular


def test_retry_permanent_status_no_retry():
    calls = []

    def send():
        calls.append(1)
        return 404, b"gone", {}

    status, _, _ = request_with_retries(
        send, attempts=3, sleep=lambda s: None
    )
    assert status == 404 and len(calls) == 1


def test_retry_network_error_reraises_after_attempts():
    calls = []

    def send():
        calls.append(1)
        raise urllib.error.URLError("conn reset")

    with pytest.raises(urllib.error.URLError):
        request_with_retries(
            send, attempts=3, sleep=lambda s: None, jitter=_no_jitter
        )
    assert len(calls) == 3


def test_retry_network_error_then_success():
    calls = []

    def send():
        calls.append(1)
        if len(calls) < 3:
            raise ConnectionResetError("reset")
        return 200, b"ok", {}

    status, body, _ = request_with_retries(
        send, attempts=3, sleep=lambda s: None, jitter=_no_jitter
    )
    assert (status, body) == (200, b"ok")


# --- fault-injected HTTP server: the fetch path end-to-end ------------------


@pytest.fixture()
def flaky_http():
    """Endpoint where /flaky 503s twice then 200s, /gone always 404s,
    /ok always 200s."""
    hits: dict[str, int] = {}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            hits[self.path] = hits.get(self.path, 0) + 1
            if self.path == "/flaky" and hits[self.path] <= 2:
                body = b"busy"
                self.send_response(503)
            elif self.path == "/gone":
                body = b"nope"
                self.send_response(404)
            else:
                body = b'{"ok": true}'
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}", hits
    finally:
        srv.shutdown()


def test_fetch_one_retries_transient_then_succeeds(flaky_http, monkeypatch):
    endpoint, hits = flaky_http
    # zero out the real sleep so the test is fast
    monkeypatch.setattr("time.sleep", lambda s: None)
    url, body, err = _fetch_one(f"{endpoint}/flaky", timeout=5)
    assert err is None and body == '{"ok": true}'
    assert hits["/flaky"] == 3  # fail, fail, success


def test_fetch_one_permanent_404_dead_letters(flaky_http):
    endpoint, hits = flaky_http
    url, body, err = _fetch_one(f"{endpoint}/gone", timeout=5)
    assert body is None and err == "HTTP 404"
    assert hits["/gone"] == 1  # no retry burned on a permanent error


def test_fetch_one_exhausted_retries_dead_letters(flaky_http, monkeypatch):
    endpoint, hits = flaky_http
    monkeypatch.setattr("time.sleep", lambda s: None)
    url, body, err = _fetch_one(
        f"{endpoint}/flaky", timeout=5, retry_attempts=2
    )
    assert body is None and err == "HTTP 503"
    assert hits["/flaky"] == 2


def test_cmr_page_loop_retries_transient(monkeypatch):
    """The CMR reader's per-page GET retries a 503 and then consumes
    the page — a flaky page no longer fails the whole day partition."""
    from pyspark.sql.types import StructType

    from hls_stac_parquet_spark.model import CMR_GRANULE_SCHEMA
    from hls_stac_parquet_spark.sources.cmr import CmrReader

    monkeypatch.setattr("time.sleep", lambda s: None)

    import threading as _t
    from http.server import BaseHTTPRequestHandler, HTTPServer

    hits = {"n": 0}
    page = (
        b'{"feed": {"entry": [{"id": "G1", "title": "HLS.L30.T01ABC.'
        b'2025001T000000.v2.0", "time_start": "2025-10-01T00:00:00Z",'
        b' "time_end": "2025-10-01T00:01:00Z", "links": []}]}}'
    )

    class H(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            hits["n"] += 1
            if hits["n"] == 1:
                self.send_response(503)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(page)))
            self.end_headers()
            self.wfile.write(page)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    _t.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        reader = CmrReader(
            CMR_GRANULE_SCHEMA,
            {
                "endpoint": f"http://127.0.0.1:{srv.server_port}/search",
                "collection_concept_id": "C1-TEST",
                "start_date": "2025-10-01",
                "end_date": "2025-10-01",
            },
        )
        rows = list(reader._read_http("2025-10-01"))
        assert len(rows) == 1
        assert hits["n"] == 2  # 503 then success
    finally:
        srv.shutdown()
