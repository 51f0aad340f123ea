"""Shared HTTP retry with jittered exponential backoff.

The reference engine gets transient-failure retries from its control
plane — SQS redrive ``maxReceiveCount: 2`` (reference
infrastructure/src/hls-batch-stack.ts:138-141) and AWS Batch
``retryAttempts: 3`` (:294) — i.e. a 429/503/network blip re-runs the
work unit before it dead-letters. This repo's data plane issues HTTP
from inside Spark tasks (sources/stac_fetch.py per-URL fetch,
sources/cmr.py page GETs, sources/s3store.py signed requests), where
Spark's own task retry is far too coarse: one flaky URL would re-fetch
the whole partition. So the retry loop lives here, per request:

- retries transient HTTP statuses (429 + 5xx) and network-level
  failures (URLError / timeout / connection reset),
- backs off exponentially with full jitter (delay ~ U(0, base*2^i),
  capped), the standard AWS-recommended policy,
- honors a server ``Retry-After`` header (seconds form) when present
  and larger than the computed backoff,
- gives up after ``attempts`` total tries: the last response is
  returned (callers map status → error/dead-letter), or the last
  network exception re-raised.

``sleep`` and ``jitter`` are injection seams for deterministic tests.
"""

from __future__ import annotations

import random
import time
import urllib.error
from typing import Callable, Mapping

#: statuses worth retrying — throttling and transient server errors.
TRANSIENT_STATUSES = frozenset({429, 500, 502, 503, 504})
#: full-jitter exponential backoff: attempt k waits up to
#: min(BACKOFF_MAX_S, BACKOFF_BASE_S * 2**k); a Retry-After is capped
#: at BACKOFF_MAX_S too
BACKOFF_BASE_S = 0.5
BACKOFF_MAX_S = 8.0

#: network-level exceptions worth retrying (DNS blip, reset, timeout).
TRANSIENT_EXCEPTIONS = (
    urllib.error.URLError,  # includes socket.timeout wrapped by urllib
    ConnectionError,
    TimeoutError,
)


def parse_retry_after(
    headers: Mapping[str, str] | None,
    now: Callable[[], float] = time.time,
) -> float | None:
    """``Retry-After`` → seconds to wait, handling BOTH RFC 9110
    forms: delay-seconds (``Retry-After: 120``) and HTTP-date
    (``Retry-After: Fri, 31 Dec 1999 23:59:59 GMT``) — the date form
    converts to ``max(0, date - now())``, so a date already in the
    past means "retry immediately" rather than a bogus sleep. Garbage
    still returns None (the computed backoff applies). ``now`` is an
    injection seam for deterministic tests."""
    if not headers:
        return None
    value = None
    for k in headers:
        if k.lower() == "retry-after":
            value = headers[k]
            break
    if value is None:
        return None
    try:
        return max(0.0, float(value))
    except (TypeError, ValueError):
        pass
    try:
        from email.utils import parsedate_to_datetime

        dt = parsedate_to_datetime(str(value))
    except (TypeError, ValueError):
        return None
    if dt is None:  # pre-3.10 parsedate returns None on garbage
        return None
    if dt.tzinfo is None:  # RFC 5322 "-0000": treat naive as UTC
        import datetime as _dt

        dt = dt.replace(tzinfo=_dt.timezone.utc)
    return max(0.0, dt.timestamp() - now())


def request_with_retries(
    send: Callable[[], tuple[int, bytes, Mapping[str, str]]],
    *,
    attempts: int = 3,
    sleep: Callable[[float], None] = time.sleep,
    jitter: Callable[[float, float], float] = random.uniform,
) -> tuple[int, bytes, Mapping[str, str]]:
    """Run ``send()`` (→ ``(status, body, headers)``) with retries.

    Returns the first non-transient response, or the LAST transient
    response once attempts are exhausted (callers already map status
    → IOError / dead-letter row, so exhaustion needs no new error
    shape). A network-level exception on the final attempt re-raises.
    """
    last_exc: Exception | None = None
    for attempt in range(attempts):
        try:
            status, body, headers = send()
            last_exc = None
        except TRANSIENT_EXCEPTIONS as e:
            # urllib raises HTTPError (a URLError subclass) for HTTP
            # statuses — those carry a real response; convert instead
            # of treating them as network failures.
            if isinstance(e, urllib.error.HTTPError):
                status, body, headers = e.code, e.read(), dict(e.headers)
                last_exc = None
            else:
                last_exc = e
                status, body, headers = -1, b"", {}
        if last_exc is None and status not in TRANSIENT_STATUSES:
            return status, body, headers
        if attempt == attempts - 1:
            break
        delay = jitter(0.0, min(BACKOFF_MAX_S, BACKOFF_BASE_S * (2**attempt)))
        server_says = parse_retry_after(headers) if last_exc is None else None
        if server_says is not None:
            delay = max(delay, min(server_says, BACKOFF_MAX_S))
        sleep(delay)
    if last_exc is not None:
        raise last_exc
    return status, body, headers
