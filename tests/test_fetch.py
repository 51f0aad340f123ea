"""Distributed STAC fetcher (sources/stac_fetch.py): transport,
dead-letter split, and the per-netloc credential-provider hook."""

from __future__ import annotations

import http.server
import json
import threading

import pandas as pd
import pytest

from hls_stac_parquet_spark.sources.stac_fetch import fetch_stac_items


def _urls_df(spark, urls):
    return spark.createDataFrame(pd.DataFrame({"url": urls}))


def test_file_fetch_and_dead_letter(spark, tmp_path):
    good = tmp_path / "item.json"
    good.write_text('{"id": "x"}')
    out = {
        r.url: (r.body, r.fetch_error)
        for r in fetch_stac_items(
            _urls_df(spark, [str(good), str(tmp_path / "missing.json")])
        ).collect()
    }
    assert out[str(good)] == ('{"id": "x"}', None)
    body, err = out[str(tmp_path / "missing.json")]
    assert body is None and "FileNotFoundError" in err


class _RecordingHandler(http.server.BaseHTTPRequestHandler):
    seen_auth: list[str | None] = []

    def do_GET(self):  # noqa: N802 — stdlib API name
        _RecordingHandler.seen_auth.append(self.headers.get("Authorization"))
        body = json.dumps({"ok": True}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence request logging
        pass


@pytest.fixture()
def http_server():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RecordingHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _RecordingHandler.seen_auth.clear()
    yield f"127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_credential_provider_headers_applied(spark, http_server):
    """credential_provider(netloc) headers must reach the HTTP request
    (reference: per-netloc credentialed store reuse, fetch.py:30-48)."""
    url = f"http://{http_server}/collection/item.json"

    def provider(netloc: str):
        assert netloc == http_server
        return {"Authorization": "Bearer test-token"}

    rows = fetch_stac_items(
        _urls_df(spark, [url]), credential_provider=provider
    ).collect()
    assert rows[0].fetch_error is None
    assert json.loads(rows[0].body) == {"ok": True}
    assert _RecordingHandler.seen_auth == ["Bearer test-token"]


def test_no_provider_sends_no_auth(spark, http_server):
    url = f"http://{http_server}/item.json"
    rows = fetch_stac_items(_urls_df(spark, [url])).collect()
    assert rows[0].fetch_error is None
    assert _RecordingHandler.seen_auth == [None]


def test_fetch_carries_input_columns_in_order(spark, tmp_path):
    """Columns besides the URL ride through the fetch, and rows keep
    their order within a partition (E2 sorts URL rows, not items)."""
    from hls_stac_parquet_spark.model import FETCH_RESULT_SCHEMA

    paths = []
    for i in range(300):
        p = tmp_path / f"item-{i}.json"
        p.write_text(json.dumps({"id": i}))
        paths.append(str(p))
    urls = spark.createDataFrame(
        pd.DataFrame({"url": paths, "key": range(300, 0, -1)})
    ).coalesce(1)
    assert fetch_stac_items(urls.select("url")).schema == FETCH_RESULT_SCHEMA

    out = fetch_stac_items(urls)
    assert out.columns == ["url", "body", "fetch_error", "key"]
    rows = out.collect()
    assert [r.url for r in rows] == paths
    assert [r.key for r in rows] == list(range(300, 0, -1))
    assert [json.loads(r.body)["id"] for r in rows] == list(range(300))
