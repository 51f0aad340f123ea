"""E2 plan (plans/monthly_compact.py): every STAC item is requested
exactly once, the driver-side cluster keys equal the column (UDF)
path's, planning runs no Spark job, the completeness gate compares
the listed days, a malformed manifest fails the month, and an empty
month writes nothing."""

from __future__ import annotations

import collections
import datetime as dt
import http.server
import json
import math
import os
import re
import shutil
import threading
import types
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.mgrs import mgrs_dim_table
from hls_stac_parquet_spark.functions.spatial import (
    HILBERT_ERROR_SENTINEL,
    hilbert_index_udf,
)
from hls_stac_parquet_spark.functions.urls import extract_mgrs
from hls_stac_parquet_spark.operators.completeness import IncompleteInputError
from hls_stac_parquet_spark.plans.daily_ingest import cache_daily_stac_json_links
from hls_stac_parquet_spark.plans.monthly_compact import (
    driver_keyed_urls,
    write_monthly_stac_geoparquet,
)
from hls_stac_parquet_spark.sinks import geoparquet
from hls_stac_parquet_spark.sinks.manifest import manifest_key, read_manifests
from hls_stac_parquet_spark.store import get_store
from tests.fixtures import make_fixtures

COLL_CID = "C2021957657-LPCLOUD"
COLL_ID = "HLSL30_2.0"
DAYS = [dt.date(2025, 10, d) for d in (1, 2, 3)]


def _counting_handler(root: str, counts: collections.Counter):
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — stdlib API name
            with lock:
                counts[self.path] += 1
            path = os.path.join(root, os.path.basename(self.path))
            if not os.path.exists(path):
                self.send_error(404)
                return
            with open(path, "rb") as fh:
                body = fh.read()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # silence request logging
            pass

    return Handler


@pytest.fixture(scope="module")
def origin(spark, tmp_path_factory):
    """E1 over fixture CMR days whose STAC links point at a local HTTP
    origin that counts requests per path; 2 items a day are 404s."""
    base = str(tmp_path_factory.mktemp("e2-origin"))
    cmr_dir, stac_dir = make_fixtures(
        base, days=DAYS, granules_per_day=8, broken_stac_urls=2
    )
    counts: collections.Counter = collections.Counter()
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _counting_handler(stac_dir, counts)
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url_base = f"http://127.0.0.1:{srv.server_address[1]}/"
    for name in os.listdir(cmr_dir):
        path = os.path.join(cmr_dir, name)
        with open(path) as fh:
            text = fh.read()
        with open(path, "w") as fh:
            fh.write(text.replace(f"file://{stac_dir}/", url_base))

    links = os.path.join(base, "links")
    written = cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], links,
        end_date=DAYS[-1], protocol="http", fixture_dir=cmr_dir,
    )
    assert len(written) == len(DAYS)
    manifests = read_manifests(spark, links, COLL_ID, 2025, 10).collect()
    urls = [u for m in manifests for u in m.urls]
    assert urls and all(u.startswith(url_base) for u in urls)
    yield types.SimpleNamespace(
        links=links, counts=counts, urls=urls,
        broken=[u for u in urls if "_missing_" in u],
    )
    srv.shutdown()
    srv.server_close()


@pytest.mark.parametrize("n_files", [None, 3])
def test_e2_requests_each_url_once(spark, origin, tmp_path, monkeypatch, n_files):
    if n_files is not None:  # size the sink's files so the month needs 3
        monkeypatch.setattr(
            geoparquet, "ROWS_PER_FILE", math.ceil(len(origin.urls) / n_files)
        )
    origin.counts.clear()
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, origin.links, str(tmp_path / "gpq"),
        require_complete_links=False,
    )
    assert origin.counts == collections.Counter(
        urlparse(u).path for u in origin.urls
    )
    assert result["written"] + result["failed"] == len(origin.urls)
    assert result["failed"] == len(origin.broken) == 2 * len(DAYS)

    files = sorted(result["files"])
    if n_files is None:
        assert len(files) == 1  # a month under ROWS_PER_FILE: one file
        return
    assert 1 < len(files) <= n_files
    prev_end = None
    for path in files:  # part-number order is range order
        keys = pq.read_table(path, columns=["hilbert_idx"])[
            "hilbert_idx"
        ].to_pylist()
        assert keys == sorted(keys)
        if prev_end is not None:
            assert keys[0] >= prev_end
        prev_end = keys[-1]


def test_driver_keys_match_udf_path(spark):
    """The driver-computed tiles, tile centres and Hilbert keys equal
    the extract_mgrs + mgrs_dim_table + hilbert_index_udf column path,
    including the sentinel for a tile the decoder rejects and for a
    URL without a tile: Python's ``re`` and Spark's Java regex read
    the same tile out of each URL."""
    valid = "https://h/HLS.L30.T15TWN.2025274T170400.v2.0/x_stac.json"
    rejected = "https://h/HLS.L30.T15III.2025274T170400.v2.0/x_stac.json"
    no_tile = "https://h/some/item_stac.json"
    urls = [valid, valid.replace("T1704", "T1705"), rejected, no_tile]

    keyed = driver_keyed_urls(spark, urls).collect()
    assert [r.url for r in keyed] == urls  # input order kept
    got = {r.url: (r.mgrs_tile, r.lat, r.lon, r.hilbert_idx) for r in keyed}

    tiled = spark.createDataFrame([(u,) for u in urls], "url string")
    tiled = tiled.withColumn("mgrs_tile", extract_mgrs("url"))
    dim = mgrs_dim_table(spark, tiled, "mgrs_tile")
    udf_path = tiled.join(F.broadcast(dim), "mgrs_tile", "left").withColumn(
        "hilbert_idx", hilbert_index_udf(F.col("tile_lon"), F.col("tile_lat"))
    )
    want = {
        r.url: (r.mgrs_tile, r.tile_lat, r.tile_lon, r.hilbert_idx)
        for r in udf_path.collect()
    }
    assert got == want
    tile, lat, lon, key = got[valid]
    assert tile == "15TWN" and lat is not None and key < HILBERT_ERROR_SENTINEL
    assert got[rejected] == ("15III", None, None, HILBERT_ERROR_SENTINEL)
    assert got[no_tile] == (None, None, None, HILBERT_ERROR_SENTINEL)


def test_malformed_manifest_names_its_key(spark, origin, tmp_path):
    """A truncated day manifest fails the month with an error that
    names the day's key, instead of dropping that day's URLs."""
    links = str(tmp_path / "links")
    shutil.copytree(origin.links, links)
    path = os.path.join(links, manifest_key(COLL_ID, DAYS[1]))
    with open(path, "rb") as fh:
        body = fh.read()
    with open(path, "wb") as fh:
        fh.write(body[: len(body) // 2])
    with pytest.raises(
        ValueError, match=re.escape(manifest_key(COLL_ID, DAYS[1]))
    ):
        write_monthly_stac_geoparquet(
            spark, COLL_ID, 2025, 10, links, str(tmp_path / "gpq"),
            require_complete_links=False,
        )
    assert not os.path.exists(tmp_path / "gpq")


@pytest.fixture(scope="module")
def full_month(spark, tmp_path_factory):
    """E1 over every day of October 2025, 2 items a day (62 URLs, one
    output file)."""
    base = str(tmp_path_factory.mktemp("e2-full-month"))
    days = [dt.date(2025, 10, d) for d in range(1, 32)]
    cmr_dir, _ = make_fixtures(base, days=days, granules_per_day=2)
    links = os.path.join(base, "links")
    written = cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, days[0], links,
        end_date=days[-1], protocol="file", fixture_dir=cmr_dir,
    )
    assert len(written) == len(days)
    return links


def test_complete_month_with_an_empty_day_passes_gate(
    spark, full_month, tmp_path
):
    """Every day's manifest is listed, so the gate passes, though one
    day's manifest is ``[]``; the other days' items are written."""
    links = str(tmp_path / "links")
    shutil.copytree(full_month, links)
    get_store(links).put_bytes(
        manifest_key(COLL_ID, dt.date(2025, 10, 17)), b"[]"
    )
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links, str(tmp_path / "gpq"),
        require_complete_links=True,
    )
    assert (result["written"], result["failed"]) == (60, 0)
    days = {
        d.day
        for d in pq.read_table(result["files"], columns=["datetime"])[
            "datetime"
        ].to_pylist()
    }
    assert days == set(range(1, 32)) - {17}


def test_gate_clips_the_origin_month(spark, tmp_path):
    """In the collection's first month the gate expects the days from
    the origin day on (HLSL30: 2013-04-11, so April 2013 has 20); the
    report lists each side sorted, first 20."""
    links = str(tmp_path / "links")
    store = get_store(links)
    for d in range(11, 31):
        store.put_bytes(manifest_key(COLL_ID, dt.date(2013, 4, d)), b"[]")
    origin_date = dt.date(2013, 4, 11)
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2013, 4, links, str(tmp_path / "gpq"),
        origin_date=origin_date,
    )
    assert result["written"] == 0
    store.put_bytes(manifest_key(COLL_ID, dt.date(2013, 4, 10)), b"[]")
    with pytest.raises(
        IncompleteInputError, match=re.escape("missing=[] unexpected=[10]")
    ):
        write_monthly_stac_geoparquet(
            spark, COLL_ID, 2013, 4, links, str(tmp_path / "gpq"),
            origin_date=origin_date,
        )
    with pytest.raises(IncompleteInputError) as err:  # no origin clip
        write_monthly_stac_geoparquet(
            spark, COLL_ID, 2013, 4, links, str(tmp_path / "gpq"),
        )
    assert str(err.value) == (
        f"expected these links: missing={list(range(1, 10))} unexpected=[]"
    )
    with pytest.raises(IncompleteInputError) as err:
        write_monthly_stac_geoparquet(
            spark, COLL_ID, 2013, 5, links, str(tmp_path / "gpq"),
        )
    assert str(err.value) == (
        f"expected these links: missing={list(range(1, 21))} unexpected=[]"
    )


def test_e2_plans_without_spark_jobs(spark, full_month, tmp_path):
    """A one-file month runs at most 2 Spark jobs (AQE's map-stage job
    for the range exchange and the write), gate included: reading,
    gating and keying the month run on the driver, so a planning
    action added back fails here."""
    sc = spark.sparkContext
    group = "test-e2-plan-shape"
    sc.setJobGroup(group, group)
    try:
        result = write_monthly_stac_geoparquet(
            spark, COLL_ID, 2025, 10, full_month, str(tmp_path / "gpq"),
            require_complete_links=True,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert result["written"] == 62 and len(result["files"]) == 1
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, jobs


def test_empty_month_writes_nothing(spark, tmp_path):
    links = str(tmp_path / "links")
    store = get_store(links)
    for day in DAYS:
        store.put_bytes(manifest_key(COLL_ID, day), b"[]")
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links, str(tmp_path / "gpq"),
        require_complete_links=False,
    )
    assert result == {"skipped": False, "written": 0, "failed": 0, "files": []}


def test_degenerate_bboxes_hoist_by_length(spark, tmp_path):
    """A STAC item whose bbox is ``[]`` hoists NULL bbox columns instead
    of failing the month (under ANSI mode ``element_at`` past the end
    raises), and a 3D bbox ``[xmin, ymin, zmin, xmax, ymax, zmax]``
    hoists its 2D extent: element 3 is zmin, not xmax."""
    cmr_dir, stac_dir = make_fixtures(
        str(tmp_path), days=DAYS[:1], granules_per_day=4
    )
    items = sorted(os.listdir(stac_dir))
    edited = {}
    for name, bbox_of in (
        (items[0], lambda b: []),
        (items[1], lambda b: [b[0], b[1], -5.0, b[2], b[3], 250.0]),
    ):
        path = os.path.join(stac_dir, name)
        with open(path) as fh:
            item = json.load(fh)
        edited[item["id"]] = item["bbox"]
        item["bbox"] = bbox_of(item["bbox"])
        with open(path, "w") as fh:
            json.dump(item, fh)
    links = str(tmp_path / "links")
    cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], links,
        protocol="file", fixture_dir=cmr_dir,
    )

    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links, str(tmp_path / "gpq"),
        require_complete_links=False,
    )
    assert (result["written"], result["failed"]) == (4, 0)
    cols = ["id", "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]
    rows = {
        r["id"]: [r[c] for c in cols[1:]]
        for r in pq.read_table(result["files"], columns=cols).to_pylist()
    }
    empty_id, id_3d = list(edited)
    assert rows[empty_id] == [None] * 4
    assert rows[id_3d] == edited[id_3d]
    for item_id, bbox in rows.items():
        if item_id not in edited:
            assert None not in bbox and bbox[0] < bbox[2] and bbox[1] < bbox[3]
