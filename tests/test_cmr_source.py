"""CMR source (sources/cmr.py): a date range is packed into
``min(n_days, defaultParallelism)`` partitions of contiguous days,
every day keeps its own cursor pagination, and a granule that CMR
returns for two day windows is read once, on its ``time_start`` day —
in the fixture and HTTP modes, the batch and streaming readers, and
so in E1's manifests. E1's ``scan_cmr`` returns the same rows as
``format("cmr")`` and queries only the days it is given."""

from __future__ import annotations

import collections
import datetime as dt
import http.server
import json
import threading
import types
import urllib.parse

import pytest

from hls_stac_parquet_spark.model import CMR_GRANULE_SCHEMA
from hls_stac_parquet_spark.plans.daily_ingest import cache_daily_stac_json_links
from hls_stac_parquet_spark.sinks.manifest import manifest_key
from hls_stac_parquet_spark.sources.cmr import (
    CmrReader,
    CmrStreamReader,
    pack_days,
    register_cmr_source,
    scan_cmr,
)
from hls_stac_parquet_spark.store import get_store
from tests.fixtures import make_fixtures

COLL_CID = "C2021957657-LPCLOUD"
COLL_ID = "HLSL30_2.0"
OCTOBER = [dt.date(2025, 10, d).isoformat() for d in range(1, 32)]


def _entry(gid: str, start: str, end: str) -> dict:
    return {
        "id": gid,
        "title": gid,
        "collection_concept_id": COLL_CID,
        "time_start": start,
        "time_end": end,
        "links": [
            {"rel": "metadata", "href": f"https://data.example/{gid}/stac.json"}
        ],
    }


def _instant(iso: str) -> dt.datetime:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))


def _overlapping(granules: list[dict], window: str) -> list[dict]:
    """What CMR's ``temporal[]=start,end`` matches: every granule whose
    [time_start, time_end] overlaps the window, ends included."""
    start, end = (_instant(t) for t in window.split(","))
    return [
        g for g in granules
        if _instant(g["time_start"]) <= end and _instant(g["time_end"]) >= start
    ]


@pytest.fixture()
def cmr_stub():
    """A CMR search endpoint. ``pages[(day, cursor)] = (entries,
    next_cursor)`` scripts a page, keyed by the day that opens the
    request's ``temporal[]`` window and its ``cmr-search-after``
    header; an unscripted request gets every entry of ``granules``
    overlapping its window, in one page. Counts requests per key."""
    pages: dict = {}
    granules: list = []
    counts: collections.Counter = collections.Counter()
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — stdlib API name
            query = urllib.parse.urlparse(self.path).query
            window = urllib.parse.parse_qs(query)["temporal[]"][0]
            key = (window[:10], self.headers.get("cmr-search-after"))
            with lock:
                counts[key] += 1
            entries, next_cursor = pages.get(
                key, (_overlapping(granules, window), None)
            )
            body = json.dumps({"feed": {"entry": entries}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            if next_cursor:
                self.send_header("cmr-search-after", next_cursor)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # silence request logging
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield types.SimpleNamespace(
        endpoint=f"http://127.0.0.1:{srv.server_address[1]}/search",
        pages=pages,
        granules=granules,
        counts=counts,
    )
    srv.shutdown()
    srv.server_close()


def _read(spark, **options):
    register_cmr_source(spark)
    reader = spark.read.format("cmr").option("collection_concept_id", COLL_CID)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_pack_days_contiguous_and_balanced():
    for n_days in (1, 2, 4, 5, 30, 31):
        days = OCTOBER[:n_days]
        for cap in (1, 3, 4, 8, 64):
            runs = pack_days(days, cap)
            assert len(runs) == min(n_days, cap)
            assert [d for run in runs for d in run] == days
            sizes = [len(run) for run in runs]
            assert max(sizes) - min(sizes) <= 1
    assert pack_days(OCTOBER, 64) == [[d] for d in OCTOBER]
    assert pack_days([], 4) == []


def test_packed_http_scan_pages_every_day_once(spark, cmr_stub):
    """31 days over a counting CMR stub: cores-many tasks, each day's
    first page fetched once, and a two-page day follows its cursor
    inside its packed task."""
    expect = set()
    for day in OCTOBER:
        entries = [
            _entry(f"G-{day}-{i}", f"{day}T10:00:0{i}Z", f"{day}T10:01:0{i}Z")
            for i in range(2)
        ]
        cmr_stub.pages[(day, None)] = (entries, None)
        expect |= {e["id"] for e in entries}
    two_page_day = OCTOBER[14]
    extra = _entry(f"G-{two_page_day}-p2", f"{two_page_day}T20:00:00Z",
                   f"{two_page_day}T20:01:00Z")
    cmr_stub.pages[(two_page_day, None)] = (
        cmr_stub.pages[(two_page_day, None)][0], "cursor-2"
    )
    cmr_stub.pages[(two_page_day, "cursor-2")] = ([extra], None)
    expect.add(extra["id"])

    cores = spark.sparkContext.defaultParallelism
    df = _read(spark, endpoint=cmr_stub.endpoint,
               temporal_start=OCTOBER[0], temporal_end=OCTOBER[-1])
    assert df.rdd.getNumPartitions() == min(len(OCTOBER), cores)
    ids = [r.id for r in df.select("id").collect()]
    assert sorted(ids) == sorted(expect)
    assert cmr_stub.counts == collections.Counter(
        [(day, None) for day in OCTOBER] + [(two_page_day, "cursor-2")]
    )

    two = _read(spark, endpoint=cmr_stub.endpoint,
                temporal_start=OCTOBER[0], temporal_end=OCTOBER[1])
    assert two.rdd.getNumPartitions() == min(2, cores)


def test_packed_fixture_scan_equals_per_day_reads(spark, tmp_path):
    days = [dt.date.fromisoformat(d) for d in OCTOBER]
    cmr_dir, _ = make_fixtures(str(tmp_path), days=days, granules_per_day=2)
    cores = spark.sparkContext.defaultParallelism

    per_day = []
    for day in OCTOBER:
        reader = CmrReader(CMR_GRANULE_SCHEMA, {
            "fixture_dir": cmr_dir, "collection_concept_id": COLL_CID,
            "temporal_start": day, "temporal_end": day,
        })
        (part,) = reader.partitions()
        per_day.extend(reader.read(part))
    assert len(per_day) == 2 * len(OCTOBER)

    ranged = _read(spark, fixture_dir=cmr_dir,
                   temporal_start=OCTOBER[0], temporal_end=OCTOBER[-1])
    listed = _read(spark, fixture_dir=cmr_dir)  # no range: one run per file
    for df in (ranged, listed):
        assert df.rdd.getNumPartitions() == min(len(OCTOBER), cores)
        assert sorted(map(tuple, df.collect()), key=repr) == sorted(
            per_day, key=repr
        )


D0, D1 = dt.date(2025, 10, 1), dt.date(2025, 10, 2)
# what CMR holds around the midnight between D0 and D1
FIRST = _entry("G-first", "2025-10-01T12:00:00Z", "2025-10-01T12:01:00Z")
SPANNING = _entry("G-span", "2025-10-01T23:59:50Z", "2025-10-02T00:00:30Z")
# starts in D0's last second: past a window that ends at 23:59:59
LATE = _entry("G-late", "2025-10-01T23:59:59.500Z", "2025-10-02T00:00:20Z")
AT_MIDNIGHT = _entry("G-midnight", "2025-10-02T00:00:00Z",
                     "2025-10-02T00:00:40Z")
SECOND = _entry("G-second", "2025-10-02T12:00:00Z", "2025-10-02T12:01:00Z")
MIDNIGHT_GRANULES = [FIRST, SPANNING, LATE, AT_MIDNIGHT, SECOND]
ON_D0 = [FIRST, SPANNING, LATE]
ON_D1 = [AT_MIDNIGHT, SECOND]


def _ids(rows) -> list[str]:
    at = CMR_GRANULE_SCHEMA.fieldNames().index("id")
    return sorted(r[at] for r in rows)


def test_fixture_and_http_modes_agree_across_midnight(spark, cmr_stub,
                                                      tmp_path):
    """Day fixtures recorded from CMR's own day queries and the live
    HTTP scan return the same rows: each granule once, on its
    ``time_start`` day."""
    cmr_stub.granules.extend(MIDNIGHT_GRANULES)
    cmr_dir = tmp_path / "cmr"
    cmr_dir.mkdir()
    for day in (D0, D1):
        window = f"{day}T00:00:00Z,{day + dt.timedelta(days=1)}T00:00:00Z"
        entries = _overlapping(MIDNIGHT_GRANULES, window)
        (cmr_dir / f"{day}.json").write_text(
            json.dumps({"feed": {"entry": entries}})
        )

    span = {"temporal_start": D0.isoformat(), "temporal_end": D1.isoformat()}
    over_http = _read(spark, endpoint=cmr_stub.endpoint, **span).collect()
    from_fixtures = _read(spark, fixture_dir=str(cmr_dir), **span).collect()
    assert _ids(over_http) == sorted(g["id"] for g in MIDNIGHT_GRANULES)
    assert sorted(map(tuple, over_http), key=repr) == sorted(
        map(tuple, from_fixtures), key=repr
    )


def test_stream_endpoint_batch_reads_spanning_granule_once(cmr_stub):
    """One endpoint-mode microbatch covering both days yields each
    granule once."""
    cmr_stub.granules.extend(MIDNIGHT_GRANULES)
    reader = CmrStreamReader(CMR_GRANULE_SCHEMA, {
        "endpoint": cmr_stub.endpoint,
        "start_day": D0.isoformat(),
        "clock_today": (D1 + dt.timedelta(days=1)).isoformat(),
    })
    rows, end = reader.read(reader.initialOffset())
    assert end == {"next_day": "2025-10-03"}
    assert _ids(rows) == sorted(g["id"] for g in MIDNIGHT_GRANULES)


def test_granule_spanning_midnight_written_once(spark, cmr_stub, tmp_path):
    """CMR returns a granule overlapping both day windows for both
    days; E1 files it under its ``time_start`` day, once."""
    cmr_stub.granules.extend(MIDNIGHT_GRANULES)
    dest = str(tmp_path / "links")
    written = cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, D0, dest, end_date=D1,
        protocol="https", endpoint=cmr_stub.endpoint,
    )
    assert len(written) == 2
    store = get_store(dest)
    for day, on_day in ((D0, ON_D0), (D1, ON_D1)):
        manifest = json.loads(
            store.get_bytes(manifest_key(COLL_ID, day)).decode()
        )
        assert manifest == sorted(g["links"][0]["href"] for g in on_day)


def test_scan_cmr_matches_format_cmr(spark, cmr_stub, tmp_path):
    """E1's scan and the Data Source return the same rows in as many
    partitions, from day fixtures and, across midnight, over HTTP."""
    days = [dt.date.fromisoformat(d) for d in OCTOBER]
    cmr_dir, _ = make_fixtures(str(tmp_path), days=days, granules_per_day=2)
    cmr_stub.granules.extend(MIDNIGHT_GRANULES)
    span = [D0.isoformat(), D1.isoformat()]
    cases = [
        (OCTOBER, {"fixture_dir": cmr_dir}),
        (span, {"endpoint": cmr_stub.endpoint}),
    ]
    for scan_days, source in cases:
        via_source = _read(spark, temporal_start=scan_days[0],
                           temporal_end=scan_days[-1], **source)
        via_scan = scan_cmr(spark, scan_days,
                            {"collection_concept_id": COLL_CID, **source})
        assert via_scan.schema == via_source.schema
        assert (via_scan.rdd.getNumPartitions()
                == via_source.rdd.getNumPartitions())
        got = sorted(map(tuple, via_scan.collect()), key=repr)
        assert got == sorted(map(tuple, via_source.collect()), key=repr)
        assert len(got) == (2 * len(OCTOBER) if "fixture_dir" in source
                            else len(MIDNIGHT_GRANULES))


def test_e1_pages_every_day_once_in_cores_many_tasks(spark, cmr_stub,
                                                     tmp_path):
    """31 days through E1 over a counting CMR stub: one scan task per
    core, each day's first page fetched once, a two-page day follows
    its cursor, and every day gets its manifest."""
    for day in OCTOBER:
        cmr_stub.pages[(day, None)] = ([
            _entry(f"G-{day}-{i}", f"{day}T10:00:0{i}Z", f"{day}T10:01:0{i}Z")
            for i in range(2)
        ], None)
    two_page_day = OCTOBER[14]
    cmr_stub.pages[(two_page_day, None)] = (
        cmr_stub.pages[(two_page_day, None)][0], "cursor-2"
    )
    cmr_stub.pages[(two_page_day, "cursor-2")] = ([_entry(
        f"G-{two_page_day}-p2", f"{two_page_day}T20:00:00Z",
        f"{two_page_day}T20:01:00Z",
    )], None)

    sc = spark.sparkContext
    sc.setJobGroup("e1-scan-tasks", "E1 over the CMR stub")
    try:
        written = cache_daily_stac_json_links(
            spark, COLL_CID, COLL_ID, dt.date(2025, 10, 1),
            str(tmp_path / "links"), end_date=dt.date(2025, 10, 31),
            endpoint=cmr_stub.endpoint,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(written) == len(OCTOBER)
    assert cmr_stub.counts == collections.Counter(
        [(day, None) for day in OCTOBER] + [(two_page_day, "cursor-2")]
    )
    tracker = sc.statusTracker()
    stages = [
        s for j in tracker.getJobIdsForGroup("e1-scan-tasks")
        for s in tracker.getJobInfo(j).stageIds
    ]
    scan_stage = tracker.getStageInfo(min(stages))
    assert scan_stage.numTasks == min(len(OCTOBER), sc.defaultParallelism)
    manifest = json.loads(get_store(str(tmp_path / "links")).get_bytes(
        manifest_key(COLL_ID, dt.date.fromisoformat(two_page_day))
    ).decode())
    assert len(manifest) == 3


def test_e1_queries_only_uncached_days(spark, cmr_stub, tmp_path):
    """With the middle day of three cached, E1 writes the other two and
    sends the catalog no request for the cached one."""
    days = [D0, D1, D1 + dt.timedelta(days=1)]
    for day in days:
        cmr_stub.granules.append(_entry(
            f"G-{day}", f"{day}T12:00:00Z", f"{day}T12:01:00Z"
        ))
    dest = str(tmp_path / "links")

    def e1(start, end):
        return cache_daily_stac_json_links(
            spark, COLL_CID, COLL_ID, start, dest, end_date=end,
            endpoint=cmr_stub.endpoint,
        )

    assert len(e1(D1, D1)) == 1
    cmr_stub.counts.clear()
    written = e1(days[0], days[-1])
    assert sorted(written) == sorted(
        get_store(dest).full_url(manifest_key(COLL_ID, d))
        for d in (days[0], days[2])
    )
    assert cmr_stub.counts == collections.Counter(
        [(days[0].isoformat(), None), (days[2].isoformat(), None)]
    )


def test_e1_drops_other_collections_from_the_endpoint(spark, cmr_stub,
                                                      tmp_path):
    """E1 files only the requested collection's granules, even when the
    endpoint returns another collection's too."""
    other = _entry("G-other", "2025-10-01T08:00:00Z", "2025-10-01T08:01:00Z")
    other["collection_concept_id"] = "C-OTHER"
    cmr_stub.granules.extend([FIRST, other])
    dest = str(tmp_path / "links")
    cache_daily_stac_json_links(spark, COLL_CID, COLL_ID, D0, dest,
                                endpoint=cmr_stub.endpoint)
    manifest = json.loads(
        get_store(dest).get_bytes(manifest_key(COLL_ID, D0)).decode()
    )
    assert manifest == [FIRST["links"][0]["href"]]
