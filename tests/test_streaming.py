"""Structured Streaming tests for the CMR day-cursor source
(``sources/cmr.py CmrStreamReader``, the CLI's ``stream-daily-ingest``):
fixture and endpoint modes, and kill-and-resume exactly-once manifests."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(autouse=True)
def _no_leaked_queries(spark):
    """Stop any streaming query a test leaves running.

    Every awaitTermination in this file is bounded; under full-suite
    CPU contention a bound can expire while the query is still active,
    and a leaked AvailableNow query keeps firing batches against the
    shared session. Stopping leftovers after each test bounds the
    blast radius of a slow run to that one test."""
    yield
    for q in spark.streams.active:
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception:
            pass


def test_cmr_stream_source_incremental_days(spark, tmp_path):
    """The CMR streaming source's offset is a day cursor: the first
    availableNow drain consumes every fixture day; a newly published
    day file is consumed alone on the next trigger (exactly-once —
    the checkpoint replaces the reference's skip-existing HEAD probe,
    links.py:100-103)."""
    import datetime as dt

    from hls_stac_parquet_spark.sources.cmr import register_cmr_source
    from tests.fixtures import make_fixtures

    register_cmr_source(spark)
    cmr_dir, _ = make_fixtures(
        str(tmp_path),
        days=[dt.date(2025, 10, 1), dt.date(2025, 10, 2)],
        granules_per_day=3,
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("cmr")
            .option("fixture_dir", cmr_dir)
            .load()
            .select("id", "title", "time_start")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert got.select("id").distinct().count() == 3  # ids repeat per day

    # a new day is published; only it is ingested on the next trigger
    make_fixtures(
        str(tmp_path), days=[dt.date(2025, 10, 3)], granules_per_day=3
    )
    drain()
    assert spark.read.parquet(out).count() == 9
    days = {
        r.time_start[:10]
        for r in spark.read.parquet(out).select("time_start").collect()
    }
    assert days == {"2025-10-01", "2025-10-02", "2025-10-03"}


def test_cmr_stream_endpoint_mode_polls_complete_days(spark, tmp_path):
    """Endpoint-mode streaming: the day cursor advances over COMPLETE
    UTC days only, each day fetched via the batch reader's paginated
    HTTP scan against a local catalog server; a later trigger (with
    the pinned clock advanced) consumes exactly the newly completed
    day. This is the reference's live E3 daily feed as a Structured
    Streaming source (infrastructure/lambda/batch_publisher.py:121-169)."""
    import http.server
    import json as _json
    import threading
    import urllib.parse

    from hls_stac_parquet_spark.sources.cmr import register_cmr_source

    calls = []

    class _CatalogHandler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            temporal = q.get("temporal[]", [""])[0]
            day = temporal[:10]
            calls.append(day)
            entries = [
                {
                    "id": f"G{day}-{i}",
                    "title": f"granule {i}",
                    "collection_concept_id": "C2021957657-LPCLOUD",
                    "time_start": f"{day}T00:0{i}:00.000Z",
                    "time_end": f"{day}T00:0{i}:30.000Z",
                }
                for i in range(2)
            ]
            body = _json.dumps({"feed": {"entry": entries}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CatalogHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{srv.server_address[1]}/search/granules.json"
    try:
        register_cmr_source(spark)
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

        def drain(today):
            q = (
                spark.readStream.format("cmr")
                .option("endpoint", endpoint)
                .option("start_day", "2025-10-01")
                .option("clock_today", today)
                .load()
                .select("id", "title", "time_start")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # today = Oct 3 → Oct 1 and Oct 2 are complete; Oct 3 is not
        drain("2025-10-03")
        got = spark.read.parquet(out)
        assert got.count() == 4
        days = {r.time_start[:10] for r in got.select("time_start").collect()}
        assert days == {"2025-10-01", "2025-10-02"}

        # clock advances one day → exactly Oct 3 is consumed next
        drain("2025-10-04")
        got = spark.read.parquet(out)
        assert got.count() == 6
        days = {r.time_start[:10] for r in got.select("time_start").collect()}
        assert days == {"2025-10-01", "2025-10-02", "2025-10-03"}
        assert set(calls) == {"2025-10-01", "2025-10-02", "2025-10-03"}
    finally:
        srv.shutdown()


def test_cmr_stream_endpoint_mode_requires_start_day(spark):
    import pytest

    from hls_stac_parquet_spark.sources.cmr import CmrStreamReader
    from hls_stac_parquet_spark.model import CMR_GRANULE_SCHEMA

    with pytest.raises(ValueError, match="start_day"):
        CmrStreamReader(CMR_GRANULE_SCHEMA, {"endpoint": "http://x/search"})


def test_cmr_stream_kill_and_resume_exactly_once_manifests(spark, tmp_path):
    """Round-3 verdict item 8: kill the CMR day-cursor stream mid-run
    (crash injected AFTER the manifest write, BEFORE the offset
    commit — the worst-case failure point) and resume from the same
    checkpoint. Proof obligations:

    - the crashed batch is REPLAYED on restart (readBetweenOffsets
      over the committed day range — at-least-once delivery), and
    - the manifest sink's idempotent full-overwrite + skip-existing
      makes the end state exactly-once: every day written once,
      correct content, no duplicates, and the already-committed batch
      0 is NOT reprocessed.
    """
    from hls_stac_parquet_spark.plans.daily_ingest import extract_stac_json_links
    from hls_stac_parquet_spark.sinks.manifest import write_manifests
    from hls_stac_parquet_spark.sources.cmr import register_cmr_source
    from tests.fixtures import make_fixtures

    register_cmr_source(spark)
    days = [dt.date(2025, 10, d) for d in (1, 2, 3)]
    cmr_dir, _ = make_fixtures(str(tmp_path), days=days, granules_per_day=3)
    ckpt, dest = str(tmp_path / "ckpt"), str(tmp_path / "manifests")

    seen_batches: list[tuple[int, int]] = []  # (batch_id, rows) per call
    crash_armed = {"on": True}

    def sink(batch_df, batch_id: int) -> None:
        links = extract_stac_json_links(batch_df, protocol="file")
        day_rows = links.select(
            F.lit("HLSL30_2.0").alias("collection_id"),
            F.to_date(F.substring("time_start", 1, 10)).alias("date"),
            "url",
        )
        write_manifests(day_rows, dest, skip_existing=False)
        seen_batches.append((batch_id, batch_df.count()))
        if crash_armed["on"] and batch_id == 1:
            raise RuntimeError("injected crash after write, before commit")

    def run():
        # one availableNow trigger = one day-sized microbatch here
        # (max_days_per_batch=1), so each run() is one "job"
        q = (
            spark.readStream.format("cmr")
            .option("fixture_dir", cmr_dir)
            .option("max_days_per_batch", 1)  # one day per microbatch
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # 600 s: on a loaded host (parallel Spark JVMs) the availableNow
        # run can outlive 120 s, and returning early makes the batch
        # asserts below fail spuriously — the timeout is a hang guard,
        # not a performance assertion
        finished = q.awaitTermination(600)
        assert finished or q.exception() is not None, (
            "stream did not terminate within the hang guard"
        )
        return q

    from pyspark.errors.exceptions.captured import StreamingQueryException

    run()  # batch 0 (day 1) commits
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run()  # batch 1 (day 2) writes its manifest, then dies
    assert [b for b, _ in seen_batches] == [0, 1]
    assert len(os.listdir(os.path.join(
        dest, "links", "HLSL30_2.0", "2025", "10"))) == 2

    crash_armed["on"] = False
    run()  # resume from the SAME checkpoint → replay batch 1
    run()  # → batch 2 (day 3)

    # batch 1 replayed (not batch 0), then the cursor advanced
    replayed = [b for b, _ in seen_batches[2:]]
    assert replayed == [1, 2], replayed
    assert 0 not in replayed, "committed batch must NOT reprocess"

    # end state exactly-once: all 3 day manifests, correct content
    month_dir = os.path.join(dest, "links", "HLSL30_2.0", "2025", "10")
    files = sorted(os.listdir(month_dir))
    assert files == [f"2025-10-0{d}.json" for d in (1, 2, 3)]
    for f in files:
        with open(os.path.join(month_dir, f)) as fh:
            urls = json.load(fh)
        assert len(urls) == 3, f  # granules_per_day, no duplicates
        assert len(set(urls)) == 3, f
