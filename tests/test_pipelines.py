"""E1/E2 end-to-end tests — the Spark re-expression of the
reference's 4 workflow tests (tests/test_workflow.py), offline via
synthesized fixtures + file:// transport (the reference reads tmpdir
fixtures the same way)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.operators.completeness import (
    IncompleteInputError,
    expected_days,
    require_complete,
)
from hls_stac_parquet_spark.plans.daily_ingest import (
    cache_daily_stac_json_links,
    extract_stac_json_links,
)
from hls_stac_parquet_spark.plans.monthly_compact import write_monthly_stac_geoparquet
from hls_stac_parquet_spark.sinks.manifest import manifest_key, read_manifests
from hls_stac_parquet_spark.sources.cmr import register_cmr_source
from tests.fixtures import make_fixtures

COLL_CID = "C2021957657-LPCLOUD"
COLL_ID = "HLSL30_2.0"
DAYS = [dt.date(2025, 10, d) for d in (1, 2, 3)]


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("e2e")
    cmr_dir, stac_dir = make_fixtures(
        str(base), days=DAYS, granules_per_day=6, broken_stac_urls=1
    )
    return {"base": str(base), "cmr": cmr_dir, "stac": stac_dir}


def _granules(spark, fx):
    register_cmr_source(spark)
    return (
        spark.read.format("cmr")
        .option("fixture_dir", fx["cmr"])
        .option("collection_concept_id", COLL_CID)
        .load()
    )


# 1 — mirror test_collect_stac_json_links: every link ends stac.json
def test_extract_stac_json_links(spark, fx):
    links = extract_stac_json_links(_granules(spark, fx), protocol="file")
    urls = [r.url for r in links.select("url").collect()]
    assert len(urls) == 18  # 6 granules × 3 days (malformed rows survive: href list has valid entry)
    assert all(u.endswith("stac.json") for u in urls)
    assert all(u.startswith("file://") for u in urls)
    s3 = extract_stac_json_links(_granules(spark, fx), protocol="s3")
    assert all(
        r.url.startswith("s3://") for r in s3.select("url").collect()
    )


def test_extract_stac_json_links_drops_linkless_granules(spark, fx):
    """A granule with no stac.json link of the requested protocol (no
    links at all, or only the s3:// twin) drops out via NULL, and the
    others come through. Under ANSI mode ``element_at`` on the empty
    match array raises and would fail the whole run."""
    granules = _granules(spark, fx)
    links_type = granules.schema["links"].dataType
    empty = granules.limit(1).select(
        *[c for c in granules.columns if c not in ("id", "links")],
        F.lit("G-no-links").alias("id"),
        F.array().cast(links_type).alias("links"),
    )
    s3_only = granules.limit(1).select(
        *[c for c in granules.columns if c not in ("id", "links")],
        F.lit("G-s3-only").alias("id"),
        F.filter("links", lambda l: l["href"].startswith("s3://")).alias("links"),
    )
    mixed = granules.unionByName(empty).unionByName(s3_only)

    got = extract_stac_json_links(mixed, protocol="file").select("id", "url")
    want = extract_stac_json_links(granules, protocol="file").select("id", "url")
    assert sorted(got.collect()) == sorted(want.collect())
    assert len(want.collect()) == 18


# 2+3 — mirror write/cache round-trip: manifest at templated path,
# set-equality on re-read
def test_cache_daily_links_roundtrip(spark, fx, tmp_path):
    dest = str(tmp_path / "links-dest")
    written = cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], dest,
        end_date=DAYS[-1], protocol="file", fixture_dir=fx["cmr"],
    )
    assert len(written) == 3
    expect = os.path.join(dest, manifest_key(COLL_ID, DAYS[0]))
    assert os.path.exists(expect)
    with open(expect) as f:
        urls = json.load(f)
    assert len(urls) == 6 and all(u.endswith("stac.json") for u in urls)

    # spark-side re-read sees the path keys as columns
    m = read_manifests(spark, dest, COLL_ID, 2025, 10)
    assert {r.day for r in m.collect()} == {1, 2, 3}

    # idempotent: second run writes nothing (A9)
    again = cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], dest,
        end_date=DAYS[-1], protocol="file", fixture_dir=fx["cmr"],
    )
    assert again == []


# 4 — mirror test_write_monthly_stac_geoparquet: happy path + raises
def test_write_monthly_geoparquet(spark, fx, tmp_path):
    links_dest = str(tmp_path / "links")
    out_dest = str(tmp_path / "gpq")
    cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], links_dest,
        end_date=DAYS[-1], protocol="file", fixture_dir=fx["cmr"],
    )
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links_dest, out_dest,
        require_complete_links=False,  # only 3 of 31 days cached
    )
    assert result["written"] == 15  # 18 links - 3 dead-lettered
    assert result["failed"] == 3
    assert result["files"]

    # read back: rows carry clustering key, geometry WKB, assets map
    df = spark.read.parquet(
        os.path.join(out_dest, "v1", COLL_ID, "year=2025", "month=10")
    )
    assert df.count() == 15
    row = df.filter(F.col("mgrs_tile") == "15TWN").collect()[0]
    assert row.hilbert_idx is not None
    assert row.geometry[:5] == b"\x01\x03\x00\x00\x00"  # LE WKB Polygon
    assert "B01" in row.assets

    # hilbert clustering: per-file key ranges are disjoint & ordered
    pfiles = sorted(result["files"])
    ranges = []
    for p in result["files"]:
        t = pq.read_table(p, columns=["hilbert_idx"])
        vals = t["hilbert_idx"].to_pylist()
        assert vals == sorted(vals)  # sorted within file
        ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # total order across files

    # GeoParquet footer metadata present
    meta = pq.read_schema(result["files"][0]).metadata
    geo = json.loads(meta[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert geo["columns"]["geometry"]["encoding"] == "WKB"

    # skip-existing (A9): immediate re-run is a no-op
    again = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links_dest, out_dest,
        require_complete_links=False,
    )
    assert again["skipped"] is True


def test_monthly_completeness_gate_raises(spark, fx, tmp_path):
    links_dest = str(tmp_path / "links")
    # cache only 2 of the 3 expected days
    cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], links_dest,
        end_date=DAYS[1], protocol="file", fixture_dir=fx["cmr"],
    )
    with pytest.raises(IncompleteInputError, match="expected these links"):
        write_monthly_stac_geoparquet(
            spark, COLL_ID, 2025, 10, links_dest, str(tmp_path / "gpq"),
            require_complete_links=True,
        )


def test_completeness_gate_reports_both_sides_sorted_and_capped(spark):
    # one action finds both sides; each is reported sorted, first 20
    exp = expected_days(spark, dt.date(2025, 1, 1), dt.date(2025, 2, 9))
    act = spark.createDataFrame(
        [(dt.date(2025, 3, 1),), (dt.date(2025, 1, 1),)], "day date"
    )
    with pytest.raises(IncompleteInputError) as err:
        require_complete(exp, act)
    missing = [dt.date(2025, 1, 2) + dt.timedelta(days=d) for d in range(20)]
    assert str(err.value) == (
        f"expected these links: missing={missing} "
        f"unexpected={[dt.date(2025, 3, 1)]}"
    )


def test_cmr_source_pushdown_plan(spark, fx):
    """Catalyst pushes the collection filter into the source: the
    post-scan Filter disappears for the pushed predicate."""
    register_cmr_source(spark)
    df = (
        spark.read.format("cmr")
        .option("fixture_dir", fx["cmr"])
        .load()
        .filter(F.col("collection_concept_id") == COLL_CID)
    )
    assert df.count() == 18
    # wrong collection pushed down → source returns nothing
    none = (
        spark.read.format("cmr")
        .option("fixture_dir", fx["cmr"])
        .load()
        .filter(F.col("collection_concept_id") == "C000-NOPE")
    )
    assert none.count() == 0
