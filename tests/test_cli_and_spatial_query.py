"""CLI command tests (reference cli.py parity) + the spatial query
read path over clustered output."""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.cli import main as cli_main
from hls_stac_parquet_spark.plans import spatial_query
from hls_stac_parquet_spark.plans.spatial_query import bbox_query
from tests.fixtures import make_fixtures

DAYS = [dt.date(2025, 10, d) for d in (1, 2, 3)]


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    cmr_dir, _ = make_fixtures(str(base), days=DAYS, granules_per_day=6)
    links = str(base / "links")
    gpq = str(base / "gpq")
    rc = cli_main([
        "cache-daily-stac-json-links", "HLSL30", "2025-10-01", links,
        "--end-date", "2025-10-03", "--protocol", "file",
        "--fixture-dir", cmr_dir,
    ])
    assert rc == 0
    rc = cli_main([
        "write-monthly-stac-geoparquet", "HLSL30", "2025-10", links, gpq,
        "--no-require-complete",
    ])
    assert rc == 0
    return {"links": links, "gpq": gpq, "cmr": cmr_dir, "base": str(base)}


def test_cli_wrote_manifests_and_parquet(pipeline_out):
    assert os.path.exists(
        os.path.join(pipeline_out["links"], "links", "HLSL30_2.0", "2025", "10",
                     "2025-10-01.json")
    )
    assert os.path.isdir(
        os.path.join(pipeline_out["gpq"], "v1", "HLSL30_2.0", "year=2025",
                     "month=10")
    )


def test_cli_backfill_skips_cached_days(pipeline_out, capsys):
    rc = cli_main([
        "backfill", "HLSL30", pipeline_out["links"],
        "--start-date", "2025-10-01", "--end-date", "2025-10-03",
        "--protocol", "file", "--fixture-dir", pipeline_out["cmr"],
    ])
    assert rc == 0
    assert "backfilled 0 manifests" in capsys.readouterr().out


MINNESOTA = (-95.0, 45.0, -90.0, 48.0)
WORLD = (-180.0, -90.0, 180.0, 90.0)


def test_bbox_query_prunes_and_filters(spark, pipeline_out, monkeypatch):
    # the Spark tier's plan: the fixture month is far under the
    # driver tier's byte bound, so force the scan
    monkeypatch.setattr(spatial_query, "DRIVER_READ_MAX_BYTES", 0)
    # the 15TWN/15TWM fixtures sit near (-92.3, 46.5..47.4); a bbox
    # around Minnesota must return exactly those tiles
    df = bbox_query(
        spark, pipeline_out["gpq"], "HLSL30_2.0", MINNESOTA,
        year=2025, month=10,
    )
    tiles = {r.mgrs_tile for r in df.select("mgrs_tile").distinct().collect()}
    assert tiles == {"15TWN", "15TWM"}
    # partition pruning reaches the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # bbox conjuncts reach the parquet scan as pushed filters
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1]
    assert "bbox_xmin" in pushed


def test_bbox_query_empty_region(spark, pipeline_out):
    df = bbox_query(
        spark, pipeline_out["gpq"], "HLSL30_2.0", (0.0, -10.0, 10.0, 0.0)
    )
    assert df.count() == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both_tiers(spark, monkeypatch, dest, bbox, **kw):
    """(driver-tier, Spark-tier) answers of one bbox query."""
    driver = bbox_query(spark, dest, "HLSL30_2.0", bbox, **kw)
    with monkeypatch.context() as m:
        m.setattr(spatial_query, "DRIVER_READ_MAX_BYTES", 0)
        scan = bbox_query(spark, dest, "HLSL30_2.0", bbox, **kw)
    assert "FileScan" not in _plan(driver)
    assert "FileScan" in _plan(scan)
    return driver, scan


def _assert_same(a, b) -> None:
    assert a.schema == b.schema
    # set operations reject map columns: compare assets as sorted entries
    a, b = (df.withColumn("assets", F.array_sort(F.map_entries("assets")))
            for df in (a, b))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("bbox,year,month,n_min", [
    (MINNESOTA, 2025, 10, 1),
    (WORLD, None, None, 18),
    (WORLD, 2025, None, 18),
    ((0.0, -10.0, 10.0, 0.0), None, None, 0),
])
def test_tiers_agree(spark, pipeline_out, monkeypatch, bbox, year, month, n_min):
    driver, scan = _both_tiers(
        spark, monkeypatch, pipeline_out["gpq"], bbox, year=year, month=month
    )
    assert driver.count() >= n_min
    _assert_same(driver, scan)


def test_small_month_reads_on_driver(spark, pipeline_out):
    df = bbox_query(
        spark, pipeline_out["gpq"], "HLSL30_2.0", MINNESOTA, year=2025, month=10
    )
    assert "FileScan" not in _plan(df)
    assert {r.mgrs_tile for r in df.collect()} == {"15TWN", "15TWM"}


def _fixture_file(pipeline_out) -> str:
    (path,) = glob.glob(os.path.join(
        pipeline_out["gpq"], "v1", "HLSL30_2.0", "year=2025", "month=10",
        "*.parquet"))
    return path


def test_tiers_find_unpadded_reference_month(spark, pipeline_out, monkeypatch,
                                             tmp_path):
    # the reference layout writes month=9, not month=09
    month_dir = tmp_path / "v1" / "HLSL30_2.0" / "year=2025" / "month=9"
    month_dir.mkdir(parents=True)
    shutil.copy(_fixture_file(pipeline_out), month_dir / "HLSL30_2.0-2025-9.parquet")
    driver, scan = _both_tiers(
        spark, monkeypatch, str(tmp_path), WORLD, year=2025, month=9
    )
    assert driver.count() == 18
    _assert_same(driver, scan)


def test_tiers_agree_on_nan_and_null_bbox(spark, pipeline_out, monkeypatch,
                                          tmp_path):
    t = pq.read_table(_fixture_file(pipeline_out))
    xmin = t.column("bbox_xmin").to_pylist()
    xmax = t.column("bbox_xmax").to_pylist()
    ids = t.column("id").to_pylist()
    xmax[0], xmin[1] = math.nan, None
    for name, vals in (("bbox_xmin", xmin), ("bbox_xmax", xmax)):
        t = t.set_column(t.schema.get_field_index(name), name,
                         pa.array(vals, pa.float64()))
    month_dir = tmp_path / "v1" / "HLSL30_2.0" / "year=2025" / "month=10"
    month_dir.mkdir(parents=True)
    pq.write_table(t, month_dir / "degenerate.parquet")
    # east of every finite bbox_xmax: the footer statistics (which
    # leave NaN out) let the Spark scan skip the whole row group
    east = (max(x for x in xmax if not math.isnan(x)) + 1.0, -90.0, 180.0, 90.0)
    for bbox, n in ((WORLD, 16), (east, 0)):
        driver, scan = _both_tiers(spark, monkeypatch, str(tmp_path), bbox)
        got = sorted(r.id for r in driver.select("id").collect())
        assert got == sorted(r.id for r in scan.select("id").collect())
        assert len(got) == n
        assert ids[0] not in got and ids[1] not in got


def test_bbox_query_rejects_nan_bounds(spark, pipeline_out):
    with pytest.raises(ValueError, match="without NaN"):
        bbox_query(spark, pipeline_out["gpq"], "HLSL30_2.0",
                   (math.nan, 0.0, 1.0, 1.0))


def test_spark_unreadable_store_is_a_clear_error(spark):
    """An S3 store on a cluster without hadoop-aws: the reader refuses
    before making any request (the local endpoint is never contacted)."""
    from hls_stac_parquet_spark.sources.s3store import S3Store
    from hls_stac_parquet_spark.store import (
        _SCHEME_FACTORIES,
        register_store_scheme,
    )

    register_store_scheme(
        "s3", lambda url: S3Store(url, endpoint="http://127.0.0.1:9",
                                  spark_readable=False),
    )
    try:
        with pytest.raises(ValueError, match="needs a Spark-readable store"):
            bbox_query(spark, "s3://gpq-unreadable", "HLSL30_2.0", WORLD)
    finally:
        _SCHEME_FACTORIES.pop("s3", None)


def test_read_back_clustered_order_within_files(spark, pipeline_out):
    df = bbox_query(spark, pipeline_out["gpq"], "HLSL30_2.0", WORLD)
    assert df.count() > 0
    assert "hilbert_idx" in df.columns


def test_cli_sql_adhoc(capsys):
    from hls_stac_parquet_spark.cli import main as cli_main

    rc = cli_main([
        "sql",
        "SELECT count(*) AS n FROM region",
        "--sf-dir", "/root/testdata/sf0.001",
    ])
    assert rc == 0
    assert "5" in capsys.readouterr().out


def test_cli_run_query_by_name(capsys, tmp_path):
    from hls_stac_parquet_spark.cli import main as cli_main

    out = str(tmp_path / "res")
    rc = cli_main([
        "run-query", "q_distinct",
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", out,
    ])
    assert rc == 0
    assert "wrote" in capsys.readouterr().out
    # unknown name is a clean error, not a traceback
    assert cli_main(["run-query", "q_nope"]) == 2
