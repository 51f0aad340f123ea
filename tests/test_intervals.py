"""Grid-bucketized interval-overlap join: exactness independent of
grid width, verified against the naive quadratic inequality join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.operators import intervals
from hls_stac_parquet_spark.operators.intervals import interval_overlap_join
from hls_stac_parquet_spark.queries.registry import t
from tests.conftest import SF0001


def _windows(spark, etype):
    ev = t(spark, SF0001, "events")
    return ev.filter(F.col("event_type") == etype).select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND", F.floor(F.col("value") * 60).cast("long"), F.col("ts")
        ).alias("e"),
    )


def _naive(left, right):
    r = right.select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("r_event_id"),
        F.col("s").alias("r_s"),
        F.col("e").alias("r_e"),
    )
    overlap = F.timestamp_diff(
        "MICROSECOND",
        F.greatest("s", "r_s"),
        F.least("e", "r_e"),
    )
    return (
        left.join(r, left.user_id == r.r_user_id)
        .filter(overlap > 0)
        .select("event_id", "r_event_id", overlap.alias("overlap_us"))
    )


@pytest.mark.parametrize("grid_seconds", [600, 3600, 86400])
def test_grid_matches_naive_quadratic(spark, monkeypatch, grid_seconds):
    monkeypatch.setattr(intervals, "GRID_SECONDS", grid_seconds)
    left = _windows(spark, "purchase")
    right = _windows(spark, "error")
    grid = interval_overlap_join(left, right, by=["user_id"]).select(
        "event_id", "r_event_id", "overlap_us"
    )
    naive = _naive(left, right)
    assert grid.count() == naive.count()
    assert grid.exceptAll(naive).count() == 0
    assert naive.exceptAll(grid).count() == 0


def test_no_cartesian_in_plan(spark):
    left = _windows(spark, "purchase")
    right = _windows(spark, "error")
    plan = (
        interval_overlap_join(left, right, by=["user_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
