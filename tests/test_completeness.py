"""Completeness-gate tests mirroring the reference's semantics
(write.py:172-202): happy path, missing day raises, origin-month
clipping."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.operators.completeness import (
    IncompleteInputError,
    expected_days,
    require_complete,
)


def _days(spark, days):
    return spark.createDataFrame(
        [(dt.date.fromisoformat(d),) for d in days], "day date"
    )


def test_expected_days_full_month(spark):
    df = expected_days(spark, dt.date(2025, 10, 1), dt.date(2025, 10, 31))
    assert df.count() == 31


def test_origin_month_clips_start(spark):
    # HLSL30 origin 2013-04-11 (constants.py:12): April 2013 expects 20 days
    df = expected_days(
        spark, dt.date(2013, 4, 1), dt.date(2013, 4, 30), origin_date=dt.date(2013, 4, 11)
    )
    assert df.count() == 20
    assert df.agg(F.min("day")).collect()[0][0] == dt.date(2013, 4, 11)


def test_complete_passes(spark):
    exp = expected_days(spark, dt.date(2025, 1, 1), dt.date(2025, 1, 3))
    act = _days(spark, ["2025-01-01", "2025-01-02", "2025-01-03"])
    require_complete(exp, act)  # no raise


def test_missing_day_raises(spark):
    exp = expected_days(spark, dt.date(2025, 1, 1), dt.date(2025, 1, 3))
    act = _days(spark, ["2025-01-01", "2025-01-03"])
    with pytest.raises(IncompleteInputError, match="expected these links"):
        require_complete(exp, act)


def test_unexpected_day_detected(spark):
    exp = expected_days(spark, dt.date(2025, 1, 1), dt.date(2025, 1, 2))
    act = _days(spark, ["2025-01-01", "2025-01-02", "2025-01-05"])
    with pytest.raises(
        IncompleteInputError,
        match=r"missing=\[\] unexpected=\[datetime\.date\(2025, 1, 5\)\]",
    ):
        require_complete(exp, act)
