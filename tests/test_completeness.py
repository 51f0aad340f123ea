"""Completeness-gate tests mirroring the reference's semantics
(write.py:172-202): happy path, missing day raises, origin-month
clipping."""

from __future__ import annotations

import datetime as dt

import pytest

from hls_stac_parquet_spark.operators.completeness import (
    IncompleteInputError,
    expected_days,
    require_complete,
)
from hls_stac_parquet_spark.plans.monthly_compact import _require_month_days


def _days(spark, days):
    return spark.createDataFrame(
        [(dt.date.fromisoformat(d),) for d in days], "day date"
    )


def test_expected_days_full_month(spark):
    df = expected_days(spark, dt.date(2025, 10, 1), dt.date(2025, 10, 31))
    assert df.count() == 31


def test_origin_month_clips_start():
    # HLSL30 origin 2013-04-11 (constants.py:12): April 2013 expects
    # 20 days, 11-30; E2's gate applies the clip
    origin = dt.date(2013, 4, 11)
    _require_month_days(range(11, 31), 2013, 4, origin)  # no raise
    with pytest.raises(IncompleteInputError, match=r"unexpected=\[10\]"):
        _require_month_days(range(10, 31), 2013, 4, origin)


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
