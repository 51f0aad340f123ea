"""Completeness gate — expected-vs-actual set check.

The reference builds the expected list of daily manifest paths for a
month (origin-date-aware: the collection's first month starts at the
origin day, not day 1 — write.py:180-196) and raises if the listing
differs (write.py:172-202); E2 applies that origin clip in
``plans/monthly_compact.py _require_month_days``. Here: generate the
expected keys with ``sequence`` + ``explode`` and compare the two key sets both ways
in one grouped pass (``require_complete``, one action), for a decade
of partitions as for a month. E2 compares its ≤31 listed days as
Python sets on the driver and raises the same error.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IncompleteInputError(ValueError):
    """Raised when the completeness gate finds missing/unexpected keys
    (mirrors the reference's ValueError, write.py:199-202)."""


def expected_days(
    spark: SparkSession,
    start: dt.date,
    end: dt.date,
) -> DataFrame:
    """One row per expected day in [start, end]."""
    return spark.sql(
        "SELECT explode(sequence(to_date(:lo), to_date(:hi), interval 1 day)) AS day",
        args={"lo": start.isoformat(), "hi": end.isoformat()},
    )


def require_complete(expected: DataFrame, actual: DataFrame, key: str = "day") -> None:
    """Raise IncompleteInputError unless expected == actual as sets.

    One action: both sides' keys, tagged with their side, grouped on
    the key (a full outer join as one aggregate: 2 Spark jobs where
    the join plans 3 and the two anti-join collects 5); only keys
    missing from one side come back, so the collect is bounded by the
    key count, not the row count. The report keeps the first 20 per
    side.
    """
    # side: 1 = expected only, 2 = actual only, 3 = both
    sides = (
        expected.select(key, F.lit(1).alias("side"))
        .unionByName(actual.select(key, F.lit(2).alias("side")))
        .groupBy(key)
        .agg(F.bit_or("side").alias("side"))
        .where(F.col("side") != 3)
        .collect()
    )

    def first20(side: int) -> list:
        keys = [r[key] for r in sides if r.side == side]
        return sorted(keys, key=lambda k: (k is None, k))[:20]

    miss, extra = first20(1), first20(2)
    if miss or extra:
        raise IncompleteInputError(
            f"expected these links: missing={miss} unexpected={extra}"
        )
