"""As-of join semantics on a hand-checkable fixture."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from hls_stac_parquet_spark.operators.asof import asof_join


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 2, 3],
                "ts": [_ts(5), _ts(10), _ts(20), _ts(7), _ts(1)],
                "l_val": ["a", "b", "c", "d", "e"],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 2, 2],
                "ts": [_ts(4), _ts(10), _ts(7), _ts(9)],
                "r_val": [40, 100, 70, 90],
            }
        )
    )
    return left, right


def test_asof_backward_inclusive(sides):
    left, right = sides
    out = {
        (r.k, r.ts): (r.r_val, r.matched_ts)
        for r in asof_join(left, right, by=["k"]).collect()
    }
    assert len(out) == 5  # every left row survives (left-outer)
    assert out[(1, _ts(5))] == (40, _ts(4))  # latest ts<=5 is 4
    assert out[(1, _ts(10))] == (100, _ts(10))  # inclusive: equal ts matches
    assert out[(1, _ts(20))] == (100, _ts(10))
    assert out[(2, _ts(7))] == (70, _ts(7))  # not the later ts=9 row
    assert out[(3, _ts(1))] == (None, None)  # key with no right rows


def test_asof_null_payload_carried_as_unit(spark):
    """A NULL payload field in the MATCHED right row must stay NULL —
    not be back-filled from an older right row (the per-column
    carry-forward bug: mixed rows that never existed)."""
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": [_ts(20)], "l_val": ["x"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1],
                "ts": [_ts(5), _ts(10)],
                "r_a": [11, 22],
                "r_b": pd.array([7, None], dtype="Int64"),
            }
        )
    )
    row = asof_join(left, right, by=["k"]).collect()[0]
    assert row.matched_ts == _ts(10)
    assert row.r_a == 22
    assert row.r_b is None  # NOT 7 from the older ts=5 row


def test_asof_column_collision_raises(sides):
    left, right = sides
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("r_val", "l_val"), by=["k"])


def test_asof_one_shuffle_plan(sides):
    """The plan must contain exactly one exchange (hash by key) feeding
    the window sort — the merge formulation's scale guarantee."""
    left, right = sides
    plan = asof_join(left, right, by=["k"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_asof_forward_inclusive(sides):
    left, right = sides
    got = {
        (r.k, r.ts): (r.matched_ts, r.r_val)
        for r in asof_join(left, right, by=["k"], direction="forward").collect()
    }
    # k=1: ts=5 → next right at 10; ts=10 → inclusive match at 10;
    # ts=20 → nothing after. k=2: ts=7 → inclusive 7. k=3: no rights.
    assert got[(1, _ts(5))] == (_ts(10), 100)
    assert got[(1, _ts(10))] == (_ts(10), 100)
    assert got[(1, _ts(20))] == (None, None)
    assert got[(2, _ts(7))] == (_ts(7), 70)
    assert got[(3, _ts(1))] == (None, None)


def test_asof_nearest(sides):
    left, right = sides
    got = {
        (r.k, r.ts): (r.matched_ts, r.r_val)
        for r in asof_join(left, right, by=["k"], direction="nearest").collect()
    }
    # k=1 ts=5: back=4 (dist 1) vs fwd=10 (dist 5) → 4
    assert got[(1, _ts(5))] == (_ts(4), 40)
    # k=1 ts=10: exact match, distance 0 → 10
    assert got[(1, _ts(10))] == (_ts(10), 100)
    # k=1 ts=20: only backward exists → 10
    assert got[(1, _ts(20))] == (_ts(10), 100)
    # k=2 ts=7: exact → 7
    assert got[(2, _ts(7))] == (_ts(7), 70)
    # k=3: no rights at all → NULL
    assert got[(3, _ts(1))] == (None, None)


def test_asof_nearest_tie_resolves_backward(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": [_ts(10)], "l_val": ["x"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "ts": [_ts(7), _ts(13)], "r_val": [1, 2]})
    )
    row = asof_join(left, right, by=["k"], direction="nearest").collect()[0]
    assert row.matched_ts == _ts(7) and row.r_val == 1


def test_asof_nearest_one_shuffle_plan(sides):
    """nearest must cost what backward costs: ONE keyed exchange, no
    second join for the forward candidate."""
    left, right = sides
    plan = (
        asof_join(left, right, by=["k"], direction="nearest")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan.replace("Joined", "")


def test_asof_bad_direction_raises(sides):
    left, right = sides
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, by=["k"], direction="sideways")


def test_asof_tolerance_bounds_staleness(sides):
    """tolerance (pandas merge_asof semantics): a match farther than
    the bound becomes a MISS — it must not fall back to an even older
    row, and within-bound matches are unchanged."""
    left, right = sides
    # seconds 5/10/20 (k=1) vs right at 4/10: with a 3-second bound,
    # ts=5 keeps its match (distance 1s), ts=10 keeps the exact match,
    # ts=20 loses its 10-second-stale match (distance 10s > 3s)
    got = {
        (r.k, r.ts.second): r.r_val
        for r in asof_join(
            left, right, by=["k"], tolerance="3 SECONDS"
        ).collect()
    }
    unbounded = {
        (r.k, r.ts.second): r.r_val
        for r in asof_join(left, right, by=["k"]).collect()
    }
    assert unbounded[(1, 20)] == 100  # stale match without the bound
    assert got[(1, 5)] == 40
    assert got[(1, 10)] == 100
    assert got[(1, 20)] is None  # miss, not fallback
    assert got[(2, 7)] == 70
    assert got[(3, 1)] is None  # still no right side at all


def test_asof_tolerance_nearest_direction(sides):
    left, right = sides
    got = {
        (r.k, r.ts.second): r.r_val
        for r in asof_join(
            left, right, by=["k"], direction="nearest",
            tolerance="2 SECONDS",
        ).collect()
    }
    # k=2 ts=7: backward candidate at 7 (exact) wins, within bound
    assert got[(2, 7)] == 70
    # k=1 ts=20: nearest is 10, distance 10s > 2s -> miss
    assert got[(1, 20)] is None
