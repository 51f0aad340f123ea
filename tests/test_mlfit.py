"""Distributed logistic-regression fitting == a pure-numpy replay of
the same full-batch GD (same init, step, iteration count)."""

from __future__ import annotations

import numpy as np
import pytest


def _numpy_gd(X, y, iters, lr, reg=0.0):
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(Xb @ w)))
        grad = Xb.T @ (p - y) / n
        grad[:d] += reg * w[:d]
        w = w - lr * grad
    return w


@pytest.fixture(scope="module")
def training_data():
    rng = np.random.default_rng(17)
    n = 2000
    X = rng.standard_normal((n, 3))
    true_w = np.array([1.5, -2.0, 0.5])
    logits = X @ true_w + 0.3
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-logits))).astype(np.float64)
    return X, y


def test_logreg_fit_matches_numpy(spark, training_data):
    from hls_stac_parquet_spark.operators.mlfit import logreg_fit

    X, y = training_data
    rows = [(float(a), float(b), float(c), float(t)) for (a, b, c), t in zip(X, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, y double")
    got = logreg_fit(df, ["x1", "x2", "x3"], "y", iters=15, lr=0.5)
    want = _numpy_gd(X, y, iters=15, lr=0.5)
    # float64 aggregation order differs (distributed sum) — agree to ~1e-6
    np.testing.assert_allclose(got, want, rtol=1e-6, atol=1e-6)


def test_logreg_learns_the_signal(spark, training_data):
    """Sanity: training accuracy on separable-ish data beats 80%, and
    scoring is a zero-shuffle codegen pass."""
    from hls_stac_parquet_spark.operators.mlfit import logreg_fit, logreg_score
    from pyspark.sql import functions as F

    X, y = training_data
    rows = [(float(a), float(b), float(c), float(t)) for (a, b, c), t in zip(X, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, x3 double, y double")
    w = logreg_fit(df, ["x1", "x2", "x3"], "y", iters=30, lr=0.5)
    scored = logreg_score(df, w, ["x1", "x2", "x3"])
    acc = (
        scored.select(
            ((F.col("score") > 0.5).cast("double") == F.col("y")).cast("double").alias("ok")
        )
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > 0.8, acc
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_logreg_empty_input_raises(spark):
    import pytest as _pt

    from hls_stac_parquet_spark.operators.mlfit import logreg_fit

    df = spark.createDataFrame([], "x1 double, y double")
    with _pt.raises(ValueError, match="empty"):
        logreg_fit(df, ["x1"], "y")


def test_bradley_terry_matches_pure_python_mm(spark):
    """bradley_terry_fit == a pure-Python MM replay on a crafted
    tournament (fixed 10 rounds, mean-1 rescale), and the strengths
    order by true dominance."""
    from hls_stac_parquet_spark.operators.mlfit import bradley_terry_fit

    games = (
        [("A", "B")] * 8 + [("B", "A")] * 2
        + [("B", "C")] * 7 + [("C", "B")] * 3
        + [("A", "C")] * 9 + [("C", "A")] * 1
    )
    df = spark.createDataFrame(games, "winner string, loser string")
    got = {
        r.entity: (r.n_wins, r.p)
        for r in bradley_terry_fit(df, iters=10).collect()
    }

    ents = ["A", "B", "C"]
    n = {("A", "B"): 10, ("B", "C"): 10, ("A", "C"): 10}
    n.update({(b, a): v for (a, b), v in n.items()})
    wins = {"A": 17, "B": 9, "C": 4}
    p = {e: 1.0 for e in ents}
    for _ in range(10):
        raw = {}
        for e in ents:
            d = sum(
                n[(e, o)] / (p[e] + p[o]) for o in ents if o != e
            )
            raw[e] = wins[e] / d if d > 0 else 0.0
        m = sum(raw.values()) / len(ents)
        p = {e: raw[e] / m for e in ents}
    for e in ents:
        assert got[e][0] == wins[e]
        assert abs(got[e][1] - p[e]) < 1e-9, (e, got[e], p[e])
    assert got["A"][1] > got["B"][1] > got["C"][1]


def _minimax_isotonic(wy, w):
    """Independent replay via the minimax identity ŷᵢ = max_{j≤i}
    min_{k≥i} avg(y[j..k]) — a different algorithm from the
    operator's PAVA stack."""
    n = len(wy)
    out = []
    for i in range(n):
        best = -np.inf
        for j in range(i + 1):
            mn = np.inf
            for k in range(i, n):
                mn = min(mn, sum(wy[j : k + 1]) / sum(w[j : k + 1]))
            best = max(best, mn)
        out.append(best)
    return out


def test_isotonic_fit_matches_minimax_replay(spark):
    from hls_stac_parquet_spark.operators.mlfit import isotonic_fit

    rng = np.random.default_rng(23)
    w = rng.integers(1, 50, size=30)
    wy = np.array([rng.integers(0, wi + 1) for wi in w])
    df = spark.createDataFrame(
        [(int(i), int(a), int(b)) for i, (a, b) in enumerate(zip(wy, w))],
        "x long, wy long, w long",
    )
    got = {
        r.x: r.y_fit for r in isotonic_fit(df, "x", "wy", "w").collect()
    }
    want = _minimax_isotonic(list(map(int, wy)), list(map(int, w)))
    assert [got[i] for i in range(30)] == pytest.approx(want, abs=1e-12)


def test_isotonic_fit_is_monotone_and_idempotent_on_sorted(spark):
    from hls_stac_parquet_spark.operators.mlfit import isotonic_fit

    # violator case: fitted curve must be non-decreasing
    rng = np.random.default_rng(5)
    w = rng.integers(1, 20, size=40)
    wy = np.array([rng.integers(0, wi + 1) for wi in w])
    df = spark.createDataFrame(
        [(int(i), int(a), int(b)) for i, (a, b) in enumerate(zip(wy, w))],
        "x long, wy long, w long",
    )
    fit = sorted(isotonic_fit(df, "x", "wy", "w").collect(), key=lambda r: r.x)
    ys = [r.y_fit for r in fit]
    assert all(a <= b for a, b in zip(ys, ys[1:]))

    # already-monotone input passes through untouched (projection is
    # the identity on the feasible set)
    mono = spark.createDataFrame(
        [(0, 0, 10), (1, 2, 10), (2, 5, 10), (3, 9, 10)],
        "x long, wy long, w long",
    )
    got = {r.x: r.y_fit for r in isotonic_fit(mono, "x", "wy", "w").collect()}
    assert got == {0: 0.0, 1: 0.2, 2: 0.5, 3: 0.9}


def test_logreg_driver_tier_matches_distributed_tier(
    spark, training_data, monkeypatch
):
    """r9 size tier: the collect-once numpy fit (engaged below the
    cell cap) and the distributed aggregate loop (forced here by a
    zero cap) produce the same weights up to float-summation order —
    on the training data, and on all-NULL features, where no row
    contributes a gradient term and both tiers return zeros."""
    from hls_stac_parquet_spark.operators import mlfit

    X, y = training_data
    rows = [(float(a), float(b), float(c), float(t))
            for (a, b, c), t in zip(X, y)]
    schema = "x1 double, x2 double, x3 double, y double"
    frames = [
        spark.createDataFrame(rows, schema),
        spark.createDataFrame([(None, None, None, 1.0)] * 5, schema),
    ]
    feats = ["x1", "x2", "x3"]
    fast = [mlfit.logreg_fit(df, feats, "y", iters=15, lr=0.5) for df in frames]
    monkeypatch.setattr(mlfit, "LOGREG_DRIVER_MAX_CELLS", 0)
    dist = [mlfit.logreg_fit(df, feats, "y", iters=15, lr=0.5) for df in frames]
    np.testing.assert_allclose(fast[0], dist[0], rtol=1e-9, atol=1e-9)
    assert fast[1] == dist[1] == [0.0] * 4
