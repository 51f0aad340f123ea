"""Randomized property tests (hypothesis): exactness claims that the
fixture corpora exercise only partially get adversarial random inputs
here — each property compares a Spark operator against an independent
reference computation (naive join, pandas ewm, pure-Python BPE).

Example counts are deliberately small: each example is a Spark job,
so the budget goes to input diversity, not repetition.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

_EPOCH = dt.datetime(2024, 1, 1)


@st.composite
def _intervals(draw):
    n = draw(st.integers(2, 24))
    out = []
    for i in range(n):
        key = draw(st.integers(0, 2))
        start_s = draw(st.integers(0, 72 * 3600))
        dur_s = draw(st.integers(0, 10 * 3600))
        out.append(
            (
                i,
                key,
                _EPOCH + dt.timedelta(seconds=start_s),
                _EPOCH + dt.timedelta(seconds=start_s + dur_s),
            )
        )
    return out


@settings(max_examples=10, deadline=None)
@given(_intervals(), st.sampled_from([600, 3600, 86400]))
def test_interval_overlap_grid_exactness_random(spark, rows, grid):
    """Grid-bucketized overlap join == naive quadratic join for
    random keys/starts/durations at any grid width (incl. degenerate
    zero-length and multi-day intervals)."""
    from unittest import mock

    from pyspark.sql import functions as F

    from hls_stac_parquet_spark.operators import intervals

    df = spark.createDataFrame(
        rows, "iv_id long, k long, s timestamp_ntz, e timestamp_ntz"
    )
    with mock.patch.object(intervals, "GRID_SECONDS", grid):
        got = sorted(
            (r.iv_id, r.r_iv_id, r.overlap_us)
            for r in intervals.interval_overlap_join(
                df, df, by=["k"]
            ).collect()
        )
    want = []
    for a_id, ak, as_, ae in rows:
        for b_id, bk, bs, be in rows:
            if ak != bk:
                continue
            lo, hi = max(as_, bs), min(ae, be)
            ov = int((hi - lo).total_seconds() * 1_000_000)
            if ov > 0:
                want.append((a_id, b_id, ov))
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_matches_pandas_random(spark, values):
    """The prefix-sum EWMA identity == pandas ewm(adjust=True) for
    random series (pandas computes the textbook recursive form)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "i long, value double"
    )
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    wi = F.pow(F.lit(0.7), -F.col("i"))
    got = [
        r.ewma
        for r in df.select(
            "i", (F.sum(F.col("value") * wi).over(w) / F.sum(wi).over(w)).alias("ewma")
        )
        .orderBy("i")
        .collect()
    ]
    want = pd.Series(values).ewm(alpha=0.3, adjust=True).mean().tolist()
    for g, x in zip(got, want):
        assert abs(g - x) <= 1e-6 * max(1.0, abs(x)), (g, x)


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet="abcdxy", min_size=1, max_size=6),
        st.integers(1, 50),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_matches_reference_random(spark, word_freqs):
    """Spark BPE merge learning == the pure-Python reference for
    random word multisets (exercises ties, runs, and suffix traps the
    fixture corpus lacks)."""
    from hls_stac_parquet_spark.operators.tokenizer import bpe_train
    from tests.test_tokenizer import _py_bpe

    words = spark.createDataFrame(
        list(word_freqs.items()), "word string, freq long"
    )
    got = bpe_train(words, num_merges=3)
    want, _ = _py_bpe(word_freqs, 3)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=12, deadline=None)
def test_triangle_count_matches_bruteforce(spark, edges):
    """triangle_count == brute-force enumeration over all node
    triples, for arbitrary small graphs (self-loops and duplicate /
    reversed edges included — the operator canonicalizes)."""
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({v for e in canon for v in e})
    import itertools

    expect = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in canon and (b, c) in canon and (a, c) in canon
    )
    from hls_stac_parquet_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    row = triangle_count(df).collect()[0]
    assert row.n_triangles == expect
    assert row.n_edges == len(canon)


def test_triangle_count_hub_graph(spark):
    """A star hub plus a triangle fan: degree orientation points every
    leaf edge AT the hub, so no adjacency list ever holds the hub's
    whole neighborhood (the 100 TB skew hazard). Counts stay exact."""
    hub = 0
    leaves = list(range(1, 101))
    edges = [(hub, v) for v in leaves]
    # fan of triangles: consecutive leaf pairs joined → 50 triangles
    edges += [(leaves[i], leaves[i + 1]) for i in range(0, 100, 2)]
    from hls_stac_parquet_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row.n_edges == 150
    assert row.n_triangles == 50


@given(
    st.dictionaries(st.integers(0, 30), st.integers(0, 3), max_size=25),
    st.dictionaries(st.integers(0, 30), st.integers(0, 3), max_size=25),
)
@settings(max_examples=12, deadline=None)
def test_snapshot_diff_matches_dict_diff(spark, olds, news):
    """snapshot_diff status per key == the obvious dict comparison."""
    from hls_stac_parquet_spark.operators.diff import snapshot_diff

    oldf = spark.createDataFrame(
        [(k, v) for k, v in olds.items()] or [(-999, -999)], "k long, v long"
    ).filter("k != -999")
    newf = spark.createDataFrame(
        [(k, v) for k, v in news.items()] or [(-999, -999)], "k long, v long"
    ).filter("k != -999")
    got = {
        r.k: r.status
        for r in snapshot_diff(oldf, newf, ["k"]).collect()
    }
    for k in set(olds) | set(news):
        if k not in olds:
            expect = "added"
        elif k not in news:
            expect = "removed"
        elif olds[k] != news[k]:
            expect = "changed"
        else:
            expect = "unchanged"
        assert got[k] == expect, (k, got.get(k), expect)


def test_snapshot_diff_null_keys(spark):
    """NULL keys must diff correctly: presence comes from explicit
    markers, not key nullity, and NULL==NULL joins null-safely."""
    from hls_stac_parquet_spark.operators.diff import snapshot_diff

    oldf = spark.createDataFrame([(None, 1), (2, 5)], "k long, v long")
    newf = spark.createDataFrame([(None, 1), (3, 7)], "k long, v long")
    got = {r.k: r.status for r in snapshot_diff(oldf, newf, ["k"]).collect()}
    assert got == {None: "unchanged", 2: "removed", 3: "added"}

    old2 = spark.createDataFrame([(None, 1)], "k long, v long")
    new2 = spark.createDataFrame([(None, 9)], "k long, v long")
    got2 = {r.k: r.status for r in snapshot_diff(old2, new2, ["k"]).collect()}
    assert got2 == {None: "changed"}


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 5)),
        min_size=1,
        max_size=200,
    )
)
@settings(max_examples=10, deadline=None)
def test_range_partitioned_global_rank_invariant(spark, rows):
    """q_auc / q_zipf_slope assign global ranks as range-partition →
    local row_number → broadcast prefix-sum offsets. That relies on
    spark_partition_id() increasing along the repartitionByRange sort
    order and equal keys never straddling a range boundary — Spark
    RangePartitioning behavior, not documented API. Pin it: the
    composed rank must equal a plain unpartitioned row_number for
    arbitrary (dup-heavy) inputs, independent of the oracle sweep."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "score int, tie int")
    part = df.repartitionByRange(8, F.col("score"), F.col("tie")).withColumn(
        "pid", F.spark_partition_id()
    )
    counts = part.groupBy("pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("pid", "_off")
    w_local = Window.partitionBy("pid").orderBy("score", "tie")
    composed = (
        part.withColumn("rn_local", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "pid")
        .select("score", "tie", (F.col("_off") + F.col("rn_local")).alias("rn"))
    )
    plain = df.select(
        "score",
        "tie",
        F.row_number().over(Window.orderBy("score", "tie")).alias("rn"),
    )
    got = sorted(map(tuple, composed.collect()))
    want = sorted(map(tuple, plain.collect()))
    # ranks within an equal (score, tie) group are interchangeable;
    # compare the multiset of (key → sorted rank list)
    from collections import defaultdict

    def bykey(pairs):
        d = defaultdict(list)
        for s, t_, r in pairs:
            d[(s, t_)].append(r)
        return {k: sorted(v) for k, v in d.items()}

    assert bykey(got) == bykey(want)


def test_snapshot_diff_check_unique_raises(spark):
    """Duplicate keys fan the outer join out to a cross product —
    check_unique=True fails fast instead."""
    import pytest

    from hls_stac_parquet_spark.operators.diff import snapshot_diff

    oldf = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
    newf = spark.createDataFrame([(1, 3)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate key"):
        snapshot_diff(oldf, newf, ["k"], check_unique=True)


def test_global_quantiles_match_single_window_kernel(spark):
    """global_quantiles (range-partition + prefix offsets) == the
    single-window grouped_quantiles on dup-heavy random inputs — pins
    the partition-id/rank composition independently of any oracle."""
    import random

    from hls_stac_parquet_spark.operators.quantiles import (
        global_quantiles,
        grouped_quantiles,
    )

    rng = random.Random(11)
    for trial in range(3):
        vals = [float(rng.randint(0, 12)) for _ in range(rng.randint(5, 400))]
        df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(7)
        probs = [0.1, 0.5, 0.9]
        names = ["a", "b", "c"]
        got = global_quantiles(df, "v", probs, names).collect()[0]
        want = grouped_quantiles(df, [], "v", probs, names).collect()[0]
        for n in names:
            assert abs(got[n] - want[n]) <= 1e-12, (trial, n, got[n], want[n])


def test_grouped_quantiles_ranged_matches_window_tier(spark):
    """grouped_quantiles(ranged=True) — the range-partition +
    broadcast-prefix-offset tier added for low-cardinality groups —
    equals the hash-partition window tier row for row on dup-heavy
    random groups, including count_col and a group with one row."""
    import random

    from hls_stac_parquet_spark.operators.quantiles import grouped_quantiles

    rng = random.Random(13)
    for trial in range(3):
        rows = [
            (rng.choice(["A", "B", "C"]), float(rng.randint(0, 9)))
            for _ in range(rng.randint(8, 300))
        ] + [("solo", 42.0)]
        df = spark.createDataFrame(rows, ["g", "v"]).repartition(7)
        probs = [0.25, 0.5, 0.9]
        names = ["a", "b", "c"]
        got = {
            r["g"]: r
            for r in grouped_quantiles(
                df, ["g"], "v", probs, names, count_col="n", ranged=True
            ).collect()
        }
        want = {
            r["g"]: r
            for r in grouped_quantiles(
                df, ["g"], "v", probs, names, count_col="n"
            ).collect()
        }
        assert set(got) == set(want), trial
        for g in want:
            assert got[g]["n"] == want[g]["n"], (trial, g)
            for n in names:
                assert abs(got[g][n] - want[g][n]) <= 1e-12, (trial, g, n)


def test_global_quantiles_empty_input(spark):
    from pyspark.sql.types import DoubleType, StructField, StructType

    from hls_stac_parquet_spark.operators.quantiles import global_quantiles

    df = spark.createDataFrame([], StructType([StructField("v", DoubleType())]))
    row = global_quantiles(df, "v", [0.5], ["m"]).collect()
    assert len(row) == 1 and row[0]["m"] is None


def test_grouped_weighted_median_ranged_matches_window_tier(
    spark, monkeypatch
):
    """grouped_weighted_median's crossing-cell range tier — added r9
    for low-cardinality groups — equals the hash-window tier row for
    row on dup-heavy random (value, weight) data, including tie runs,
    integer weights, a single-row group, and an all-zero-weight group
    (every row qualifies → group min). Also pins the window tier
    against a plain-Python replay. Each tier is forced by moving
    WEIGHTED_MEDIAN_RANGED_MIN_BYTES (read on the driver); the ranged
    run must range-partition the relation it materializes."""
    import random

    from hls_stac_parquet_spark.operators import quantiles
    from hls_stac_parquet_spark.operators.quantiles import (
        grouped_weighted_median,
    )

    plans = []

    real_materialize = quantiles.materialize

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_materialize(df)

    monkeypatch.setattr(quantiles, "materialize", spy)

    def median(df, min_bytes):
        monkeypatch.setattr(
            quantiles, "WEIGHTED_MEDIAN_RANGED_MIN_BYTES", min_bytes
        )
        return {
            r["g"]: r["weighted_median"]
            for r in grouped_weighted_median(df, ["g"], "v", "w").collect()
        }

    rng = random.Random(29)
    for trial in range(3):
        rows = [
            (
                rng.choice(["A", "B", "C"]),
                float(rng.randint(0, 9)),
                float(rng.randint(0, 5)),
            )
            for _ in range(rng.randint(8, 300))
        ] + [("solo", 42.0, 3.0), ("zerow", 7.0, 0.0), ("zerow", 5.0, 0.0)]
        df = spark.createDataFrame(rows, ["g", "v", "w"]).repartition(7)
        plans.clear()
        got = median(df, -1)
        assert any("rangepartitioning" in p.lower() for p in plans), plans
        plans.clear()
        want = median(df, 1 << 63)
        assert plans == [], plans
        assert got == want, (trial, got, want)
        # independent replay: lower weighted median per group
        by_g: dict = {}
        for g, v, w in rows:
            by_g.setdefault(g, []).append((v, w))
        for g, vw in by_g.items():
            vw.sort()
            tot = sum(w for _, w in vw)
            cw = 0.0
            expect = None
            for v, w in vw:
                cw += w
                if cw * 2 >= tot:
                    expect = v
                    break
            assert got[g] == expect, (trial, g, got[g], expect)
