"""Connected components (operators/graph.py) — dedup clustering."""

import pandas as pd
import pytest

from hls_stac_parquet_spark.operators import graph
from hls_stac_parquet_spark.operators.graph import (
    connected_components_auto,
    connected_components_star,
)


def _cc(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    rows = connected_components_star(df).collect()
    return {r.node: r.component for r in rows}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_to_min(spark):
    # a path graph needs multiple propagation rounds (diameter > 1)
    got = _cc(spark, [(5, 4), (4, 3), (3, 2), (2, 1)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_self_loop_and_duplicate_edges(spark):
    """connected_components_auto's driver union-find tier."""
    df = spark.createDataFrame(
        pd.DataFrame([(7, 7), (8, 9), (9, 8), (8, 9)], columns=["src", "dst"])
    )
    got = {r.node: r.component for r in connected_components_auto(df).collect()}
    assert got == {7: 7, 8: 8, 9: 8}


def test_star_self_loop_and_duplicates(spark):
    got = _cc(spark, [(7, 7), (8, 9), (9, 8), (8, 9)])
    assert got == {7: 7, 8: 8, 9: 8}


def test_clique_one_round(spark):
    edges = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    got = _cc(spark, edges)
    assert set(got.values()) == {20}


def test_non_convergence_raises(spark, monkeypatch):
    """A chain that has not reached its fixpoint after
    CC_STAR_MAX_ITER rounds must raise, not return silently-split
    clusters."""
    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    monkeypatch.setattr(graph, "CC_STAR_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components_star(df)
    # the same graph converges when the round cap is sufficient
    monkeypatch.setattr(graph, "CC_STAR_MAX_ITER", 15)
    rows = connected_components_star(df).collect()
    assert {r.component for r in rows} == {0}


def test_star_long_chain_logarithmic_rounds(spark, monkeypatch):
    """A 40-node chain converges in O(log^2) star rounds — far below a
    round cap that label propagation's O(diameter) would blow through."""
    monkeypatch.setattr(graph, "CC_STAR_MAX_ITER", 15)
    edges = [(i, i + 1) for i in range(40)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_star_matches_driver_union_find_on_random_graphs(spark):
    """The two tiers of connected_components_auto — large-star/
    small-star and the driver-side union-find it runs below
    CC_DRIVER_MAX — produce the identical (node -> min id) map."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45 + 15 * trial)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
        union_find = {
            r.node: r.component
            for r in connected_components_auto(df).collect()
        }
        assert _cc(spark, edges) == union_find


def test_pagerank_matches_numpy_power_iteration(spark):
    """Spark PageRank must agree with a dense numpy power iteration
    on the same graph (same damping, same iteration count, same
    1-based normalization)."""
    import numpy as np

    from hls_stac_parquet_spark.operators.graph import pagerank

    pairs = [
        (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 2), (0, 3),
    ]
    # symmetric edges: no dangling nodes
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(edges, iterations=10).collect()
    }

    n = 6
    adj = np.zeros((n, n))
    for a, b in sym:
        adj[a][b] = 1
    deg = adj.sum(axis=1)
    ranks = np.ones(n)
    for _ in range(10):
        contrib = np.zeros(n)
        for a in range(n):
            if deg[a]:
                contrib += adj[a] * (ranks[a] / deg[a])
        ranks = 0.15 + 0.85 * contrib
    for i in range(n):
        assert abs(got[i] - ranks[i]) < 1e-9, (i, got[i], ranks[i])
    # normalization: Σrank ≈ n for a symmetric (dangling-free) graph
    assert abs(sum(got.values()) - n) < 1e-6


@pytest.mark.parametrize("max_iter", [4, 9])
def test_label_propagation_matches_python_sync(spark, max_iter):
    """propagate_labels == a plain-Python synchronous replay with the
    same deterministic tie rule (count desc, label asc), on a graph
    with two seed communities and a contested middle node. At 9
    rounds the every-4th-round lineage cut runs twice."""
    from hls_stac_parquet_spark.operators.graph import propagate_labels

    edges = [
        (1, 2), (2, 3), (3, 1),      # triangle A
        (10, 11), (11, 12), (12, 10),  # triangle B
        (3, 20), (20, 10),            # bridge through node 20
        (30, 31),                     # pair seeded on one side
    ]
    seeds = [(1, 100), (10, 200), (30, 300)]
    got = {
        r.node: (r.label, r.is_seed)
        for r in propagate_labels(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame(seeds, "node long, label long"),
            max_iter=max_iter,
        ).collect()
    }

    # pure-Python synchronous replay
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seed_map = dict(seeds)
    labels = dict(seed_map)
    for _ in range(max_iter):
        new = {}
        for n in adj:
            counts = {}
            for nb in adj[n]:
                if nb in labels:
                    lbl = labels[nb]
                    counts[lbl] = counts.get(lbl, 0) + 1
            if counts:
                new[n] = min(counts, key=lambda l: (-counts[l], l))
        merged = dict(labels)
        for n, l in new.items():
            merged[n] = seed_map.get(n, l)
        # nodes labeled before but with no labeled neighbor keep labels
        labels = merged
    want = {n: (l, n in seed_map) for n, l in labels.items()}
    assert got == want


def test_label_propagation_seeds_immutable(spark):
    """A seed surrounded by opposing labels keeps its own."""
    from hls_stac_parquet_spark.operators.graph import propagate_labels

    edges = [(1, 2), (1, 3), (1, 4)]
    seeds = [(1, 7), (2, 9), (3, 9), (4, 9)]
    got = {
        r.node: r.label
        for r in propagate_labels(
            spark.createDataFrame(edges, "src long, dst long"),
            spark.createDataFrame(seeds, "node long, label long"),
            max_iter=3,
        ).collect()
    }
    assert got[1] == 7 and got[2] == 9


# ---- k-core decomposition (h-index iteration) ---------------------------


def _peel_coreness_exact(edges):
    """Textbook peeling: repeatedly remove the min-degree node; a
    node's core number is the max over time of the min degree at its
    removal."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    remaining = set(adj)
    core = {}
    k = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        remaining.remove(v)
        for u in adj[v]:
            if u in remaining:
                deg[u] -= 1
    return core


def _spark_coreness(spark, edges, monkeypatch, tier):
    from hls_stac_parquet_spark.operators import graph

    for name, value in tier.items():
        monkeypatch.setattr(graph, name, value)
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    rows = graph.core_numbers(df).collect()
    return {r.node: r.core for r in rows}


# a driver cap of 0 forces the distributed h-index tier; the default
# runs the driver bucket-queue peeling tier — both must match textbook
# peeling exactly
@pytest.mark.parametrize("tier", [{}, {"CORE_NUMBERS_DRIVER_MAX": 0}])
def test_coreness_clique_plus_tail(spark, monkeypatch, tier):
    # K4 (coreness 3) with a pendant path (coreness 1)
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    got = _spark_coreness(spark, edges, monkeypatch, tier)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


@pytest.mark.parametrize("tier", [{}, {"CORE_NUMBERS_DRIVER_MAX": 0}])
def test_coreness_matches_peeling_on_random_graphs(spark, monkeypatch, tier):
    import random

    rng = random.Random(13)
    for trial in range(3):
        n = 40
        edges = list(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n))
                    for _ in range(60 + 40 * trial)
                )
                if a != b
            }
        )
        want = _peel_coreness_exact(edges)
        got = _spark_coreness(spark, edges, monkeypatch, tier)
        assert got == want, f"trial {trial}"


@pytest.mark.parametrize("tier", [{}, {"CORE_NUMBERS_DRIVER_MAX": 0}])
def test_coreness_duplicate_and_directed_edges_are_canonicalized(
    spark, monkeypatch, tier
):
    # triangle given as duplicated directed edges + a self loop
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    got = _spark_coreness(spark, edges, monkeypatch, tier)
    assert got == {1: 2, 2: 2, 3: 2}


def test_sssp_bounded_matches_python_dp(spark):
    """sssp_bounded == the textbook bounded Bellman-Ford DP on random
    weighted graphs (exact doubles — no rounding slack needed)."""
    import random

    from hls_stac_parquet_spark.operators.graph import sssp_bounded

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(4, 12)
        pairs = [
            (a, b)
            for a in range(n)
            for b in range(n)
            if a < b and rng.random() < 0.4
        ]
        if not pairs:
            continue
        w = {p: rng.choice([0.25, 0.5, 1.0, 2.0]) for p in pairs}
        edges = [(a, b, w[(a, b)]) for a, b in pairs] + [
            (b, a, w[(a, b)]) for a, b in pairs
        ]
        rounds = 3
        src = min(a for a, _, _ in edges)
        dist = {src: 0.0}
        for _ in range(rounds):
            nxt = dict(dist)
            for a, b, ww in edges:
                if a in dist:
                    cand = dist[a] + ww
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
            dist = nxt
        df = spark.createDataFrame(edges, ["src", "dst", "w"])
        got = {
            r["node"]: r["dist"] for r in sssp_bounded(df, rounds=rounds).collect()
        }
        assert got == dist, f"trial {trial}"


def test_sssp_bounded_empty_edges(spark):
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from hls_stac_parquet_spark.operators.graph import sssp_bounded

    schema = StructType(
        [
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("w", DoubleType()),
        ]
    )
    df = spark.createDataFrame([], schema)
    assert sssp_bounded(df, rounds=2).count() == 0


def test_label_propagation_query_seed_flags(spark):
    """q_label_propagation's in-row invariant: every seed keeps its
    gold label (the clamping contract the rows-only driver record
    now carries)."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    rows = REGISTRY["q_label_propagation"].fn(spark, SF0001).collect()
    assert rows and all(r.seed_label_ok for r in rows)
    assert any(r.is_seed for r in rows)


def test_hits_matches_numpy_iteration(spark):
    """Spark HITS must agree with a dense numpy mutual-reinforcement
    iteration on the same directed graph (same L1 normalization, same
    half-step order, same iteration count)."""
    import numpy as np

    from hls_stac_parquet_spark.operators.graph import hits

    pairs = [
        (0, 10), (0, 11), (1, 10), (2, 11), (2, 12), (3, 12), (1, 13),
    ]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: (r.auth, r.hub) for r in hits(edges, iterations=8).collect()}

    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in pairs:
        adj[idx[a]][idx[b]] = 1
    hub = np.array([1.0 if adj[i].any() else 0.0 for i in range(n)])
    auth = np.zeros(n)
    for _ in range(8):
        auth = adj.T @ hub
        auth = np.where(auth > 0, auth / auth.sum(), 0.0)
        hub = adj @ auth
        hub = np.where(hub > 0, hub / hub.sum(), 0.0)

    assert set(got) == set(nodes)
    for node in nodes:
        i = idx[node]
        assert abs(got[node][0] - auth[i]) < 1e-9, (node, got[node], auth[i])
        assert abs(got[node][1] - hub[i]) < 1e-9, (node, got[node], hub[i])


def test_hits_empty_edges_yields_empty(spark):
    from hls_stac_parquet_spark.operators.graph import hits

    edges = spark.createDataFrame([], "src long, dst long")
    assert hits(edges, iterations=3).count() == 0
