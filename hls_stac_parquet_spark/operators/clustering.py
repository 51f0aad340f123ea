"""Density clustering: grid-blocked exact DBSCAN.

The density-based companion to the centroid clustering in
operators/similarity.py (spherical k-means): DBSCAN finds
arbitrarily-shaped dense regions and explicitly labels sparse points
as noise — the outlier-aware clustering used for corpus segmentation
and anomaly triage.

No reference counterpart (the reference repo, /root/reference, does no
clustering); this enters via the LLM-data-pipeline mandate, next to
k-means and the dedup graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.tuning import materialize


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Exact DBSCAN over 2-D points, grid-blocked so no all-pairs
    distance join ever materializes.

    Returns ``(id, role, cluster)`` where role ∈ {'core', 'border',
    'noise'} and cluster is the component's minimum core id (NULL for
    noise). Semantics vs. classic DBSCAN: the core / noise sets and
    the partition of CORE points into clusters are exactly the
    textbook ones (density-reachability restricted to cores is the
    connected-components relation on the ≤eps core–core graph). The
    one classic ambiguity — a border point in reach of two clusters —
    is resolved deterministically (smallest cluster id) instead of by
    scan order, so the output is a pure function of the input; the
    property tests replay the same rule in numpy and demand equality.

    Scale shape: each point hashes to exactly ONE home cell of an
    eps-sized grid and probes its 3×3 cell neighborhood, so every
    ≤eps pair is found exactly once (in the home cell of its second
    element) and candidate pairs are bounded by Σ_cell 9·|cell|² —
    local density decides cost, never corpus size. The pipeline is
    one cell-keyed shuffle join + one neighbor-count aggregate + CC
    over the (sparse) core–core edges + one border join; every join
    key is a cell or a point id. Degenerate inputs (a single dense
    cell at 100 TB) concentrate into one cell's join — same posture
    and same mitigation as the interval-join grid (pick eps near the
    true density scale).
    """
    p = points.select(
        F.col("id").alias("_id"),
        F.col("x").cast("double").alias("_x"),
        F.col("y").cast("double").alias("_y"),
    )
    cx = F.floor(F.col("_x") / eps)
    cy = F.floor(F.col("_y") / eps)
    home = p.select(
        "_id", "_x", "_y", cx.alias("_cx"), cy.alias("_cy")
    )
    # probe side fans out to the 3×3 neighborhood of its own cell
    probe = (
        home.select(
            F.col("_id").alias("_pid"),
            F.col("_x").alias("_px"),
            F.col("_y").alias("_py"),
            F.explode(
                F.expr("sequence(_cx - 1, _cx + 1)")
            ).alias("_cx"),
            F.col("_cy").alias("_hcy"),
        )
        .select(
            "_pid",
            "_px",
            "_py",
            "_cx",
            F.explode(F.expr("sequence(_hcy - 1, _hcy + 1)")).alias("_cy"),
        )
    )
    # every pair (a, b) with dist ≤ eps appears exactly once as
    # (probe=a, home=b): a's probe fan-out covers b's home cell iff
    # |cells| ≤ 1 apart, which ≤eps distance guarantees
    pairs = materialize(  # read by 3 consumers below
        probe.join(home, ["_cx", "_cy"])
        .filter(
            (F.col("_px") - F.col("_x")) * (F.col("_px") - F.col("_x"))
            + (F.col("_py") - F.col("_y")) * (F.col("_py") - F.col("_y"))
            <= F.lit(float(eps) * float(eps))
        )
        .select(F.col("_pid").alias("_a"), F.col("_id").alias("_b"))
    )
    # |N_eps(p)| includes p itself (p probes its own home cell)
    core = materialize(
        pairs.groupBy("_a")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= int(min_pts))
        .select(F.col("_a").alias("_id"))
    )
    core_a = core.select(F.col("_id").alias("_a"))
    core_b = core.select(F.col("_id").alias("_b"))
    core_edges = (
        pairs.filter(F.col("_a") != F.col("_b"))
        .join(core_a, "_a")
        .join(core_b, "_b")
    )
    from hls_stac_parquet_spark.operators.graph import (
        connected_components_auto,
    )

    cc = connected_components_auto(core_edges, "_a", "_b")
    # isolated cores (min_pts-dense but no OTHER core within eps) are
    # their own singleton cluster
    core_clusters = materialize(
        core.join(cc, core._id == cc.node, "left")
        .select(
            "_id", F.coalesce("component", "_id").alias("_cluster")
        )
    )
    # border: non-core with ≥1 core neighbor → smallest such cluster
    border = (
        pairs.filter(F.col("_a") != F.col("_b"))
        .join(core.select(F.col("_id").alias("_a")), "_a", "left_anti")
        .join(
            core_clusters.select(
                F.col("_id").alias("_b"), F.col("_cluster")
            ),
            "_b",
        )
        .groupBy("_a")
        .agg(F.min("_cluster").alias("_cluster"))
        .select(F.col("_a").alias("_id"), "_cluster")
    )
    labeled = core_clusters.select(
        "_id", F.lit("core").alias("role"), "_cluster"
    ).unionByName(
        border.select("_id", F.lit("border").alias("role"), "_cluster")
    )
    return (
        p.select("_id")
        .join(labeled, "_id", "left")
        .select(
            F.col("_id").alias("id"),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.col("_cluster").alias("cluster"),
        )
    )
