"""Grid-blocked point-in-polygon spatial join.

The reference engine's domain is geospatial ETL (MGRS tiles, bbox
filters, GeoParquet output — SURVEY §2.A A14/A15/A21/A23); the one
spatial primitive it leaves to the warehouse downstream is the
polygon containment join. This operator supplies it Spark-first,
without a geometry library:

- **Blocking**: each polygon explodes to the grid cells its bounding
  box covers (bbox from ``array_min/array_max`` of the vertex
  arrays); each point hashes to exactly ONE cell — so a (polygon,
  point) pair can meet in at most one cell and the equi-join needs
  no post-dedup. Cost is Σ_cell |points_c|·|polys_c|, never
  |points|·|polys|; cell_size tunes the blocking the way an R-tree
  node size would.
- **Exact verify**: convex containment as a pure codegen'd HOF — the
  standard same-side cross-product test, ``min_i((v_{i+1}-v_i) ×
  (p-v_i)) >= 0`` over the CCW vertex ring (boundary counts inside).
  No UDF, no geometry objects; arithmetic is plain IEEE doubles so
  any engine replays it bit-for-bit.

Polygons must be CONVEX with vertices in counter-clockwise order —
the contract of the sign test (concave shapes need a triangulation
pass first, which composes: triangulate → this join → dedup pairs).

At 100 TB: both sides shuffle on the cell key (or the poly-cell side
broadcasts when small — AQE decides); skewed cells (a megacity cell)
are bounded by cell_size choice, and the verify is branch-free
per-pair math inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: mean Earth radius (IUGG), km
EARTH_RADIUS_KM = 6371.0088


def _inside_expr(vx: str, vy: str, px: str, py: str) -> str:
    """SQL boolean: point (px,py) inside the convex CCW ring
    (vx,vy). Array columns are 1-indexed; edge i runs v_i → v_{i%n+1}."""
    return (
        f"array_min(transform(sequence(1, size({vx})), i -> "
        f"(element_at({vx}, CAST(i % size({vx}) + 1 AS INT))"
        f" - element_at({vx}, CAST(i AS INT))) * ({py} - element_at({vy}, CAST(i AS INT)))"
        f" - (element_at({vy}, CAST(i % size({vx}) + 1 AS INT))"
        f" - element_at({vy}, CAST(i AS INT))) * ({px} - element_at({vx}, CAST(i AS INT)))"
        f")) >= 0D"
    )


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    cell_size: float,
) -> DataFrame:
    """points ⋈ polygons on convex containment, grid-blocked.

    ``points`` carries coordinate columns (x, y); ``polygons`` carries
    vertex-ring array columns (vx, vy) in CCW order plus any id/attr
    columns. Returns the inner join of every point with every polygon
    containing it (boundary inclusive), with all columns from both
    inputs except the internal cell keys.
    """
    cs = float(cell_size)
    poly_cells = (
        polygons.withColumn(
            "_gx",
            F.explode(
                F.sequence(
                    F.floor(F.array_min("vx") / cs),
                    F.floor(F.array_max("vx") / cs),
                )
            ),
        )
        .withColumn(
            "_gy",
            F.explode(
                F.sequence(
                    F.floor(F.array_min("vy") / cs),
                    F.floor(F.array_max("vy") / cs),
                )
            ),
        )
    )
    pts = points.withColumn("_gx", F.floor(F.col("x") / cs)).withColumn(
        "_gy", F.floor(F.col("y") / cs)
    )
    return (
        pts.join(poly_cells, ["_gx", "_gy"])
        .filter(F.expr(_inside_expr("vx", "vy", "x", "y")))
        .drop("_gx", "_gy")
    )


def geo_radius_pairs(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lat_l: str = "lat",
    lon_l: str = "lon",
    lat_r: str = "lat",
    lon_r: str = "lon",
) -> DataFrame:
    """Grid-blocked EXACT geo radius join: every (left, right) row
    pair whose great-circle (haversine) distance is ≤ radius_km, with
    a ``dist_km`` column — the large×large tier behind broadcast
    nearest-neighbor joins like q_geo_knn (which refuses oversized
    dims and routes here).

    Blocking runs in the 3-D UNIT-SPHERE EMBEDDING, not lat/lon
    space: (x,y,z) = (cos φ cos λ, cos φ sin λ, sin φ). A haversine
    distance d corresponds to a chord ‖p−q‖ = 2·sin(d/2R) — a
    monotone bijection — so "within d km" is "within a fixed chord",
    and a cubic grid with edge ≥ chord guarantees any qualifying pair
    sits in the same or an adjacent cell. This sidesteps the lat/lon
    grid's two classic failure modes (longitude cells degenerating
    toward the poles, and the antimeridian wrap) with zero special
    cases. The right side explodes to its 3×3×3 cell neighborhood;
    the left side hashes to exactly ONE home cell, so each candidate
    pair meets exactly once — no post-dedup. Edge is padded 1% over
    the chord so boundary rounding can never drop a qualifying pair;
    the exact haversine verify (identical IEEE expression on any
    engine) decides membership.

    At 100 TB both sides shuffle once on the bigint cell key; cost is
    Σ_cell |L_c|·27·density, never |L|·|R|. Skewed cells are bounded
    by the radius choice (the cell IS the radius); AQE skew-join
    splits any remaining hot cell.
    """
    import math

    chord = 2.0 * math.sin(radius_km / (2.0 * EARTH_RADIUS_KM))
    cell = chord * 1.01
    k = int(math.ceil(2.0 / cell)) + 3  # cells per axis, with margin

    def embed(df, lat, lon, px, py, pz):
        la, lo = F.radians(F.col(lat)), F.radians(F.col(lon))
        return df.withColumns(
            {
                px: F.cos(la) * F.cos(lo),
                py: F.cos(la) * F.sin(lo),
                pz: F.sin(la),
            }
        )

    def cell_id(cx, cy, cz):
        return (cx * k + cy) * k + cz

    def coord(c):
        return F.floor((F.col(c) + 1.0) / cell).cast("long")

    lft = embed(left, lat_l, lon_l, "_lx", "_ly", "_lz").withColumn(
        "_cell", cell_id(coord("_lx"), coord("_ly"), coord("_lz"))
    )
    rgt = embed(right, lat_r, lon_r, "_rx", "_ry", "_rz")
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    rgt = (
        rgt.withColumn("_dx", F.explode(offs))
        .withColumn("_dy", F.explode(offs))
        .withColumn("_dz", F.explode(offs))
        .withColumn(
            "_cell",
            cell_id(
                coord("_rx") + F.col("_dx"),
                coord("_ry") + F.col("_dy"),
                coord("_rz") + F.col("_dz"),
            ),
        )
        .drop("_dx", "_dy", "_dz")
    )
    dlat = F.radians(F.col(lat_r) - F.col(lat_l)) / 2
    dlon = F.radians(F.col(lon_r) - F.col(lon_l)) / 2
    hav = F.sin(dlat) * F.sin(dlat) + F.cos(F.radians(lat_l)) * F.cos(
        F.radians(lat_r)
    ) * F.sin(dlon) * F.sin(dlon)
    dist = 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(hav))
    return (
        lft.join(rgt, "_cell")
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= radius_km)
        .drop("_cell", "_lx", "_ly", "_lz", "_rx", "_ry", "_rz")
    )
