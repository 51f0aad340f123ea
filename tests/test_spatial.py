"""Property tests for the space-filling-curve functions — the unit
coverage the reference lacks (SURVEY.md §5 'Absent')."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.spatial import (
    HILBERT_ERROR_SENTINEL,
    hilbert_index_udf,
    hilbert_xy2d,
    lonlat_to_grid,
    morton_key,
    morton_key_sql,
)
from hls_stac_parquet_spark.sinks import geoparquet


def test_hilbert_bijective_small_grid():
    order = 4
    side = 1 << order
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    d = hilbert_xy2d(order, xs.ravel(), ys.ravel())
    assert sorted(d.tolist()) == list(range(side * side))


def test_hilbert_adjacent_cells_are_adjacent_on_curve():
    """Defining Hilbert property: consecutive d are neighbor cells."""
    order = 5
    side = 1 << order
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    d = hilbert_xy2d(order, xs.ravel(), ys.ravel())
    by_d = np.empty((side * side, 2), dtype=np.int64)
    by_d[d] = np.stack([xs.ravel(), ys.ravel()], axis=1)
    steps = np.abs(np.diff(by_d, axis=0)).sum(axis=1)
    assert (steps == 1).all()


def test_grid_clamp():
    gx, gy = lonlat_to_grid(np.array([-180.0, 0.0, 180.0]), np.array([-90.0, 0.0, 90.0]))
    assert gx.min() >= 0 and gx.max() <= (1 << 14) - 1
    assert gy.min() >= 0 and gy.max() <= (1 << 14) - 1


def test_hilbert_udf_sentinel_and_order(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "lon": [-93.0, -92.9, 100.0, None],
                "lat": [46.0, 46.1, -30.0, 45.0],
            }
        )
    )
    rows = {
        r["id"]: r["h"]
        for r in df.withColumn(
            "h", hilbert_index_udf(F.col("lon"), F.col("lat"))
        ).collect()
    }
    assert rows[4] == HILBERT_ERROR_SENTINEL
    # nearby points get nearby keys; far point is far
    assert abs(rows[1] - rows[2]) < abs(rows[1] - rows[3])
    assert rows[4] > max(rows[1], rows[2], rows[3])  # sentinel sorts last


def test_morton_sql_matches_column_expr(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 251).alias("x"), ((F.col("id") * 7) % 241).alias("y")
    )
    a = df.select(morton_key("x", "y").alias("m")).collect()
    b = df.select(F.expr(morton_key_sql("x", "y", dialect="spark")).alias("m")).collect()
    assert [r.m for r in a] == [r.m for r in b]


def _keyed_points(spark, n: int = 200):
    pdf = pd.DataFrame(
        {
            "id": range(n),
            "lon": np.random.default_rng(0).uniform(-180, 180, n),
            "lat": np.random.default_rng(1).uniform(-90, 90, n),
        }
    )
    return spark.createDataFrame(pdf).withColumn(
        "hilbert_idx", hilbert_index_udf(F.col("lon"), F.col("lat"))
    )


def test_cluster_by_hilbert_total_order(spark, monkeypatch):
    monkeypatch.setattr(geoparquet, "ROWS_PER_FILE", 50)  # 4 partitions
    out = geoparquet.cluster_month(_keyed_points(spark), 200)
    # partition-wise sorted and partitions range-ordered → global order
    keys = [r.hilbert_idx for r in out.select("hilbert_idx").collect()]
    assert keys == sorted(keys)


def test_rewritten_month_overwrites_its_part_files(spark, tmp_path, monkeypatch):
    """A re-run or retried write of a month names each file by its part
    alone, so it replaces the earlier file: one file per part and every
    row once, not a second copy of each part."""
    monkeypatch.setattr(geoparquet, "ROWS_PER_FILE", 50)  # 4 parts
    clustered = geoparquet.cluster_month(_keyed_points(spark), 200)
    dest = str(tmp_path / "gpq")
    for _ in range(2):
        manifest = geoparquet.write_geoparquet_partitions(
            clustered, dest, "HLSL30_2.0", 2025, 10
        ).collect()
    month_dir = tmp_path / "gpq" / geoparquet.geoparquet_month_dir(
        "HLSL30_2.0", 2025, 10
    )
    files = sorted(month_dir.glob("*.parquet"))
    assert len(files) == len(manifest) == 4
    ids = [i for f in files for i in pq.read_table(f)["id"].to_pylist()]
    assert sorted(ids) == list(range(200))
