"""E2 — monthly GeoParquet compaction (SURVEY.md §3 E2).

Reference flow (write.py:99-245): list month's manifests →
sequential fan-in → completeness gate → driver-side Hilbert sort of
the whole month → semaphore(50) fetch → rustac GeoParquet write.

Spark shape — plan the month from its URLs, then fetch each item once:

    read_manifests (parallel multi-file scan)
      → completeness gate (sequence + anti-join)
      → plan: explode urls → MGRS regex → per-tile URL counts,
        collected (≤ ~56k HLS tiles) → tile centres + Hilbert keys in
        numpy on the driver (functions/mgrs.py::tile_keys)
      → broadcast-join the keys onto the URL rows (JVM side)
      → the sink clusters the URL rows into its month layout
        (geoparquet.py::cluster_month: one range partition on the key
        per output file, sorted within) — the sampler re-reads only
        manifests
      → one stage per file: fetch (mapInPandas thread pools, the key
        columns ride along in order) → failures counted by
        df.observe → from_json(explicit STAC schema) → hoist columns
        → GeoParquet writer (executor-side pyarrow, geo footer,
        zstd-6)

The clustering key never depends on an item body (the tile comes
from the URL, the key from the tile centre), so nothing after the
fetch shuffles, and every item is requested exactly once per run.

The reference's month-in-memory sort (write.py:219) is the exact
anti-pattern this replaces: its 64 GiB Batch instance ceiling
(hls-batch-stack.ts:262) becomes "add executors".
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.mgrs import tile_keys
from hls_stac_parquet_spark.functions.urls import extract_mgrs
from hls_stac_parquet_spark.model import STAC_ITEM_SCHEMA
from hls_stac_parquet_spark.operators.completeness import (
    expected_days,
    require_complete,
)
from hls_stac_parquet_spark.operators.manifests import fan_in_manifests, split_failures
from hls_stac_parquet_spark.sinks.geoparquet import (
    cluster_month,
    geoparquet_month_dir,
    write_geoparquet_partitions,
)
from hls_stac_parquet_spark.sinks.manifest import read_manifests
from hls_stac_parquet_spark.sources.stac_fetch import fetch_stac_items
from hls_stac_parquet_spark.store import get_store

_KEYS_SCHEMA = "mgrs_tile string, lat double, lon double, hilbert_idx bigint"


def _month_end(year: int, month: int) -> dt.date:
    nxt = dt.date(year + (month == 12), month % 12 + 1, 1)
    return nxt - dt.timedelta(days=1)


def key_urls(urls: DataFrame) -> tuple[DataFrame, int]:
    """Attach the clustering key to URL rows before any fetch.

    One small aggregate collects the per-tile URL counts; the driver
    computes each tile's centre and Hilbert key (:func:`tile_keys`),
    and a broadcast join puts them on the URL rows. Returns the keyed
    rows (url, mgrs_tile, lat, lon, hilbert_idx) and the URL count.
    """
    spark = urls.sparkSession
    tiled = urls.select("url", extract_mgrs("url").alias("mgrs_tile"))
    counts = tiled.groupBy("mgrs_tile").count().collect()
    n_urls = sum(r["count"] for r in counts)
    keys = spark.createDataFrame(
        tile_keys([r.mgrs_tile for r in counts]), _KEYS_SCHEMA
    )
    # null-safe: URLs without a tile match the NULL row's sentinel key
    keyed = tiled.join(
        F.broadcast(keys),
        tiled["mgrs_tile"].eqNullSafe(keys["mgrs_tile"]),
        "left",
    ).select("url", tiled["mgrs_tile"], "lat", "lon", "hilbert_idx")
    return keyed, n_urls


def write_monthly_stac_geoparquet(
    spark: SparkSession,
    collection_id: str,
    year: int,
    month: int,
    links_src: str,
    dest: str,
    origin_date: dt.date | None = None,
    require_complete_links: bool = True,
    skip_existing: bool = True,
    version: str = "1",
    reference_layout: bool = False,
) -> dict:
    """Compact one collection-month of cached links into clustered
    GeoParquet. Returns {written, failed, skipped} counts plus the
    file manifest rows. The sink picks the layout from the URL count
    (:func:`cluster_month`), or with ``reference_layout=True`` the
    exact one-object-per-month reference path (constants.py:8)."""
    store = get_store(dest)
    month_dir = geoparquet_month_dir(
        collection_id, year, month, version, reference_layout
    )
    if skip_existing and any(
        k.endswith(".parquet") for k in store.list(month_dir)
    ):
        return {"skipped": True, "written": 0, "failed": 0, "files": []}

    manifests = read_manifests(spark, links_src, collection_id, year, month)

    if require_complete_links:
        exp = expected_days(
            spark, dt.date(year, month, 1), _month_end(year, month), origin_date
        ).select(F.dayofmonth("day").alias("day"))
        actual = manifests.select("day")
        require_complete(exp, actual, key="day")

    keyed, n_urls = key_urls(fan_in_manifests(manifests))
    if n_urls == 0:
        return {"skipped": False, "written": 0, "failed": 0, "files": []}

    # clustering the URL rows clusters the items: the fetch and the
    # hoist keep row order, so nothing after the fetch shuffles
    clustered = cluster_month(keyed, n_urls, reference_layout)

    fetch_stats = Observation()
    fetched = fetch_stac_items(clustered).observe(
        fetch_stats,
        # reference logs failures (write.py:227-228)
        F.count_if(F.col("fetch_error").isNotNull()).alias("failed"),
    )
    ok, _ = split_failures(fetched)

    items = ok.withColumn(
        "item", F.from_json("body", STAC_ITEM_SCHEMA)
    ).select("url", "mgrs_tile", "lat", "lon", "hilbert_idx", "item.*")

    # a GeoJSON bbox is [xmin, ymin, xmax, ymax] or, in 3D, [xmin, ymin,
    # zmin, xmax, ymax, zmax]; any other length hoists NULL, which both
    # read tiers treat as non-intersecting
    n_bbox = F.size("bbox")

    def bbox_at(i_2d: int, i_3d: int):
        return F.when(
            n_bbox == 4, F.try_element_at("bbox", F.lit(i_2d))
        ).when(n_bbox == 6, F.try_element_at("bbox", F.lit(i_3d)))

    hoisted = items.select(
        "id",
        F.lit(collection_id).alias("collection"),  # A20 stamp
        F.to_timestamp(F.col("properties.datetime")).alias("datetime"),
        F.col("properties.`eo:cloud_cover`").alias("eo_cloud_cover"),
        "mgrs_tile", "lon", "lat", "hilbert_idx",
        bbox_at(1, 1).alias("bbox_xmin"),
        bbox_at(2, 2).alias("bbox_ymin"),
        bbox_at(3, 4).alias("bbox_xmax"),
        bbox_at(4, 5).alias("bbox_ymax"),
        # raw GeoJSON coordinates ride to the sink as-is; the Arrow
        # writer stage encodes WKB batch-wise (geoparquet.py::
        # polygon_coords_to_wkb_array) — no per-row Python in the plan
        F.col("geometry.coordinates").alias("geometry"),
        "assets", "url",
    )

    files = write_geoparquet_partitions(
        hoisted, dest, collection_id, year, month, version=version,
        reference_layout=reference_layout,
    ).collect()
    return {
        "skipped": False,
        "written": sum(r.n_rows for r in files),
        "failed": fetch_stats.get["failed"],
        "files": [r.path for r in files],
    }
