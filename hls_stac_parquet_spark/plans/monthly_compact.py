"""E2 — monthly GeoParquet compaction (SURVEY.md §3 E2).

Reference flow (write.py:99-245): list month's manifests →
sequential fan-in → completeness gate → driver-side Hilbert sort of
the whole month → semaphore(50) fetch → rustac GeoParquet write.

Spark shape — plan the month on the driver, then fetch each item once:

    read_month_urls (store LIST + ≤31 GETs, on the driver)
      → completeness gate (listed days vs expected days)
      → MGRS regex per URL → centres + Hilbert keys of the distinct
        tiles (functions/mgrs.py::tile_keys) → keyed URL rows, to
        Spark once as Arrow
      → the sink clusters the URL rows into its month layout
        (geoparquet.py::cluster_month: one range partition on the key
        per output file, sorted within)
      → one stage per file: fetch (mapInPandas thread pools, the key
        columns ride along in order) → failures counted by
        df.observe → from_json(explicit STAC schema) → hoist columns
        → GeoParquet writer (executor-side pyarrow, geo footer,
        zstd-6)

The clustering key never depends on an item body (the tile comes
from the URL, the key from the tile centre), so nothing after the
fetch shuffles, and every item is requested exactly once per run.
Planning runs no Spark job: a one-file month is AQE's map-stage job
for the range exchange plus the write job.

The reference's month-in-memory sort (write.py:219) is the exact
anti-pattern this replaces: its 64 GiB Batch instance ceiling
(hls-batch-stack.ts:262) becomes "add executors".
"""

from __future__ import annotations

import calendar
import datetime as dt
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hls_stac_parquet_spark.functions.mgrs import tile_keys
from hls_stac_parquet_spark.functions.urls import MGRS_TILE_PATTERN
from hls_stac_parquet_spark.model import STAC_ITEM_SCHEMA
from hls_stac_parquet_spark.operators.completeness import IncompleteInputError
from hls_stac_parquet_spark.operators.manifests import split_failures
from hls_stac_parquet_spark.sinks.geoparquet import (
    cluster_month,
    geoparquet_month_dir,
    write_geoparquet_partitions,
)
from hls_stac_parquet_spark.sinks.manifest import read_month_urls
from hls_stac_parquet_spark.sources.stac_fetch import fetch_stac_items
from hls_stac_parquet_spark.store import get_store
from hls_stac_parquet_spark.tuning import driver_rows_to_df

_KEYED_SCHEMA = (
    "url string, mgrs_tile string, lat double, lon double, hilbert_idx bigint"
)


def _require_month_days(days, year: int, month: int, origin_date) -> None:
    """Raise IncompleteInputError unless the listed days of the month
    are exactly the expected ones: the 1st, or ``origin_date`` if later
    (the reference's origin-month override, write.py:180-186), to the
    month's last day. The report keeps the first 20 per side, sorted."""
    first = max(dt.date(year, month, 1), origin_date or dt.date.min)
    last = dt.date(year, month, calendar.monthrange(year, month)[1])
    expected = set(range(first.day, last.day + 1)) if first <= last else set()
    miss = sorted(expected - set(days))[:20]
    extra = sorted(set(days) - expected)[:20]
    if miss or extra:
        raise IncompleteInputError(
            f"expected these links: missing={miss} unexpected={extra}"
        )


def driver_keyed_urls(spark: SparkSession, urls: list[str]) -> DataFrame:
    """(url, mgrs_tile, lat, lon, hilbert_idx) rows in ``urls`` order,
    keyed on the driver: the tile is the first ``MGRS_TILE_PATTERN``
    match (NULL without one, as :func:`extract_mgrs` gives), the keys
    :func:`tile_keys` of the distinct tiles."""
    pattern = re.compile(MGRS_TILE_PATTERN)
    tiles = [m.group(1) if (m := pattern.search(u)) else None for u in urls]
    keys = {
        k.mgrs_tile: (k.lat, k.lon, k.hilbert_idx)
        for k in tile_keys(set(tiles)).itertuples(index=False)
    }
    rows = [(u, t, *keys[t]) for u, t in zip(urls, tiles)]
    return driver_rows_to_df(spark, rows, StructType.fromDDL(_KEYED_SCHEMA))


def write_monthly_stac_geoparquet(
    spark: SparkSession,
    collection_id: str,
    year: int,
    month: int,
    links_src: str,
    dest: str,
    origin_date: dt.date | None = None,
    require_complete_links: bool = True,
    reference_layout: bool = False,
) -> dict:
    """Compact one collection-month of cached links into clustered
    GeoParquet. Returns {written, failed, skipped} counts plus the
    file manifest rows. The sink picks the layout from the URL count
    (:func:`cluster_month`), or with ``reference_layout=True`` the
    exact one-object-per-month reference path (constants.py:8). A
    month that already holds a ``.parquet`` file is skipped, as the
    reference skips existing output (write.py:146-149)."""
    store = get_store(dest)
    month_dir = geoparquet_month_dir(
        collection_id, year, month, reference_layout
    )
    if any(k.endswith(".parquet") for k in store.list(month_dir)):
        return {"skipped": True, "written": 0, "failed": 0, "files": []}

    day_urls = read_month_urls(links_src, collection_id, year, month)
    if require_complete_links:
        _require_month_days(day_urls, year, month, origin_date)

    # day order, then file order: same-key rows keep it through the
    # range sort, so it fixes the output bytes
    urls = [u for day_list in day_urls.values() for u in day_list]
    if not urls:
        return {"skipped": False, "written": 0, "failed": 0, "files": []}
    keyed = driver_keyed_urls(spark, urls)

    # clustering the URL rows clusters the items: the fetch and the
    # hoist keep row order, so nothing after the fetch shuffles
    clustered = cluster_month(keyed, len(urls), reference_layout)

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
        hoisted, dest, collection_id, year, month,
        reference_layout=reference_layout,
    ).collect()
    return {
        "skipped": False,
        "written": sum(r.n_rows for r in files),
        "failed": fetch_stats.get["failed"],
        "files": [r.path for r in files],
    }
