"""Per-layer self time of E1 and E2 by prefix replay.

The pipelines run as one Spark plan each, so a layer's time cannot be
read off a span inside the program. Instead the replay rebuilds the
plan one layer at a time from the same public functions the pipeline
calls, materialises each prefix with a noop write, and takes a
layer's self time as prefix(k) minus prefix(k-1). Each prefix replays
everything above it, fetch included, exactly as the pipeline's own
actions do.

The replay copies the column hoist of ``write_monthly_stac_geoparquet``
(it is inline there, not a public function) and checks its row counts
against the pipeline's ``written``/``failed``, so a change to the plan
makes the replay fail loudly instead of timing a different plan.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.mgrs import mgrs_dim_table
from hls_stac_parquet_spark.functions.spatial import hilbert_index_udf
from hls_stac_parquet_spark.functions.urls import extract_mgrs
from hls_stac_parquet_spark.model import STAC_ITEM_SCHEMA
from hls_stac_parquet_spark.operators.completeness import (
    expected_days,
    require_complete,
)
from hls_stac_parquet_spark.operators.manifests import fan_in_manifests, split_failures
from hls_stac_parquet_spark.plans.daily_ingest import extract_stac_json_links
from hls_stac_parquet_spark.sinks.geoparquet import write_geoparquet
from hls_stac_parquet_spark.sinks.manifest import read_manifests, write_manifests
from hls_stac_parquet_spark.sources.cmr import register_cmr_source
from hls_stac_parquet_spark.sources.stac_fetch import fetch_stac_items


class ReplayMismatch(RuntimeError):
    """The replayed plan no longer produces the pipeline's counts."""


def self_times(prefix_s: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative prefix times [(layer, t_k)] → {layer: t_k - t_(k-1)}."""
    out, prev = {}, 0.0
    for name, t in prefix_s:
        out[name] = t - prev
        prev = t
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label: str, fn):
    spark.sparkContext.setJobGroup(f"trace:{label}", label)
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def replay_e1(spark, cmr_dir: str, dest: str, cid: str, collection_id: str,
              days: list[dt.date], protocol: str) -> dict[str, float]:
    register_cmr_source(spark)
    granules = (
        spark.read.format("cmr")
        .option("collection_concept_id", cid)
        .option("temporal_start", days[0].isoformat())
        .option("temporal_end", days[-1].isoformat())
        .option("fixture_dir", cmr_dir)
        .load()
        .filter(F.col("collection_concept_id") == cid)
    )
    links = extract_stac_json_links(granules, protocol=protocol)
    day_rows = links.select(
        F.lit(collection_id).alias("collection_id"),
        F.to_date(F.substring("time_start", 1, 10)).alias("date"),
        "url",
    ).filter(F.col("date").isin(days))
    t_scan, _ = _timed(spark, "e1.scan", lambda: _noop(granules))
    t_links, _ = _timed(spark, "e1.links", lambda: _noop(links))
    t_write, written = _timed(
        spark, "e1.write", lambda: write_manifests(day_rows, dest, skip_existing=False)
    )
    n_granules = granules.count()
    n_links = links.count()
    return {
        "sources.cmr.scan_s": t_scan,
        "sources.cmr.granules": n_granules,
        "plans.daily_ingest.links_s": t_links - t_scan,
        "plans.daily_ingest.links_per_granule": n_links / max(n_granules, 1),
        "sinks.manifest.write_s": t_write - t_links,
        "sinks.manifest.files": len(written),
    }


def replay_e2(spark, links_src: str, dest: str, collection_id: str, year: int,
              month: int, month_end: dt.date, expect_written: int,
              expect_failed: int) -> dict[str, float]:
    """Prefix replay of ``write_monthly_stac_geoparquet``; returns
    layer self times plus ``replay_s``, the sum of all of them."""
    manifests = read_manifests(spark, links_src, collection_id, year, month)
    exp = expected_days(spark, dt.date(year, month, 1), month_end).select(
        F.dayofmonth("day").alias("day")
    )
    fetched = fetch_stac_items(fan_in_manifests(manifests).select("url"))
    ok, dead = split_failures(fetched)
    hoisted = (
        ok.withColumn("item", F.from_json("body", STAC_ITEM_SCHEMA))
        .select("url", "item.*")
        .withColumn("collection", F.lit(collection_id))
        .withColumn("mgrs_tile", extract_mgrs("url"))
        .withColumn("datetime", F.to_timestamp(F.col("properties.datetime")))
        .withColumn("eo_cloud_cover", F.col("properties.`eo:cloud_cover`"))
        .withColumn("bbox_xmin", F.element_at("bbox", 1))
        .withColumn("bbox_ymin", F.element_at("bbox", 2))
        .withColumn("bbox_xmax", F.element_at("bbox", 3))
        .withColumn("bbox_ymax", F.element_at("bbox", 4))
        .withColumn("geometry", F.col("geometry.coordinates"))
    )
    dim = mgrs_dim_table(spark, hoisted, "mgrs_tile")
    located = hoisted.join(F.broadcast(dim), "mgrs_tile", "left")
    keyed = located.withColumn(
        "hilbert_idx", hilbert_index_udf(F.col("tile_lon"), F.col("tile_lat"))
    ).select(
        "id", "collection", "datetime", "eo_cloud_cover", "mgrs_tile",
        F.col("tile_lon").alias("lon"), F.col("tile_lat").alias("lat"),
        "hilbert_idx", "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax",
        "geometry", "assets", "url",
    )
    clustered = keyed.repartitionByRange(F.col("hilbert_idx")).sortWithinPartitions(
        "hilbert_idx"
    )

    t_gate, _ = _timed(
        spark, "e2.gate", lambda: require_complete(exp, manifests.select("day"), key="day")
    )
    prefixes = []
    for layer, df in (
        ("sinks.manifest.read_s", manifests),
        ("sources.stac_fetch.fetch_s", fetched),
        ("plans.monthly_compact.parse_s", hoisted),
        ("functions.mgrs.dim_s", located),
        ("functions.spatial.hilbert_s", keyed),
        ("sinks.geoparquet.sort_s", clustered),
    ):
        t, _ = _timed(spark, f"e2.{layer}", lambda df=df: _noop(df))
        prefixes.append((layer, t))
    t_write, files = _timed(
        spark, "e2.write",
        lambda: write_geoparquet(keyed, dest, collection_id, year, month).collect(),
    )
    prefixes.append(("sinks.geoparquet.write_s", t_write))

    written = sum(r.n_rows for r in files)
    n_dead = dead.count()
    if written != expect_written or n_dead != expect_failed:
        raise ReplayMismatch(
            f"replay wrote {written} and dead-lettered {n_dead}; the pipeline"
            f" wrote {expect_written} and failed {expect_failed}"
        )
    out = self_times(prefixes)
    out["operators.completeness.gate_s"] = t_gate
    out["functions.mgrs.distinct_tiles"] = dim.count()
    out["sources.stac_fetch.dead_letters"] = n_dead
    out["replay_s"] = t_gate + t_write
    return out
