"""E1 — daily STAC-link cache (SURVEY.md §3 E1).

Reference flow (links.py:62-119): idempotency HEAD → CMR query with
pushed predicates → paginated scan → per-granule first stac.json link
→ one JSON manifest per (collection, day).

Spark shape: the uncached days → :func:`scan_cmr` (the collection,
bbox and day windows compiled into each catalog request) →
higher-order-function link extraction (array filter +
try_element_at: **zero shuffle** — the reference's A6 loop becomes a
single projected expression) → manifest sink.

The reference runs one Lambda per day (A22/A24); here a list of days
is one job whose scan tasks are contiguous runs of those days, at
most ``defaultParallelism`` of them, run as ``mapInArrow`` tasks in
the session's ordinary Python workers — no Data Source planner
processes start. The control plane collapses into the plan. Catalog
concurrency is unchanged: each day is still its own cursor-paged
query, and no more tasks than cores run at once. Days already cached
are never queried, even when they sit between uncached ones.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hls_stac_parquet_spark.sinks.manifest import manifest_key, write_manifests
from hls_stac_parquet_spark.sources.cmr import scan_cmr
from hls_stac_parquet_spark.store import get_store


def extract_stac_json_links(
    granules: DataFrame, protocol: str = "https"
) -> DataFrame:
    """Per granule, the first link href ending ``stac.json`` with the
    requested protocol (cmr_api.py:74-105). Malformed/linkless rows
    drop out via NULL, mirroring the reference's silent skip — but as
    an explicit filter, not an exception swallow.

    Pure higher-order functions: no explode, no groupBy, no shuffle.
    ``try_element_at`` because under ANSI mode ``element_at`` raises
    on a linkless granule's empty match array.
    """
    first_match = F.try_element_at(
        F.filter(
            F.col("links"),
            lambda l: l["href"].isNotNull()
            & l["href"].endswith("stac.json")
            & l["href"].startswith(protocol),
        ),
        F.lit(1),
    )["href"]
    return granules.withColumn("url", first_match).filter(
        F.col("url").isNotNull()
    )


def cache_daily_stac_json_links(
    spark: SparkSession,
    collection_concept_id: str,
    collection_id: str,
    start_date: dt.date,
    dest: str,
    end_date: dt.date | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    protocol: str = "https",
    fixture_dir: str | None = None,
    endpoint: str | None = None,
) -> list[str]:
    """Cache stac.json link manifests for [start_date, end_date].

    Returns the list of written manifest paths. Idempotent: days
    already cached are dropped on the driver *before* any catalog I/O
    (A9 as a work-unit filter), one ``exists`` per day, and the write
    tasks do not probe again."""
    end_date = end_date or start_date
    days = [
        start_date + dt.timedelta(days=i)
        for i in range((end_date - start_date).days + 1)
    ]
    store = get_store(dest)
    days = [
        d for d in days if not store.exists(manifest_key(collection_id, d))
    ]
    if not days:
        return []

    options = {"collection_concept_id": collection_concept_id}
    if bbox:
        options["bbox"] = ",".join(str(v) for v in bbox)
    if fixture_dir:
        options["fixture_dir"] = fixture_dir
    if endpoint:
        options["endpoint"] = endpoint
    granules = scan_cmr(spark, [d.isoformat() for d in days], options).filter(
        F.col("collection_concept_id") == collection_concept_id
    )
    links = extract_stac_json_links(granules, protocol=protocol)
    day_rows = links.select(
        F.lit(collection_id).alias("collection_id"),
        F.to_date(F.substring("time_start", 1, 10)).alias("date"),
        "url",
    ).filter(F.col("date").isin(days))
    return write_manifests(day_rows, dest, skip_existing=False)
