"""Spatial query path over the clustered GeoParquet output.

This is WHY the reference Hilbert-sorts before writing
(write.py:204-219): items near each other on the globe land in the
same files/row groups, so a bbox query prunes most of the dataset via
parquet column statistics instead of scanning it.

Two pruning layers, both free at query time:
1. file/row-group skip on the hoisted bbox_* columns (parquet min/max
   stats — effective precisely BECAUSE rows are Hilbert-clustered)
2. the same bbox predicate re-applied row-wise by codegen

``bbox_query`` expresses the standard rectangle-intersection test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hls_stac_parquet_spark.sinks.geoparquet import GEOPARQUET_DATASET_DIR
from hls_stac_parquet_spark.store import get_store


def read_geoparquet(spark: SparkSession, dest: str, collection_id: str,
                    version: str = "1") -> DataFrame:
    """Read the whole clustered dataset (hive year=/month= partitions
    discovered and pruned by Spark's file index)."""
    root = get_store(dest).spark_url(
        GEOPARQUET_DATASET_DIR.format(version=version, collection_id=collection_id)
    )
    return spark.read.option("basePath", root).parquet(root)


def bbox_filter(w: float, s: float, e: float, n: float):
    """Rectangle-intersection predicate over the hoisted bbox columns
    (A3's pushed-down spatial filter, now on OUR sink's output).

    Intersection (not containment): item_xmin <= e AND item_xmax >= w
    AND item_ymin <= n AND item_ymax >= s. Each conjunct is a single-
    column range predicate — exactly what parquet stats can prune.
    """
    return (
        (F.col("bbox_xmin") <= e)
        & (F.col("bbox_xmax") >= w)
        & (F.col("bbox_ymin") <= n)
        & (F.col("bbox_ymax") >= s)
    )


def bbox_query(
    spark: SparkSession,
    dest: str,
    collection_id: str,
    bbox: tuple[float, float, float, float],
    year: int | None = None,
    month: int | None = None,
    version: str = "1",
) -> DataFrame:
    """Items intersecting bbox, with optional partition pruning on
    year/month (hive-style directories → PruneFileSourcePartitions)."""
    df = read_geoparquet(spark, dest, collection_id, version)
    if year is not None:
        df = df.filter(F.col("year") == year)
    if month is not None:
        df = df.filter(F.col("month") == month)
    return df.filter(bbox_filter(*bbox))
