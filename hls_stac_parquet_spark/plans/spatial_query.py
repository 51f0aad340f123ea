"""Spatial query path over the clustered GeoParquet output.

This is WHY the reference Hilbert-sorts before writing
(write.py:204-219): items near each other on the globe land in the
same files/row groups, so a bbox query touches little of the dataset.

``bbox_query`` runs in one of two tiers, chosen per call:

1. **Driver tier.** On a local POSIX root, the dataset is discovered
   with ``pyarrow.dataset`` (hive partitioning), its files pruned by
   ``year``/``month`` partition *value* (an unpadded reference-layout
   ``month=7`` matches as it does in Spark) and, when the surviving
   files total at most :data:`DRIVER_READ_MAX_BYTES`, read on the
   driver with the bbox predicate (row groups skipped by footer
   statistics) and handed to Spark as a local DataFrame. No file
   listing job, schema inference or scan plan.
2. **Spark tier.** Everything else — object-store roots, a missing
   root, data over the bound — is one Spark scan: partition filters
   prune the hive directories, the bbox conjuncts are pushed to the
   parquet reader (file/row-group skip on the hoisted ``bbox_*``
   column statistics) and re-applied row-wise.

The tiers agree exactly: the same rows, the same Spark schema (every
column nullable, as Spark's file reader reports it) and the same
predicate on degenerate input — an item whose bbox has a NULL or NaN
coordinate intersects no box in either tier (:func:`bbox_filter`
says why Spark needs a NaN guard), and a NaN query bound is an
error.
"""

from __future__ import annotations

import math
import os

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from hls_stac_parquet_spark.sinks.geoparquet import GEOPARQUET_DATASET_DIR
from hls_stac_parquet_spark.store import LocalStore, get_store

#: largest total on-disk size of the partition-pruned files that
#: ``bbox_query`` reads on the driver. Measured on clustered months of
#: 0.4-24 MB (4 vCPUs, process-tree CPU per query): for 0.5-8 degree
#: boxes the driver tier costs 135-300 ms against the Spark tier's
#: 380-1030 ms at every size, so there is no break-even below 24 MB;
#: a box returning the whole month ships every row Python → JVM →
#: Python and costs 0.75-1.4x the Spark tier (break-even ~1 MB). The
#: bound is therefore the cap: one full ``ROWS_PER_FILE`` file of the
#: sink (~10 MB on disk, ~280 MB decoded), so a driver read never
#: holds more than one writer task does.
DRIVER_READ_MAX_BYTES = 10 << 20


def _dataset_root(dest: str, collection_id: str) -> tuple[bool, str]:
    """(is a local POSIX path, Spark-readable root) of a collection."""
    store = get_store(dest)
    root = store.spark_url(
        GEOPARQUET_DATASET_DIR.format(collection_id=collection_id)
    )
    if root is None:
        raise ValueError(
            "bbox_query needs a Spark-readable store "
            "(POSIX path or s3a-capable cluster)"
        )
    return isinstance(store, LocalStore), root


def bbox_filter(w: float, s: float, e: float, n: float):
    """Rectangle-intersection predicate over the hoisted bbox columns
    (A3's pushed-down spatial filter, now on OUR sink's output).

    Intersection (not containment): item_xmin <= e AND item_xmax >= w
    AND item_ymin <= n AND item_ymax >= s. Each conjunct is a single-
    column range predicate — exactly what parquet stats can prune.

    A NULL or NaN item coordinate never intersects. Spark orders NaN
    above every double, so the ``>=`` conjuncts also require a non-NaN
    value: parquet min/max statistics leave NaN out, so without the
    guard a pushed ``bbox_xmax >= w`` drops a NaN row from some row
    groups and keeps it in others.
    """
    return (
        (F.col("bbox_xmin") <= e)
        & (F.col("bbox_xmax") >= w)
        & ~F.isnan("bbox_xmax")
        & (F.col("bbox_ymin") <= n)
        & (F.col("bbox_ymax") >= s)
        & ~F.isnan("bbox_ymax")
    )


def _arrow_bbox_filter(w: float, s: float, e: float, n: float):
    """:func:`bbox_filter` as a pyarrow expression (pyarrow compares
    NaN false to everything, so it needs no NaN guard)."""
    return (
        (ds.field("bbox_xmin") <= e)
        & (ds.field("bbox_xmax") >= w)
        & (ds.field("bbox_ymin") <= n)
        & (ds.field("bbox_ymax") >= s)
    )


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable — the schema
    Spark's file reader reports for any parquet file."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _driver_read(spark: SparkSession, root: str, bbox, year: int | None,
                 month: int | None) -> DataFrame | None:
    """The driver tier, or None when the Spark tier must run instead
    (no dataset at ``root``, a partition column it lacks, or more than
    DRIVER_READ_MAX_BYTES of files after partition pruning)."""
    if not os.path.isdir(root):
        return None
    dataset = ds.dataset(root, format="parquet", partitioning="hive")
    if not dataset.files:
        return None
    part = None  # the year/month filter, on partition values
    for k, v in (("year", year), ("month", month)):
        if v is None:
            continue
        if k not in dataset.partitioning.schema.names:
            return None
        part = ds.field(k) == v if part is None else part & (ds.field(k) == v)
    pruned = dataset.get_fragments(filter=part)
    if sum(os.path.getsize(f.path) for f in pruned) > DRIVER_READ_MAX_BYTES:
        return None
    pred = _arrow_bbox_filter(*bbox)
    table = dataset.to_table(filter=pred if part is None else part & pred)
    if table.num_rows == 0:
        # an empty scan may yield no batches, and PySpark cannot
        # convert a column of no chunks
        table = table.schema.empty_table()
    schema = _nullable(from_arrow_schema(table.schema, prefer_timestamp_ntz=True))
    return spark.createDataFrame(table, schema=schema)


def bbox_query(
    spark: SparkSession,
    dest: str,
    collection_id: str,
    bbox: tuple[float, float, float, float],
    year: int | None = None,
    month: int | None = None,
) -> DataFrame:
    """Items intersecting bbox, with optional partition pruning on
    year/month. Small local reads run on the driver (see the module
    docstring); the rest is one Spark scan whose hive-directory
    pruning and pushed bbox filters show in its plan."""
    if any(math.isnan(v) for v in bbox):
        raise ValueError(f"bbox_query needs a bbox without NaN, got {bbox}")
    local, root = _dataset_root(dest, collection_id)
    if local:
        df = _driver_read(spark, root, bbox, year, month)
        if df is not None:
            return df
    df = spark.read.option("basePath", root).parquet(root)
    if year is not None:
        df = df.filter(F.col("year") == year)
    if month is not None:
        df = df.filter(F.col("month") == month)
    return df.filter(bbox_filter(*bbox))
