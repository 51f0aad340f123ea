"""Explicit schemas for the catalog data shapes (SURVEY.md §1).

The reference infers every schema at write time from Python dicts
(rustac does the Arrow inference, write.py:240-245). Schema-on-read
over 100 TB of JSON is the #1 scale killer, so this engine pins
StructTypes for the two JSON shapes it parses (D1 CMR granules, D3
STAC items) and parses with
``from_json(col, schema)`` + a corrupt-record column instead of
silently skipping malformed rows (cmr_api.py:89-104).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: D1 — one row per CMR granule search result (cassette-observed shape,
#: FIXTURES.md A1). ``cloud_cover`` is numeric-as-string in CMR JSON.
CMR_GRANULE_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("producer_granule_id", StringType()),
        StructField("title", StringType()),
        StructField("collection_concept_id", StringType()),
        StructField("dataset_id", StringType()),
        StructField("data_center", StringType()),
        StructField("time_start", StringType()),
        StructField("time_end", StringType()),
        StructField("updated", StringType()),
        StructField("cloud_cover", StringType()),
        StructField("day_night_flag", StringType()),
        StructField("coordinate_system", StringType()),
        StructField("browse_flag", BooleanType()),
        StructField("online_access_flag", BooleanType()),
        StructField("original_format", StringType()),
        StructField("polygons", ArrayType(ArrayType(StringType()))),
        StructField(
            "links",
            ArrayType(
                StructType(
                    [
                        StructField("rel", StringType()),
                        StructField("title", StringType()),
                        StructField("hreflang", StringType()),
                        StructField("href", StringType()),
                    ]
                )
            ),
        ),
        StructField("_corrupt_record", StringType()),
    ]
)

_ASSET_STRUCT = StructType(
    [
        StructField("href", StringType()),
        StructField("type", StringType()),
        StructField("title", StringType()),
        StructField("roles", ArrayType(StringType())),
    ]
)

#: D3 — one row per fetched STAC item (STAC 1.0 Feature). ``assets``
#: as MapType — the stac-geoparquet decision point (SURVEY.md D3):
#: HLS band keys (B01..B12, Fmask, ...) are open-ended per collection.
STAC_ITEM_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("stac_version", StringType()),
        StructField("stac_extensions", ArrayType(StringType())),
        StructField("id", StringType()),
        StructField(
            "geometry",
            StructType(
                [
                    StructField("type", StringType()),
                    StructField(
                        "coordinates",
                        ArrayType(ArrayType(ArrayType(DoubleType()))),
                    ),
                ]
            ),
        ),
        StructField("bbox", ArrayType(DoubleType())),
        StructField(
            "properties",
            StructType(
                [
                    StructField("datetime", StringType()),
                    StructField("start_datetime", StringType()),
                    StructField("end_datetime", StringType()),
                    StructField("eo:cloud_cover", DoubleType()),
                    StructField("proj:epsg", LongType()),
                    StructField("proj:transform", ArrayType(DoubleType())),
                ]
            ),
        ),
        StructField("assets", MapType(StringType(), _ASSET_STRUCT)),
        StructField(
            "links",
            ArrayType(
                StructType(
                    [
                        StructField("rel", StringType()),
                        StructField("href", StringType()),
                    ]
                )
            ),
        ),
        StructField("collection", StringType()),
    ]
)

#: fetch-stage output: raw item JSON + error tag (A19 split)
FETCH_RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("body", StringType()),
        StructField("fetch_error", StringType()),
    ]
)
