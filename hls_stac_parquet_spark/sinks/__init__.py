"""Sinks: manifest JSON (D2) and GeoParquet (D4)."""

from hls_stac_parquet_spark.sinks.geoparquet import (  # noqa: F401
    geojson_polygon_to_wkb,
    geoparquet_month_dir,
    write_geoparquet,
)
from hls_stac_parquet_spark.sinks.manifest import (  # noqa: F401
    manifest_key,
    read_manifests,
    write_manifests,
)
