"""hls_stac_parquet_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
pipeline ``MAAP-Project/hls-stac-parquet`` (an async Python ETL that
caches CMR/STAC catalog results and compacts them into spatially
clustered GeoParquet), generalized into a reusable, 100-TB-scale
operator library on the Spark DataFrame/SQL/Catalyst stack.

Layout
------
- ``session``    — SparkSession factory (AQE, Arrow, zstd defaults)
- ``model``      — explicit StructTypes for the catalog data shapes
- ``functions``  — scalar/column function library (spatial keys, text,
                   url/regex helpers) — JVM-side built-ins first
- ``operators``  — composable DataFrame→DataFrame transforms
                   (dedup, similarity, completeness, ...)
- ``sources``    — CMR catalog DataSource (pushdown + pagination,
                   plus its streaming reader) and the distributed
                   STAC fetcher
- ``sinks``      — manifest JSON, clustered GeoParquet month and
                   training-shard writers
- ``plans``      — end-to-end pipelines (daily ingest E1, monthly
                   compaction E2) built from the pieces above
- ``worker_daemon`` — Spark's Python worker daemon, with numpy,
                   pandas and pyarrow imported before it forks
"""

__version__ = "0.1.0"
