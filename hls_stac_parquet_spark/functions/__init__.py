"""Column-function library.

Everything here returns Spark ``Column`` expressions built from JVM
built-ins whenever possible (whole-stage codegen), with vectorized
pandas UDFs only where a genuine library/algorithm gap exists
(Hilbert curve, MGRS decode).
"""

from hls_stac_parquet_spark.functions.spatial import (  # noqa: F401
    hilbert_index_udf,
    hilbert_xy2d,
    morton_key_sql,
    morton_key,
)
from hls_stac_parquet_spark.functions.text import (  # noqa: F401
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from hls_stac_parquet_spark.functions.urls import (  # noqa: F401
    MGRS_TILE_PATTERN,
    extract_mgrs,
)
