"""Reference-specific operator queries (SURVEY.md §2.B, phase 2).

The operators the reference actually ships — space-filling-curve
clustering keys (write.py:58-88), gap sessionization (the streaming
analog of its per-day batching), and tumbling-window aggregation —
re-expressed as single Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hls_stac_parquet_spark.functions.spatial import (
    HILBERT_P,
    hilbert_index_udf,
    morton_key,
    morton_key_sql,
)
from hls_stac_parquet_spark.queries.registry import query, t


@query(
    "q_hilbert_key",
    oracle=(
        "SELECT event_id, "
        # explicit floor: DuckDB CAST(double AS BIGINT) rounds-to-nearest
        # while Spark's cast truncates — floor() first on both sides
        + morton_key_sql("user_id % 256", "CAST(floor(value * 10) AS BIGINT) % 256",
                         dialect="duckdb")
        + " AS curve_key FROM events WHERE isfinite(value)"
    ),
)
def q_hilbert_key(spark, sf_dir):
    """Space-filling-curve key as pure SQL bit-interleave (A16).

    Morton (Z-order) is the oracle-expressible curve; same locality
    class as the reference's Hilbert key. Stays fully inside
    whole-stage codegen — no UDF. Non-finite values cannot be
    gridded (DuckDB raises on the cast, Spark NULLs the key) —
    excluded on both engines, the declared dirty-float semantic.
    """
    from hls_stac_parquet_spark.queries.registry import finite

    e = t(spark, sf_dir, "events").filter(finite(F.col("value")))
    return e.select(
        "event_id",
        morton_key(
            F.col("user_id") % 256,
            F.floor(F.col("value") * 10) % 256,
        ).alias("curve_key"),
    )


def _hilbert_exact_oracle() -> str:
    """The exact p=14 xy→d loop unrolled to SQL (the generator twin
    in functions/spatial.py::hilbert_xy2d_sql) over the same
    quantization — bit-for-bit, pure integer arithmetic."""
    from hls_stac_parquet_spark.functions.spatial import (
        HILBERT_ERROR_SENTINEL,
        hilbert_xy2d_sql,
    )

    inner = (
        "(SELECT event_id, "
        "CAST(least(greatest(floor((lon + 180.0) / 360.0 * 16384.0), 0), "
        "16383) AS BIGINT) AS gx, "
        "CAST(least(greatest(floor((lat + 90.0) / 180.0 * 16384.0), 0), "
        "16383) AS BIGINT) AS gy, bad "
        "FROM (SELECT event_id, "
        "CAST(user_id % 360 AS DOUBLE) - 180.0 AS lon, "
        "(value % 180) - 90.0 AS lat, "
        "(user_id IS NULL OR value IS NULL OR isnan(value)) AS bad "
        "FROM events))"
    )
    return (
        "SELECT event_id, CASE WHEN bad THEN "
        f"{HILBERT_ERROR_SENTINEL} ELSE hd END AS hilbert_idx "
        f"FROM {hilbert_xy2d_sql(14, 'gx', 'gy', inner)}"
    )


@query("q_hilbert_curve_exact", oracle=_hilbert_exact_oracle(), bench=False)
def q_hilbert_curve_exact(spark, sf_dir):
    """Exact Hilbert distance (write.py:58-88 parity), p=14 grid.

    Vectorized pandas UDF (numpy xy→d). FULL oracle (round-5 upgrade
    from rows-only): the fixed-order xy→d loop unrolls to 14 chained
    SQL steps of pure integer arithmetic
    (functions/spatial.py::hilbert_xy2d_sql), so the driver
    hash-checks every distance bit-for-bit — including the NaN/NULL
    sentinel rows; bijectivity and locality additionally
    property-tested in tests/test_spatial.py.
    """
    e = t(spark, sf_dir, "events")
    lon = (F.col("user_id") % 360).cast("double") - 180.0
    lat = (F.col("value") % 180).cast("double") - 90.0
    return e.select(
        "event_id",
        hilbert_index_udf(lon, lat).alias("hilbert_idx"),
    )


@query(
    "q_sessionize",
    oracle=(
        "SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id FROM ("
        "SELECT event_id, user_id, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS session_id FROM ("
        "SELECT event_id, user_id, ts, "
        "CASE WHEN epoch(ts) - lag(epoch(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) > 1800.0 "
        "THEN 1 ELSE 0 END AS is_new FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL))"
    ),
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min idle gap → new session).

    Batch-expressible stateful operator: lag + cumulative sum over a
    per-user ordered window — one shuffle on user_id, no Python.

    NULL semantics declared on BOTH engines: an event with no
    timestamp or no user cannot be placed in a session and is
    excluded (Spark orders NULL ts FIRST, DuckDB LAST — the round-6
    key-fuzz sweep caught the divergence).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ (not castable to double); timestampdiff from a
    # fixed NTZ epoch gives exact integer microseconds, timezone-free —
    # matching the oracle's fractional epoch() diff at full precision.
    e = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).withColumn(
        "ts_us",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"),
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    e = e.withColumn("is_new", F.when(gap > 1800 * 1000_000, 1).otherwise(0))
    return e.select(
        "event_id",
        "user_id",
        F.sum("is_new").over(w).cast("bigint").alias("session_id"),
    )


@query(
    "q_tumbling_window_agg",
    oracle=(
        "SELECT date_trunc('hour', ts) AS win_start, "
        "count(*) AS n_events, round(sum(value), 2) AS sum_value, "
        "round(avg(value), 6) AS avg_value "
        "FROM events WHERE ts IS NOT NULL GROUP BY win_start"
    ),
)
def q_tumbling_window_agg(spark, sf_dir):
    """Tumbling-window aggregate via Spark's window() — the same
    expression runs unchanged under Structured Streaming with a
    watermark.

    NULL semantics declared on BOTH engines: a NULL-ts event belongs
    to no window (Spark's window() silently drops it; the oracle
    filter makes DuckDB agree instead of emitting a NULL bucket)."""
    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value",
                "avg_value")
    )


@query(
    "q_session_window_agg",
    oracle=(
        "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
        "count(*) AS n_events FROM ("
        "SELECT user_id, ts, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS session_id FROM ("
        "SELECT event_id, user_id, ts, "
        "CASE WHEN epoch(ts) - lag(epoch(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) >= 1800.0 "
        "THEN 1 ELSE 0 END AS is_new FROM events "
        "WHERE ts IS NOT NULL AND user_id IS NOT NULL)) "
        "GROUP BY user_id, session_id"
    ),
)
def q_session_window_agg(spark, sf_dir):
    """Per-session aggregates via Spark's NATIVE session_window — the
    merging-interval operator q_sessionize hand-builds with lag+cumsum
    becomes one groupBy; the same expression runs under Structured
    Streaming with a watermark (state-store-backed session merging).
    Boundary semantics: an event exactly `gap` after the previous one
    opens a NEW session (windows touch but don't overlap), hence the
    oracle's >=. session_end is max(ts), not window.end (which is
    last-event + gap). NULL ts / user_id rows are excluded on BOTH
    engines (session_window drops NULL ts silently; the oracle filter
    makes DuckDB agree)."""
    e = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
