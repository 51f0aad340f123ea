"""Interval-overlap join — equi-keyed intervals joined on temporal
overlap without a quadratic nested loop.

The reference's only temporal reasoning is point-in-range (day-window
filters, cmr_api.py:37-38 / links.py:105-106); this generalizes to
interval×interval overlap, the join class behind session-collision
analysis, meeting/booking conflicts, and stream-stream interval joins.

Algorithm (grid bucketization, the standard distributed range-join
device): every interval lands in the ceil-span of fixed-width grid
cells it touches; candidate pairs are rows sharing (key, cell); each
surviving pair is ANCHORED to the single cell containing the later of
the two start points, so no dedup pass is needed — the same trick DBs
use for spatial grid joins.  The shuffle is keyed on (key, cell): at
100 TB the grid width tunes fan-out vs bucket density, and no task
ever sees more than one cell's intervals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPOCH0 = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
#: grid cell width: trades interval fan-out against bucket density
GRID_SECONDS = 3600


def _epoch_s(col: str | Column) -> Column:
    """Seconds since epoch for a TIMESTAMP_NTZ column (NTZ is not
    castable to long in Spark 4; timestampdiff is timezone-free)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff("SECOND", F.expr(_EPOCH0), c)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
) -> DataFrame:
    """Join rows whose [s, e] intervals overlap by more than zero,
    within equal ``by`` keys.

    Returns left ⨯ right columns (right's renamed with ``r_`` prefix
    where they collide) plus ``overlap_us``.  Exact: grid
    candidates are a superset of overlapping pairs (an overlapping
    pair always shares the cell of the later start, which lies inside
    both intervals), and each pair passes the filter in exactly one
    anchored cell.
    """
    lcell = F.explode(
        F.sequence(
            F.floor(_epoch_s("s") / GRID_SECONDS),
            F.floor(_epoch_s("e") / GRID_SECONDS),
        )
    ).alias("_cell")

    rename = {
        c: f"r_{c}"
        for c in right.columns
        if c in left.columns
    }
    r = right
    for old, new in rename.items():
        r = r.withColumnRenamed(old, new)
    # both sides carry ``s``/``e``, so the right pair is always renamed
    r_start, r_end = "r_s", "r_e"
    r_by = [rename.get(k, k) for k in by]

    rcell = F.explode(
        F.sequence(
            F.floor(_epoch_s(r_start) / GRID_SECONDS),
            F.floor(_epoch_s(r_end) / GRID_SECONDS),
        )
    ).alias("_rcell")

    a = left.select("*", lcell)
    b = r.select("*", rcell)

    cond = F.col("_cell") == F.col("_rcell")
    for lk, rk in zip(by, r_by):
        cond = cond & (F.col(lk) == F.col(rk))

    # MICROSECOND diff: exact at the storage precision on both
    # engines; SECOND-granularity diffs count boundary crossings in
    # DuckDB but truncate in Spark, so they disagree on sub-second
    # components
    overlap_us = F.timestamp_diff(
        "MICROSECOND",
        F.greatest(F.col("s"), F.col(r_start)),
        F.least(F.col("e"), F.col(r_end)),
    )
    anchor = F.floor(
        _epoch_s(F.greatest(F.col("s"), F.col(r_start))) / GRID_SECONDS
    )
    out = (
        a.join(b, cond)
        .filter((overlap_us > 0) & (F.col("_cell") == anchor))
        .withColumn("overlap_us", overlap_us)
        .drop("_cell", "_rcell", *r_by)
    )
    return out
