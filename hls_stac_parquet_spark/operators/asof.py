"""As-of (temporal point-in-time) join.

The reference pipeline never needs one, but any event-attribution or
time-series enrichment workload does ("for each purchase, the latest
preceding click of the same user"). Spark has no built-in ASOF JOIN
(DuckDB/Pandas do), and the naive formulations both fail at 100 TB:

- range join (``l.ts >= r.ts`` theta join + keep-latest): builds the
  full cross product per key before pruning — quadratic in key
  cardinality's hot spots;
- broadcast lookup: caps the right side at executor memory.

The scalable formulation is the *merge* one: tag both sides, union,
hash-partition by key, sort each partition by (ts, side), and carry
the most recent right-side payload forward with ``last(...,
ignorenulls=True)`` over a running window. One shuffle on the key,
one partition-local sort, zero row amplification — the same plan a
native ASOF merge join would pick. (Pattern: union-sort-carry-forward,
as used for point-in-time joins in feature-store pipelines.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    ts_col: str = "ts",
    matched_ts_alias: str = "matched_ts",
    direction: str = "backward",
    tolerance: str | int | float | None = None,
) -> DataFrame:
    """Left as-of join: for every left row, attach the payload of the
    latest right row of the same ``by`` key with ``right.ts <= left.ts``;
    left rows with no prior right row keep NULL payloads (ASOF LEFT
    semantics). Both sides carry their time in ``ts_col``.

    ``direction`` selects which right row matches:

    - ``"backward"`` (default): latest right row at/before left.ts;
    - ``"forward"``: earliest right row at/after left.ts;
    - ``"nearest"``: whichever of the two is closer in time, ties
      (equal distance, including an exact-ts match at distance 0)
      resolving backward. Still ONE shuffle + ONE partition sort:
      both candidates come from the same sorted window pass (carry-
      forward ``last`` + carry-backward ``first``), never a second
      join.

    ``tolerance`` (pandas merge_asof semantics) NULLs the match when
    it is farther than the bound: an interval string (``"2 hours"``)
    for timestamp keys or a number for numeric keys. Applied AFTER
    the carry — a too-old match does not fall back to an even older
    one (there is none closer by construction), it becomes a miss.

    Every non-key, non-ts right column becomes a payload column carried
    onto the matched left rows; the matched right timestamp itself is
    exposed as ``matched_ts_alias``. Payload/left column names must not
    collide (rename before joining — keeps the result schema explicit).

    If the right side has several rows per (key, ts) the winner among
    them is unspecified — pre-aggregate the right side to one row per
    (key, ts) for a deterministic result (cheap: it's the same shuffle
    key this join uses, so the aggregation pipelines into the sort).

    Skew note: a single hot key lands in one partition (windows cannot
    split a key). For planet-scale hot keys, bucket ``ts`` into coarse
    epochs, run the join per (key, epoch) with the previous epoch's
    tail row appended, then union — same semantics, bounded partitions.
    """
    by = list(by)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    payload = [c for c in right.columns if c not in by and c != ts_col]
    overlap = set(payload) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {sorted(overlap)}")

    # Side ordering within an equal-ts group decides tie visibility.
    # backward carries with last() over (preceding, current): the right
    # row is visible at equal ts iff it sorts BEFORE the left row.
    # forward carries with first() over (current, following): visible
    # at equal ts iff it sorts AFTER the left row. Both are inclusive;
    # nearest rides the backward order (an exact-ts match is distance
    # 0 and wins via the backward arm anyway).
    if direction == "forward":
        left_side, right_side = 0, 1
    else:  # backward / nearest
        right_side, left_side = 0, 1

    # The whole right payload rides in ONE struct column so last(...,
    # ignorenulls=True) carries the matched row as a unit. Per-column
    # carry would be wrong for nullable payloads: a NULL field in the
    # latest right row would be back-filled from an OLDER right row,
    # yielding a frankenrow that never existed.
    payload_type = StructType(
        [StructField(matched_ts_alias, right.schema[ts_col].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in payload]
    )
    l_tagged = left.select(
        *by,
        F.col(ts_col).alias("_asof_ts"),
        F.lit(left_side).alias("_asof_side"),
        *[F.col(c) for c in left.columns if c not in by and c != ts_col],
        F.lit(None).cast(payload_type).alias("_asof_payload"),
    )
    r_tagged = right.select(
        *by,
        F.col(ts_col).alias("_asof_ts"),
        F.lit(right_side).alias("_asof_side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in by and c != ts_col
        ],
        F.struct(
            F.col(ts_col).alias(matched_ts_alias),
            *[F.col(c) for c in payload],
        ).alias("_asof_payload"),
    )

    order = Window.partitionBy(*by).orderBy("_asof_ts", "_asof_side")
    w_back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    if direction == "backward":
        carried_payload = F.last("_asof_payload", ignorenulls=True).over(w_back)
    elif direction == "forward":
        carried_payload = F.first("_asof_payload", ignorenulls=True).over(w_fwd)
    else:  # nearest: both arms off the SAME sorted partition pass
        back = F.last("_asof_payload", ignorenulls=True).over(w_back)
        fwd = F.first("_asof_payload", ignorenulls=True).over(w_fwd)
        # subtraction yields a comparable day-time interval for
        # timestamp/timestamp_ntz columns and a numeric for numeric ts
        # columns (NTZ is not castable to double in Spark 4)
        back_dist = F.col("_asof_ts") - back[matched_ts_alias]
        fwd_dist = fwd[matched_ts_alias] - F.col("_asof_ts")
        carried_payload = (
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(back_dist <= fwd_dist, back)
            .otherwise(fwd)
        )
    if tolerance is not None:
        tol = (
            F.expr(f"INTERVAL {tolerance}")
            if isinstance(tolerance, str)
            else F.lit(tolerance)
        )
        mts = carried_payload[matched_ts_alias]
        # absolute distance works for every direction; interval
        # subtraction keeps timestamp_ntz support (no double cast)
        dist = F.when(
            mts >= F.col("_asof_ts"), mts - F.col("_asof_ts")
        ).otherwise(F.col("_asof_ts") - mts)
        carried_payload = F.when(dist <= tol, carried_payload)
    carried = l_tagged.unionByName(r_tagged).select(
        *by,
        "_asof_ts",
        "_asof_side",
        *[c for c in left.columns if c not in by and c != ts_col],
        carried_payload.alias("_asof_payload"),
    )
    # field access on a NULL struct yields NULL — unmatched left rows
    # keep NULL payloads, preserving ASOF LEFT semantics.
    return carried.filter(F.col("_asof_side") == left_side).select(
        *by,
        F.col("_asof_ts").alias(ts_col),
        *[c for c in left.columns if c not in by and c != ts_col],
        F.col(f"_asof_payload.{matched_ts_alias}").alias(matched_ts_alias),
        *[F.col(f"_asof_payload.{c}").alias(c) for c in payload],
    )
