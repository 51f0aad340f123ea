"""Distributed global order statistics: ranks and running totals
without an unpartitioned window.

``Window.orderBy(...)`` with no ``partitionBy`` funnels EVERY row
through one task (``Exchange SinglePartition``) — the canonical
100 TB scale cliff for global ranks, shuffle positions, running
sums, and ECDFs. These kernels compute identical results with the
range-partition + broadcast-prefix-offset recipe (first used by
q_auc, stats.py, and pinned independently of the oracle sweep by
tests/test_properties.py::test_range_partitioned_global_rank_invariant):

    repartitionByRange(order keys)        # the ONLY fact-scale shuffle
    rank / running-sum locally per partition
    + broadcast per-partition prefix offsets   # #partitions-sized dim

Two invariants make local-plus-offset equal the global window value
row for row: ``spark_partition_id()`` increases along the range
order, and equal keys never straddle a range boundary
(RangePartitioning compares by key). Both hold under AQE partition
coalescing (coalesced ids stay ordered and contiguous) and are
pinned by the property test above.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hls_stac_parquet_spark.tuning import materialize

_PID = "_gr_pid"


def _range_partitioned(
    df: DataFrame, order_by: Sequence[Column], checkpoint: bool = True
):
    # materialize first: repartitionByRange SAMPLES its input to
    # pick boundaries, so the upstream plan would otherwise run twice
    # (once for the sample job, once for the shuffle write) — ruinous
    # when the input is itself an aggregate/explode chain. One eager
    # materialization makes both passes re-read, not re-compute.
    # checkpoint=False skips that eager job when the caller KNOWS the
    # input is a cheap scan-side projection (re-scanning parquet twice
    # costs less than a materialization barrier — measured r8 on the
    # job-latency-bound rank queries).
    if checkpoint:
        df = materialize(df)
    part = df.repartitionByRange(*order_by).withColumn(
        _PID, F.spark_partition_id()
    )
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    return part, w_off


def with_global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str,
    total_col: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_by)`` as a distributed
    plan: one range shuffle + a per-partition window + a broadcast
    join against the #partitions-sized offset dim.

    Rows with EQUAL order keys get the run of ranks in arbitrary
    order within the tie (they share a partition, so the set of ranks
    is still exact) — pass a tie-breaking key when the caller needs a
    deterministic total order, exactly as with a plain window.

    ``total_col`` additionally attaches the global row count to every
    row (it rides in the same broadcast offset dim — no extra pass).
    """
    part, w_off = _range_partitioned(df, order_by, checkpoint)
    counts = part.groupBy(_PID).agg(F.count("*").alias("_n"))
    w_all = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        _PID,
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        *([F.sum("_n").over(w_all).alias(total_col)] if total_col else []),
    )
    w_loc = Window.partitionBy(_PID).orderBy(*order_by)
    return (
        part.withColumn("_lrn", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
        .drop(_PID, "_lrn", "_off")
    )


def with_global_ntile(
    df: DataFrame,
    order_by: Sequence[Column],
    k: int,
    out_col: str,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY order_by)`` as a distributed plan —
    the closed form from the global rank r and total n (SQL ntile:
    the first ``n mod k`` buckets hold ``ceil(n/k)`` rows, the rest
    ``floor(n/k)``), so quantile bucketing never funnels the relation
    through one task."""
    r = with_global_rank(df, order_by, "_gr_rn", total_col="_gr_n")
    q = F.floor(F.col("_gr_n") / k)
    rem = F.col("_gr_n") % k
    big = rem * (q + 1)
    rn = F.col("_gr_rn")
    bucket = F.when(rn <= big, F.floor((rn + q) / (q + 1))).otherwise(
        # greatest guards q=0 (n < k: every row is in the big branch,
        # but ANSI mode evaluates the divisor anyway)
        rem + F.ceil((rn - big) / F.greatest(q, F.lit(1)))
    )
    return r.withColumn(out_col, bucket.cast("int")).drop("_gr_rn", "_gr_n")


def with_global_cummax(
    df: DataFrame,
    order_by: Sequence[Column],
    maxes: Mapping[str, str],
    *,
    inclusive: bool = True,
) -> DataFrame:
    """Running maxima ``MAX(v) OVER (ORDER BY order_by ROWS UNBOUNDED
    PRECEDING .. {CURRENT ROW | 1 PRECEDING})`` for every
    ``out_col -> value_col`` in ``maxes``, from ONE range shuffle.
    ``inclusive=False`` gives the strictly-previous-rows frame (NULL
    for the global first row, like the plain window).

    Same contract as :func:`with_global_cumsum`: order keys must form
    a total order when the frame makes ties order-dependent.
    """
    part, w_off = _range_partitioned(df, order_by)
    pmax = part.groupBy(_PID).agg(
        *[F.max(v).alias(f"_m_{o}") for o, v in maxes.items()]
    )
    offsets = pmax.select(
        _PID,
        *[F.max(f"_m_{o}").over(w_off).alias(f"_om_{o}") for o in maxes],
    )
    hi = 0 if inclusive else -1
    w_loc = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    out = part.join(F.broadcast(offsets), _PID)
    for o, v in maxes.items():
        # greatest skips NULLs: first row of a partition has a NULL
        # local prev-max, first partition a NULL offset — NULL result
        # only when both are (the global first row), as with the
        # plain window
        out = out.withColumn(
            o, F.greatest(F.max(v).over(w_loc), F.col(f"_om_{o}"))
        )
    return out.drop(_PID, *[f"_om_{o}" for o in maxes])


def with_global_cumsum(
    df: DataFrame,
    order_by: Sequence[Column],
    sums: Mapping[str, str],
) -> DataFrame:
    """Running totals ``SUM(v) OVER (ORDER BY order_by ROWS UNBOUNDED
    PRECEDING..CURRENT ROW)`` for every ``out_col -> value_col`` in
    ``sums``, all computed from ONE range shuffle (the per-partition
    sums of every value column ride in the same broadcast offset
    dim).

    Order keys must form a total order (unique rows per key) — with
    duplicate keys a ROWS frame is order-dependent within the tie,
    same as the plain window. For RANGE-frame (tie-inclusive)
    semantics, aggregate per key first and cumsum the aggregate.
    """
    part, w_off = _range_partitioned(df, order_by)
    psums = part.groupBy(_PID).agg(
        *[F.sum(v).alias(f"_s_{o}") for o, v in sums.items()]
    )
    offsets = psums.select(
        _PID,
        *[
            F.coalesce(F.sum(f"_s_{o}").over(w_off), F.lit(0)).alias(
                f"_off_{o}"
            )
            for o in sums
        ],
    )
    w_loc = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = part.join(F.broadcast(offsets), _PID)
    for o, v in sums.items():
        out = out.withColumn(
            o,
            F.coalesce(F.sum(v).over(w_loc), F.lit(0)) + F.col(f"_off_{o}"),
        )
    return out.drop(_PID, *[f"_off_{o}" for o in sums])
