"""Exact grouped quantiles, sort-based.

Spark's builtin exact ``percentile`` aggregate carries EVERY value of
a group through the shuffle inside one aggregation buffer (an
OpenHashMap per group) — at 100 TB a hot group's buffer is a
single-task memory cliff, and even at bench scale the map-encoded
buffer loses to a plain sorted shuffle by ~1.8× (measured in
q_percentile, extras.py). This kernel computes the same interpolated
quantiles (type-7, ≡ DuckDB ``quantile_cont``) from a per-group sort:

    rank every row (row_number over the group-partitioned value
    sort), then ONE conditional-sum aggregate picks and interpolates
    the two boundary rows per requested quantile.

The shuffle carries plain columns, per-group state during
aggregation is O(#probs), and ties are safe (the multiset at any
rank is identical however equal values permute). Window-over-sort
does materialize each group's partition for ranking — for truly
monstrous single groups the range-partitioned global-rank recipe
(q_auc, stats.py) composes with the same conditional-sum tail.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from hls_stac_parquet_spark.tuning import materialize

#: ``grouped_quantiles(ranged="auto")`` takes the range tier above this
#: optimizer size estimate: the tier's ~1 s fixed overhead pays off
#: only above a few hundred MB (measured at sf0.1, r8).
QUANTILES_RANGED_MIN_BYTES = 256 * 1024 * 1024
#: :func:`grouped_weighted_median`'s break-even: the range
#: tier wins 3.3 s vs 4.3 s at a 46 MB estimate and loses 1.51 s vs
#: 0.96 s at sf0.1's ~4.6 MB (r9).
WEIGHTED_MEDIAN_RANGED_MIN_BYTES = 32 * 1024 * 1024


def _size_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``'s plan, in bytes."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def grouped_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    aliases: Sequence[str],
    count_col: str | None = None,
    ranged: bool | str = "auto",
) -> DataFrame:
    """One row per group with columns ``aliases`` holding the exact
    interpolated ``probs`` quantiles of ``value_col``. ``count_col``
    additionally emits the group row count (free — the count already
    rides in the ranking pass), so callers never re-aggregate the
    input just to pair a count with a quantile.

    ``ranged`` picks the partitioning tier for the ranking pass:

    - ``False`` (default): hash-partition by group, one window per
      group. Right when groups are NUMEROUS (per-group sorts are
      small and spread across cores) or when the input plan is
      expensive to compute twice (range partitioning samples its
      input, replaying the upstream plan).
    - ``True``: range-partition by (group, value) and rank with the
      broadcast-prefix-offset recipe (same invariants as
      :func:`global_quantiles`). Right when groups are FEW and the
      relation is LARGE: the hash tier funnels the whole fact table
      through ≤ |groups| tasks — 3 return flags means 3 cores sort
      everything while the rest idle, and at 100 TB it is the
      canonical skew cliff. Identical output: equal (group, value)
      keys never straddle a range boundary, per-group ranks are
      local rank + same-group rows in earlier partitions, and the
      multiset at any rank is tie-order-invariant.
    - ``"auto"`` (default): pick by the optimizer's size estimate.
      Measured at sf0.1 (r8): the ranged tier's fixed overheads
      (range-boundary sampling pass + a second per-consumer sort +
      the offset-dim jobs) cost ~1 s, while the funnel it removes is
      only ~1 s of task time — hash wins below a few hundred MB and
      loses badly above it (the funnel grows linearly, the overhead
      doesn't). The threshold, ``QUANTILES_RANGED_MIN_BYTES``
      (256 MiB), is the break-even with slack.
    """
    if len(probs) != len(aliases):
        raise ValueError("probs and aliases must align")
    gcols = list(group_cols)
    if ranged == "auto":
        ranged = _size_estimate(df) > QUANTILES_RANGED_MIN_BYTES
    if ranged:
        # Explicit partition count: without it AQE coalesces the
        # small range shuffle back to ~advisory-size partitions (one
        # or two at bench scale), recreating exactly the funnel this
        # tier exists to avoid. Ranks come from sortWithinPartitions
        # + monotonically_increasing_id (position within partition),
        # NOT a Window.partitionBy(_pid) — that window would demand
        # hashpartitioning(_pid) and cost a second fact-scale
        # Exchange. _mid is position-determined: ties may permute
        # across re-executions, but min(_mid) per (pid, group) and
        # the value multiset at every rank are permutation-invariant,
        # so the interpolated result is identical (same argument as
        # the window tier's tie note).
        n_part = df.sparkSession.sparkContext.defaultParallelism
        part = (
            df.select(*gcols, value_col)
            .repartitionByRange(n_part, *gcols, F.col(value_col))
            .sortWithinPartitions(*gcols, value_col)
            .select(
                *gcols,
                value_col,
                F.spark_partition_id().alias("_pid"),
                F.monotonically_increasing_id().alias("_mid"),
            )
        )
        cells = part.groupBy("_pid", *gcols).agg(
            F.count("*").alias("_n"), F.min("_mid").alias("_base")
        )
        w_off = (
            Window.partitionBy(*gcols)
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_all = (
            Window.partitionBy(*gcols)
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        offsets = cells.select(
            "_pid",
            *gcols,
            "_base",
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
            F.sum("_n").over(w_all).alias("_cnt"),
        )
        d = (
            part.join(F.broadcast(offsets), ["_pid", *gcols])
            .withColumn("_rn", F.col("_mid") - F.col("_base") + F.col("_off"))
        )
    else:
        w = Window.partitionBy(*gcols).orderBy(value_col)
        n = Window.partitionBy(*gcols)
        d = (
            df.select(*gcols, value_col)
            .withColumn("_rn", F.row_number().over(w) - 1)
            .withColumn("_cnt", F.count("*").over(n))
        )
    aggs = []
    for p, alias in zip(probs, aliases):
        pos = (F.col("_cnt") - 1) * float(p)
        lo = F.floor(pos)
        frac = pos - lo
        contrib = F.when(
            F.col("_rn") == lo, F.col(value_col) * (1 - frac)
        ).when(F.col("_rn") == lo + 1, F.col(value_col) * frac)
        aggs.append(F.sum(contrib).alias(alias))
    if count_col is not None:
        aggs.append(F.count("*").cast("bigint").alias(count_col))
    return d.groupBy(*gcols).agg(*aggs)


def grouped_weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """One row per group: the LOWER WEIGHTED MEDIAN of ``value_col``
    under ``weight_col`` — the smallest v whose cumulative weight (in
    (value, weight) order) reaches half the group's total weight.
    Output column: ``weighted_median`` (un-rounded; callers round).

    Two tiers, as in :func:`grouped_quantiles`:

    - the classic two-window form — cumulative weight and
      total weight over ``Window.partitionBy(group)``. Right when
      groups are numerous; with FEW groups it funnels the fact table
      through ≤ |groups| tasks (the 100 TB skew cliff).
    - the ranged form: range-partition by (group, value, weight) and find
      each group's CROSSING partition from a per-(partition, group)
      weight-sum dim: the crossing partition is the unique pid where
      the running group weight passes half the total (≤ is used on
      the lower bound so an exact boundary hit keeps both candidate
      partitions — extra later partitions can only contribute larger
      values and never change the min). Only rows of crossing
      (pid, group) cells are re-read (broadcast semi join); their
      in-partition cumulative weight plus the broadcast prefix offset
      reproduces the window's cumulative weight exactly. The
      partitioned relation is materialized so the sampling-based
      range assignment is IDENTICAL for the cell pass and the re-read
      (repartitionByRange samples; two plans would draw different
      boundaries).

    The ranged form runs when the optimizer's size estimate exceeds
    ``WEIGHTED_MEDIAN_RANGED_MIN_BYTES``, a LOWER break-even than
    grouped_quantiles' (32 MiB vs 256 MiB): the window form funnels
    the fact through TWO per-group windows, and the measured crossover
    is earlier — at a 46 MB estimate (100×-replicated sf0.01) the range
    tier already wins 3.3 s vs 4.3 s, while at sf0.1's ~4.6 MB the
    window form wins 0.96 s vs 1.51 s (r9 measurements).

    Tie safety: rows with equal (value, weight) share a range
    partition (range boundaries compare full keys) and permuting a
    tie run never changes which values qualify — the run's LAST row
    carries its permutation-invariant maximal cumulative weight, so
    "v qualifies" is permutation-invariant (the grouped_quantiles
    argument, applied to weights). Equivalence with the window form
    is pinned by tests/test_properties.py.
    """
    gcols = list(group_cols)
    if _size_estimate(df) <= WEIGHTED_MEDIAN_RANGED_MIN_BYTES:
        wc = (
            Window.partitionBy(*gcols)
            .orderBy(value_col, weight_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt_all = Window.partitionBy(*gcols)
        ranked = df.select(*gcols, value_col, weight_col).withColumn(
            "_cw", F.sum(weight_col).over(wc)
        ).withColumn("_tw", F.sum(weight_col).over(wt_all))
        return (
            ranked.filter(F.col("_cw") * 2 >= F.col("_tw"))
            .groupBy(*gcols)
            .agg(F.min(value_col).alias("weighted_median"))
        )
    n_part = df.sparkSession.sparkContext.defaultParallelism
    part = materialize(
        df.select(*gcols, value_col, weight_col)
        .repartitionByRange(
            n_part, *[F.col(c) for c in gcols], F.col(value_col),
            F.col(weight_col),
        )
        .select(
            *gcols, value_col, weight_col,
            F.spark_partition_id().alias("_pid"),
        )
    )
    cells = part.groupBy("_pid", *gcols).agg(F.sum(weight_col).alias("_w"))
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy(*gcols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offs = cells.select(
        "_pid",
        *gcols,
        "_w",
        F.coalesce(F.sum("_w").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_w").over(w_all).alias("_tw"),
    )
    crossing = offs.filter(
        (F.col("_off") * 2 <= F.col("_tw"))
        & ((F.col("_off") + F.col("_w")) * 2 >= F.col("_tw"))
    ).select("_pid", *gcols, "_off", "_tw")
    w_loc = (
        Window.partitionBy("_pid", *gcols)
        .orderBy(value_col, weight_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hit = (
        part.join(F.broadcast(crossing), ["_pid", *gcols])
        .withColumn("_cw", F.col("_off") + F.sum(weight_col).over(w_loc))
    )
    return (
        hit.filter(F.col("_cw") * 2 >= F.col("_tw"))
        .groupBy(*gcols)
        .agg(F.min(value_col).alias("weighted_median"))
    )


def global_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    aliases: Sequence[str],
) -> DataFrame:
    """One row with exact interpolated GLOBAL quantiles of
    ``value_col`` — the scale tier of :func:`grouped_quantiles` for a
    single monstrous group.

    An unpartitioned ``row_number`` window funnels every row through
    ONE task; instead this composes the range-partitioned global-rank
    recipe (q_auc, stats.py — pinned independently by
    tests/test_properties.py::test_range_partitioned_global_rank_invariant):
    range-partition by value, rank locally per partition, add
    broadcast prefix-sum offsets from the #partitions-sized count
    dim, then the same conditional-sum interpolation tail as
    grouped_quantiles. Equal values never straddle a range boundary
    (RangePartitioning compares by value), and the multiset at any
    rank is tie-order-invariant, so the result is identical to the
    single-window form — returned values interpolate as
    v_lo·(1−frac) + v_hi·frac, ≡ DuckDB ``quantile_cont``.
    """
    if len(probs) != len(aliases):
        raise ValueError("probs and aliases must align")
    part = (
        df.select(value_col)
        .repartitionByRange(F.col(value_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = part.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_n").over(w_all).alias("_cnt"),
    )
    w_loc = Window.partitionBy("_pid").orderBy(value_col)
    d = (
        part.withColumn("_lrn", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("_rn", F.col("_lrn") + F.col("_off") - 1)
    )
    aggs = []
    for p, alias in zip(probs, aliases):
        pos = (F.col("_cnt") - 1) * float(p)
        lo = F.floor(pos)
        frac = pos - lo
        contrib = F.when(
            F.col("_rn") == lo, F.col(value_col) * (1 - frac)
        ).when(F.col("_rn") == lo + 1, F.col(value_col) * frac)
        aggs.append(F.sum(contrib).alias(alias))
    return d.groupBy().agg(*aggs)
