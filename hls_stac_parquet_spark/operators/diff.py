"""Snapshot/version diff — the CDC audit operator: classify every row
of two versions of a table as added / removed / changed / unchanged.

Generalizes the reference's cache-vs-listing set comparison
(/root/reference/src/hls_stac_parquet/write.py:172-202, which diffs
expected vs present day-keys before compaction) to arbitrary keyed
tables with column-level change detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    check_unique: bool = False,
) -> DataFrame:
    """Row-level diff of ``new`` against ``old`` keyed on ``key_cols``.

    Returns one row per key present in either version with a
    ``status`` column: 'added' (key only in new), 'removed' (only in
    old), 'changed' (both, any compare column differs — null-safe),
    'unchanged'.

    CONTRACT: ``key_cols`` must uniquely identify a row within each
    version — with duplicate keys the full outer join fans out to a
    per-key cross product and emits multiple (possibly inconsistent)
    status rows for that key. Pass ``check_unique=True`` to verify
    (one aggregate per side) and fail fast with the offending count
    instead.

    Plan: ONE key-partitioned full outer join; change detection is a
    null-safe compare of every shared non-key column.
    """
    shared = [c for c in old.columns if c in set(new.columns)]
    compare_cols = [c for c in shared if c not in set(key_cols)]

    if check_unique:
        for side, df in (("old", old), ("new", new)):
            dups = (
                df.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            if dups:
                raise ValueError(
                    f"snapshot_diff: {side} version has {dups} duplicate "
                    f"key group(s) on {key_cols}; diff statuses would fan "
                    "out — dedup the input or fix the key"
                )

    # explicit presence markers — inferring presence from key nullity
    # would misclassify rows whose key column is itself NULL
    a = old.withColumn("_present", F.lit(True)).alias("a")
    b = new.withColumn("_present", F.lit(True)).alias("b")
    cond = None
    for k in key_cols:
        # null-safe: a NULL key in both versions is the SAME row
        c = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
        cond = c if cond is None else (cond & c)
    j = a.join(b, cond, "full_outer")
    a_key = F.col("a._present")
    b_key = F.col("b._present")
    differs = None
    for c in compare_cols:
        d = ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        differs = d if differs is None else (differs | d)
    status = (
        F.when(a_key.isNull(), "added")
        .when(b_key.isNull(), "removed")
        .when(differs if differs is not None else F.lit(False), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        *[
            F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
            for k in key_cols
        ],
        status.alias("status"),
    )
