"""Manifest-flow operators: fan-in, failure split.

Two small reference behaviors as set/flow algebra:

- fan-in (A12, write.py:161-168): explode a month's manifest rows
  into URL rows (E2 itself flattens its ≤31 days on the driver)
- failure split (A19, fetch.py:78-88): tag rows with an error column,
  fork into ok/dead-letter streams
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_in_manifests(manifest_df: DataFrame) -> DataFrame:
    """Explode per-manifest URL arrays into one flat url column,
    keeping the manifest's partition keys on every row."""
    others = [c for c in manifest_df.columns if c != "urls"]
    return manifest_df.select(*others, F.explode("urls").alias("url"))


def split_failures(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok, dead_letter) — the success/failure stream split. The
    dead-letter side is a DataFrame, not a log line; the pipelines
    only count it today (nothing stores it yet)."""
    ok = df.filter(F.col("fetch_error").isNull()).drop("fetch_error")
    dead = df.filter(F.col("fetch_error").isNotNull())
    return ok, dead
