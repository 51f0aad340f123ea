"""Mergeable quantile digest — a t-digest-style centroid sketch built
with DataFrame-native two-stage aggregation.

``percentile_approx`` already gives Spark a bounded-buffer quantile
path (q_approx_percentile); this operator exists for the pipelines the
built-in can't serve: digests you can PERSIST per day/source and
re-merge later without rescanning facts (the same rollup contract as
the HLL reach sketches in queries/extras.py). The sketch is the k0
(uniform weight cap) variant of the merging t-digest: N values
compress to at most K centroids, each holding ≤ N/K of the total
weight, so the worst-case rank error of one compression level is 1/K
and of an m-level merge tree m/K — small, explicit, and testable
(tests/test_sketches.py asserts the bound on random data).

Plan shape (the part that matters at 100 TB):

- stage 1 ``mapInPandas``: each input partition compresses its rows
  into per-group digests locally — the manual map-side combine; only
  ``K``-length arrays cross the wire, never raw values;
- stage 2 ``groupBy(group).applyInPandas``: concatenate partition
  digests per group, recompress once, read quantiles off the merged
  ECDF. One shuffle of #partitions × #groups sketch rows.

Compression is fully vectorized numpy (argsort + reduceat); no Python
loop over values.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StructField,
    StructType,
)


def _compress(means: np.ndarray, weights: np.ndarray, k: int):
    """k0-compress weighted points to ≤ k centroids (uniform cap)."""
    order = np.argsort(means, kind="mergesort")
    m, w = means[order], weights[order]
    cw = np.cumsum(w)
    total = cw[-1]
    cap = total / k
    centers = (cw - w / 2) / cap
    idx = np.minimum(centers.astype(np.int64), k - 1)
    starts = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
    wsum = np.add.reduceat(w, starts)
    msum = np.add.reduceat(m * w, starts)
    return msum / wsum, wsum


def _estimate(means: np.ndarray, weights: np.ndarray, qs: Sequence[float]):
    """Quantiles off the centroid ECDF (midpoint rule + interpolation,
    clamped to the observed extremes)."""
    cw = np.cumsum(weights)
    total = cw[-1]
    mids = cw - weights / 2
    out = []
    for q in qs:
        target = q * total
        out.append(float(np.interp(target, mids, means)))
    return out


def tdigest_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """Per-group approximate quantiles via the mergeable k0 digest.

    Output: one row per group with a ``q_<pct>`` double column per
    requested quantile. Worst-case rank error ≈ 2/k (one partition
    compression + one merge recompression).
    """
    group_cols = list(group_cols)
    qs = list(quantiles)

    digest_schema = StructType(
        [df.schema[c] for c in group_cols]
        + [
            StructField("means", ArrayType(DoubleType())),
            StructField("weights", ArrayType(DoubleType())),
        ]
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for key, grp in pdf.groupby(group_cols, dropna=False, sort=False):
                vals = grp[value_col].to_numpy(dtype=np.float64)
                vals = vals[~np.isnan(vals)]
                if not len(vals):
                    continue
                m, w = _compress(vals, np.ones_like(vals), k)
                key = key if isinstance(key, tuple) else (key,)
                rows.append((*key, list(m), list(w)))
            if rows:
                yield pd.DataFrame(
                    rows, columns=group_cols + ["means", "weights"]
                )

    out_names = [f"q_{int(round(q * 100)):02d}" for q in qs]
    out_schema = StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(n, DoubleType()) for n in out_names]
    )

    def merge(key, pdfs):
        m = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdfs["means"]])
        w = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdfs["weights"]])
        m, w = _compress(m, w, k)
        return pd.DataFrame([(*key, *_estimate(m, w, qs))],
                            columns=group_cols + out_names)

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    digests = parallelize_for_udf(df.select(*group_cols, value_col)).mapInPandas(
        build, digest_schema
    )
    return digests.groupBy(*group_cols).applyInPandas(merge, out_schema)


def merge_digest_tables(
    digests: DataFrame,
    group_cols: Sequence[str],
    quantiles: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """Re-aggregate PERSISTED digest rows (means/weights arrays, e.g.
    one per day) into quantiles without touching fact rows — the
    persist-then-rollup contract that percentile_approx can't offer."""
    group_cols = list(group_cols)
    qs = list(quantiles)
    out_names = [f"q_{int(round(q * 100)):02d}" for q in qs]
    out_schema = StructType(
        [digests.schema[c] for c in group_cols]
        + [StructField(n, DoubleType()) for n in out_names]
    )

    def merge(key, pdfs):
        m = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdfs["means"]])
        w = np.concatenate([np.asarray(x, dtype=np.float64) for x in pdfs["weights"]])
        m, w = _compress(m, w, k)
        return pd.DataFrame([(*key, *_estimate(m, w, qs))],
                            columns=group_cols + out_names)

    return digests.groupBy(*group_cols).applyInPandas(merge, out_schema)


#: hash seed shared by :func:`countmin_build` and :func:`countmin_estimate`
COUNTMIN_SEED = 42


def countmin_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch build: a (depth × width) count matrix as a
    DataFrame of (d, bucket, cnt) cells — the mergeable frequency
    sketch (point-query heavy hitters with one-sided error).

    Each input row explodes to ``depth`` cells (bucket =
    xxhash64(key, COUNTMIN_SEED+d) mod width, JVM-side); ONE fixed-keyspace
    aggregate builds the sketch, so the shuffle carries at most
    depth×width cells per map partition regardless of input
    cardinality. Sketches merge by cell-wise SUM (same shape as the
    HLL/t-digest rollup contract). Estimates are one-sided:
    est ≥ true always, and est ≤ true + 2·N/width with probability
    ≥ 1 − (1/2)^depth (standard CM bound, property-tested).
    """
    cells = df.select(
        F.explode(
            F.array(*[F.lit(d) for d in range(depth)])
        ).alias("d"),
        F.col(key_col).alias("_k"),
    ).select(
        "d",
        F.pmod(
            F.xxhash64(F.col("_k"), F.col("d") + F.lit(COUNTMIN_SEED)),
            F.lit(width),
        ).cast("int").alias("bucket"),
    )
    return cells.groupBy("d", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` off a built sketch:
    min over the key's ``depth`` cells. The sketch is depth×width
    cells — broadcast-sized by construction — so estimation is a
    map-side join however many keys are probed."""
    probes = keys.select(
        F.col(key_col),
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("d"),
    ).select(
        key_col,
        "d",
        F.pmod(
            F.xxhash64(F.col(key_col), F.col("d") + F.lit(COUNTMIN_SEED)),
            F.lit(width),
        ).cast("int").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )
