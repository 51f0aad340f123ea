"""Training-shard export sink: write a curated corpus as K
deterministic, size-balanced parquet shards.

The last mile of a training-data pipeline: downstream dataloaders
want a FIXED number of shards with near-equal token mass, stable
across re-runs (resumable jobs must regenerate byte-identical shard
membership). No reference counterpart (the reference's sink is the
monthly GeoParquet object, write.py:233-245); this enters via the
north-star LLM-data mandate.

Scale shape: shard assignment is a pure per-row hash expression (no
shuffle beyond the one exchange that physically groups shards), the
write is one task per shard, and the manifest is a |K|-row aggregate.
Token balance across shards is statistical (hash mixing), which at
real corpus sizes (millions of docs per shard) concentrates within a
fraction of a percent — the deterministic-without-a-global-sort
trade; an exact balancer would need a prefix-sum pass over a global
order (see queries/llmdata.q_pack_sequences for that primitive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    docs: DataFrame,
    dest: str,
    num_shards: int = 16,
) -> DataFrame:
    """Write ``docs`` into ``num_shards`` parquet shards under
    ``dest/shard=N/`` and return the |K|-row shard manifest
    (shard, n_docs, n_tokens) — computed from the same assignment
    expression, not by re-listing files.

    Assignment is ``xxhash64(id) mod K``: deterministic in row
    CONTENT (not partition layout or visit order), so re-runs and
    retried tasks regenerate identical membership — the property that
    makes the export idempotent and the dataloader's epoch
    reproducible.
    """
    shard = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_shards)).alias("shard")
    with_shard = docs.withColumn("shard", shard)
    # range-partition on the shard id: exactly one task per shard value
    # (hash-partitioning K small ints would collide ids into shared
    # partitions and leave others empty)
    (
        with_shard.repartitionByRange(num_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(dest)
    )
    return (
        with_shard.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def shard_balance_report(manifest: DataFrame) -> dict:
    """Driver-side balance summary of a |K|-row manifest (tiny by
    construction): max/min/mean token mass and relative spread."""
    rows = manifest.select("n_tokens").collect()
    masses = [r[0] for r in rows]
    mean = sum(masses) / len(masses)
    return {
        "n_shards": len(masses),
        "min_tokens": min(masses),
        "max_tokens": max(masses),
        "mean_tokens": mean,
        "rel_spread": (max(masses) - min(masses)) / mean if mean else 0.0,
    }
