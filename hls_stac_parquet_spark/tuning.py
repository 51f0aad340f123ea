"""Partition and materialization helpers shared by the operators and
queries: spreading a compact input before a CPU-heavy stage, handing
driver-computed rows to the JVM as Arrow, a row-count guard on
broadcast dims, and the materialization policy.

Materialization policy: :func:`materialize` is the only call in the
package that caches, persists or checkpoints a frame
(``tests/test_session.py`` fails on any other). It checkpoints eagerly
at Spark's default storage level for every site, so no operator picks
its own level. Serialized blocks lost the interleaved in-suite A/B
over the 46 bench queries that reach a site (sf0.1, 4 vCPU, three
runs a side: 68.0 s against 57.6 s summed medians), and won on no
size-separated set of them, q_triangle_count included, so there is no
size rule. It registers nothing with the session's CacheManager: a
query leaves no cached relation behind for the next one to hit.
"""

from __future__ import annotations


def parallelize_for_udf(df):
    """Ensure a DataFrame has at least ``defaultParallelism``
    partitions before an expensive per-row stage — an
    Arrow-UDF pass *or* a heavy JVM expression chain (shingle
    explodes, per-window md5, codec work).

    Scan partitioning follows FILE layout (one small parquet file =
    ONE partition — and a single row group cannot be split, so a
    ``files.minPartitionNum`` floor yields empty splits, not
    parallelism), so a CPU-heavy pass over a compact table runs on
    one core no matter how many sit idle — the sketch pipelines and
    the shingle/fingerprint family hit exactly this (measured r8:
    q_source_overlap's fingerprint pass 2.0 s → 0.53 s at sf0.1 once
    spread). A round-robin repartition of narrow rows costs one cheap
    shuffle and unlocks full parallelism; when the input already has
    enough partitions (any real multi-file table, every cluster-scale
    scan) this is a no-op (no shuffle added).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def driver_rows_to_df(spark, rows, schema):
    """``spark.createDataFrame`` for driver-computed result lists
    (union-find labels, peeled core numbers, greedy covers) that skips
    the Python-worker round-trip.

    The plain list path embeds pickled rows in every task and spins a
    Python worker per task to re-emit them (measured r8: a 32-slice
    parallelize of 2 k rows cost ~19 s of task time / ~0.7 s wall per
    materialization under bench load). The pandas path hands the rows
    to the JVM as Arrow batches (arrow.pyspark.enabled is on in
    session.py), so the scan stage is JVM-only: measured 0.25 s vs
    0.7-1.0 s per noop of the same 2 k rows. Falls back to the list
    path for empty input (pandas would lose the dtypes) and for
    schemas Arrow can't carry."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return spark.createDataFrame(pdf, schema)
    except Exception:  # Arrow-unfriendly payload — correctness first
        return spark.createDataFrame(rows, schema)


def guarded_broadcast(df, max_rows: int, alternative: str):
    """``F.broadcast(df)`` with a row-count guard compiled INTO the
    plan.

    A broadcast dim that silently outgrows executor memory is the
    classic small-dim-that-wasn't failure at 100 TB; this refuses with
    a routed error naming the large×large alternative instead of
    OOM-ing mid-stage. The guard is a broadcast 1-row count aggregate
    cross-joined onto the dim with ``raise_error`` on violation — no
    separate driver-side count action, so the query stays one job and
    the check costs one tiny extra stage inside it.
    """
    from pyspark.sql import functions as F

    # the guard lives in a FILTER (a raising projection would be
    # column-pruned away when downstream never reads it); assert_true
    # returns NULL when the predicate holds and raises otherwise, so
    # the 1-row aggregate survives iff the dim is under the cap
    msg = F.concat(
        F.lit("broadcast refused: dimension side has "),
        F.col("_guard_n").cast("string"),
        F.lit(
            f" rows > max_rows={max_rows}; use {alternative} "
            "(the large-scale path) or raise the cap explicitly"
        ),
    )
    chk = (
        df.groupBy()
        .agg(F.count("*").alias("_guard_n"))
        .filter(F.assert_true(F.col("_guard_n") <= max_rows, msg).isNull())
    )
    return F.broadcast(df.join(F.broadcast(chk)))


def materialize(df):
    """Compute ``df`` now and return a frame that reads the result
    back instead of replaying its plan: an eager ``localCheckpoint``
    at Spark's default storage level.

    The one materialization call in the package. Use it where a frame
    is read again after its plan would otherwise re-run: every round
    of a driver loop (which also cuts the round's lineage, so round k
    never replans rounds 1..k-1), a driver action before the frame's
    further use, or several consumers of an expensive subtree that no
    shared exchange already deduplicates. A frame with one consumer
    and no loop lineage is not materialized.

    The blocks are dropped by Spark's ContextCleaner once the frame
    is garbage, so nothing outlives the returned plans in the session
    cache. ``localCheckpoint`` keeps no lineage: if an executor holding
    a block is lost, the query fails instead of recomputing it.
    """
    return df.localCheckpoint()
