"""Incremental (Structured Streaming) mode — SURVEY.md §7 phase 5.

The reference's incrementality is a hand-rolled HEAD-before-work
guard plus a months-later batch compaction (links.py:100-103,
write.py:146-149). Structured Streaming replaces that bookkeeping
wholesale: checkpoints remember what was processed, watermarks bound
state for late re-publishes, and ``Trigger.AvailableNow`` gives the
same "drain everything new, then stop" semantics the daily cron job
has — with exactly-once file-sink output.

These helpers return streaming DataFrames/queries; they share the
batch operators' expressions (the tumbling agg is literally the same
``window()`` expression as q_tumbling_window_agg).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def stream_manifest_links(
    spark: SparkSession, links_src: str, collection_id: str
) -> DataFrame:
    """Incremental manifest ingest: every *new* daily manifest file
    under the links prefix becomes (day, url) rows exactly once.

    File-source + checkpoint = the reference's skip-existing guard
    without the per-key HEAD probes.
    """
    raw = (
        spark.readStream.schema("value string")
        .format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
        .load(f"{links_src}/links/{collection_id}")
    )
    day = F.regexp_extract(
        F.input_file_name(), r"(\d{4}-\d{2}-\d{2})\.json$", 1
    ).cast("date")
    return raw.select(
        F.lit(collection_id).alias("collection_id"),
        day.alias("day"),
        F.explode(F.from_json("value", "array<string>")).alias("url"),
    )


def dedup_urls_within_watermark(
    links: DataFrame, event_time_col: str = "seen_at", delay: str = "1 day"
) -> DataFrame:
    """Late re-publish protection: URL dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key only while the
    watermark can still admit a duplicate — state stays O(recent
    URLs) instead of O(all URLs ever), the difference between a
    streaming job that survives a year and one that OOMs in a week.
    """
    return links.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        ["url"]
    )


def stream_tumbling_counts(
    events: DataFrame, window: str = "1 hour", delay: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregate — the streaming twin of
    q_tumbling_window_agg (same window() expression, plus the
    watermark that lets Spark emit+drop finalized windows)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value")
    )


_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom stateful operator (applyInPandasWithState): gap-based
    sessions with a processing-time timeout flush. State is one
    (start, last, count) triple per user — constant per key."""
    gap_us = 30 * 60 * 1_000_000
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            }
        )
        return

    ts_us = (
        pd.concat([pdf["ts"] for pdf in pdfs]).sort_values().astype("int64") // 1000
    )
    closed = []
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = int(ts_us.iloc[0])
        n = 0
    for t in ts_us:
        t = int(t)
        if t - last_us > gap_us:
            closed.append((start_us, last_us, n))
            start_us, n = t, 0
        last_us = t
        n += 1
    state.update((start_us, last_us, n))
    state.setTimeoutDuration(60_000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming
    operator — the capability q_sessionize expresses in batch,
    carried over with per-user GroupState."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_session_window_agg(
    events: DataFrame, gap: str = "30 minutes", delay: str = "30 minutes"
) -> DataFrame:
    """Native ``session_window`` streaming aggregate — the built-in
    twin of :func:`stream_sessionize` (same merging-interval semantics
    as batch q_session_window_agg). Spark's session-window state store
    merges overlapping intervals per key and the watermark evicts
    closed sessions, so state is O(open sessions), not O(events)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def stream_enrich_with_dim(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join. The static side is re-planned
    per micro-batch (picking up dim-table refreshes) and broadcast
    when small — the standard way to attach reference data
    (collection metadata, tile dims, mixture weights) to a stream
    without any stateful join machinery."""
    return stream.join(F.broadcast(dim), on, "left")


def foreach_batch_upsert(
    stream: DataFrame,
    dest: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    on_batch_complete=None,
):
    """Streaming upsert sink via ``foreachBatch``: each micro-batch is
    merged into a keyed parquet snapshot with update-wins semantics
    (same contract as batch q_upsert_merge / q_keep_latest).

    Each batch: read current snapshot, anti-join out keys the batch
    replaces, union the batch's latest row per key, atomically swap
    the snapshot directory. foreachBatch gives the batch-id for
    idempotent re-runs (a replayed batch produces the same snapshot),
    which is Structured Streaming's exactly-once recipe for
    non-transactional sinks. At warehouse scale the swap becomes a
    Delta/Iceberg MERGE; the streaming plumbing is identical.

    ``on_batch_complete(batch_id)``, if given, runs after the snapshot
    swap but before the sink returns (i.e. before the offset commit) —
    a metrics/commit-barrier hook, and the crash-injection seam the
    kill-and-resume tests use to prove a replayed batch converges.
    """
    import os
    import shutil

    from pyspark.sql import Window

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.exists(dest):
            current = spark.read.parquet(dest)
            merged = current.join(
                latest.select(*key_cols), key_cols, "left_anti"
            ).unionByName(latest)
        else:
            merged = latest
        tmp = f"{dest}.__new__{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{dest}.__old__{batch_id}"
        if os.path.exists(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        if os.path.exists(old):
            shutil.rmtree(old)
        if on_batch_complete is not None:
            on_batch_complete(batch_id)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    tolerance: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound:
    match right rows whose timestamp falls in [left_ts, left_ts +
    tolerance] — the view→click / impression→conversion attribution
    shape.

    Both sides are watermarked, and the join carries BOTH the equality
    key and the time-range conjunct; that pair is what lets the state
    store evict: a buffered left row can be dropped once the right
    watermark passes left_ts + tolerance (and vice versa), so state is
    bounded by (rate × (tolerance + delay)), never the stream's
    lifetime. Without the range conjunct Spark must buffer both sides
    forever — the classic unbounded-state trap this helper exists to
    avoid."""
    lw = left.withWatermark(left_ts, delay)
    rw = right.withWatermark(right_ts, delay)
    return lw.join(
        rw,
        F.expr(
            f"{key} = r_{key} AND {right_ts} >= {left_ts} "
            f"AND {right_ts} <= {left_ts} + INTERVAL {tolerance}"
        ),
    )


_PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen", TimestampType()),
    ]
)


def stream_running_profile(events: DataFrame, ttl_hours: int = 24) -> DataFrame:
    """Per-user running (event count, value total, last-seen) profile
    via ``transformWithStateInPandas`` — the arbitrary-state API that
    supersedes applyInPandasWithState (compare
    :func:`stream_sessionize`): typed state handles
    (Value/List/MapState), per-state TTL, and event-time/processing-
    time timers managed by the store itself. Each micro-batch emits
    the keys it touched with their updated running totals (update-mode
    CDC of the profile table).

    State is ONE (n, total, last_us) row per user with a TTL —
    inactive users' state is evicted by the RocksDB store (required
    provider; the TTL/timer machinery lives there), so a year-long
    stream holds state only for recently-active keys without any
    hand-rolled timeout bookkeeping — the bounded-state property the
    100 TB deployment needs from every stateful operator.

    The processor class is defined locally so cloudpickle ships it BY
    VALUE: transformWithState spawns a separate driver-side Python
    worker for state-schema validation that does not have this
    package on its import path (a module-level class pickles by
    reference and crashes that worker with ModuleNotFoundError).
    """
    ttl_ms = ttl_hours * 3600 * 1000

    class RunningProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._profile = handle.getValueState(
                "profile",
                "n BIGINT, total DOUBLE, last_us BIGINT",
                ttlDurationMs=ttl_ms,
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._profile.exists():
                n, total, last_us = self._profile.get()
            else:
                n, total, last_us = 0, 0.0, 0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                last_us = max(
                    last_us, int(pdf["ts"].astype("int64").max() // 1000)
                )
            self._profile.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                    "last_seen": [pd.Timestamp(last_us, unit="us")],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningProfileProcessor(),
        outputStructType=_PROFILE_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def foreach_batch_sketch_monitor(
    stream: DataFrame,
    dest: str,
    checkpoint: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
):
    """Streaming frequency monitor: maintain ONE Count-Min sketch over
    the whole stream by cell-wise-summing each micro-batch's sketch
    into a parquet snapshot (operators/sketches.py::countmin_build).

    This is what sketch MERGEABILITY buys in streaming: per-batch
    state is depth×width cells regardless of batch size or key
    cardinality, the merge is a bounded-keyspace aggregate, and the
    snapshot answers point-frequency queries at any time without
    rescanning the stream. Batch-id-suffixed temp + atomic swap makes
    replays idempotent only per-batch-id (a restart that REPLAYS a
    committed batch would double-count — production would key the
    swap on batch_id, exactly like foreach_batch_upsert; kept simple
    here because the test drives availableNow once).
    """
    import os
    import shutil

    from hls_stac_parquet_spark.operators.sketches import countmin_build

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sketch = countmin_build(
            batch_df.select(key_col), key_col, depth=depth, width=width
        )
        if os.path.exists(dest):
            current = spark.read.parquet(dest)
            merged = (
                current.unionByName(batch_sketch)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = batch_sketch
        tmp = f"{dest}.__new__{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # crash-safe swap (same ordering as foreach_batch_upsert):
        # dest is renamed aside, never deleted before the new snapshot
        # is in place — a crash between rmtree and rename would lose
        # the whole accumulated state and the replayed batch would
        # silently rebuild from one micro-batch.
        old = f"{dest}.__old__{batch_id}"
        if os.path.exists(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def foreach_batch_digest_monitor(
    stream: DataFrame,
    dest: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
    k: int = 200,
):
    """Streaming QUANTILE monitor: maintain one mergeable t-digest per
    group over the whole stream (operators/sketches.py::tdigest_build)
    — the latency/size drift companion to the Count-Min frequency
    monitor above.

    Each micro-batch compresses to ≤k centroids per group, then
    recompresses against the persisted snapshot — per-group state is
    O(k) regardless of stream length, and the snapshot answers
    any-quantile queries at any time via merge_digest_tables without
    rescanning the stream. Rank error grows one 1/k term per merge
    level (≈ #batches/k worst case), the documented t-digest trade.
    Same idempotency envelope as foreach_batch_sketch_monitor:
    batch-id-suffixed temp + atomic swap.
    """
    import os
    import shutil

    from hls_stac_parquet_spark.operators.sketches import tdigest_build

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_digests = tdigest_build(
            batch_df.select(group_col, value_col), [group_col], value_col, k=k
        )
        if os.path.exists(dest):
            from hls_stac_parquet_spark.operators.sketches import (
                _compress,  # same kernel the build uses
            )
            import numpy as np
            import pandas as pd
            from pyspark.sql.types import (
                ArrayType,
                DoubleType,
                StructField,
                StructType,
            )

            current = spark.read.parquet(dest)
            schema = StructType(
                [current.schema[group_col]]
                + [
                    StructField("means", ArrayType(DoubleType())),
                    StructField("weights", ArrayType(DoubleType())),
                ]
            )

            def remerge(key, pdfs):
                m = np.concatenate(
                    [np.asarray(x, dtype=np.float64) for x in pdfs["means"]]
                )
                w = np.concatenate(
                    [np.asarray(x, dtype=np.float64) for x in pdfs["weights"]]
                )
                m, w = _compress(m, w, k)
                return pd.DataFrame(
                    [(*key, list(m), list(w))],
                    columns=[group_col, "means", "weights"],
                )

            merged = (
                current.unionByName(batch_digests)
                .groupBy(group_col)
                .applyInPandas(remerge, schema)
            )
        else:
            merged = batch_digests
        tmp = f"{dest}.__new__{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # crash-safe swap (same ordering as foreach_batch_upsert):
        # dest is renamed aside, never deleted before the new snapshot
        # is in place — a crash between rmtree and rename would lose
        # the whole accumulated state and the replayed batch would
        # silently rebuild from one micro-batch.
        old = f"{dest}.__old__{batch_id}"
        if os.path.exists(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def foreach_batch_hll_monitor(
    stream: DataFrame,
    dest: str,
    checkpoint: str,
    group_col: str,
    key_col: str,
):
    """Streaming distinct-count monitor: maintain one HLL sketch per
    group over the whole stream by hll_union-ing each micro-batch's
    per-group sketches into a parquet snapshot — completing the
    streamed sketch triad (Count-Min frequencies / t-digest quantiles
    / HLL distincts).

    Because HLL insertion is register-max (order- and
    batching-independent), the union of per-batch sketches is
    EXACTLY the sketch of the whole stream — the snapshot answers
    "distinct users so far per group" at any time with O(sketch)
    state per group and no rescan. Same per-batch-id idempotency
    caveat as foreach_batch_sketch_monitor.
    """
    import os
    import shutil

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sk = batch_df.groupBy(group_col).agg(
            F.hll_sketch_agg(key_col).alias("sk")
        )
        if os.path.exists(dest):
            current = spark.read.parquet(dest)
            merged = (
                current.unionByName(batch_sk)
                .groupBy(group_col)
                .agg(F.hll_union_agg("sk", True).alias("sk"))
            )
        else:
            merged = batch_sk
        tmp = f"{dest}.__new__{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # crash-safe swap (same ordering as foreach_batch_upsert):
        # dest is renamed aside, never deleted before the new snapshot
        # is in place — a crash between rmtree and rename would lose
        # the whole accumulated state and the replayed batch would
        # silently rebuild from one micro-batch.
        old = f"{dest}.__old__{batch_id}"
        if os.path.exists(dest):
            os.rename(dest, old)
        os.rename(tmp, dest)
        if os.path.exists(old):
            shutil.rmtree(old)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
