"""SparkSession factory with scale-oriented defaults.

The reference pipeline hand-tunes concurrency (semaphore=50,
``fetch.py:15,50``) and compression (zstd-6, ``write.py:243``); here the
equivalent knobs are Spark conf, set once so every pipeline and test
gets the same posture:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (pandas-UDF edges are vectorized, never row-at-a-time)
- zstd parquet output (matches the reference's sink codec)
- UTC session timezone (naive-UTC discipline keeps parquet timestamps
  bit-stable across engines — see SURVEY.md §7 oracle-parity traps)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hls_stac_parquet_spark import worker_daemon

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else min(32g, half the host's
    MemTotal): in local mode the one JVM holds driver and executors,
    and a heap sized past the host's memory gets the process killed
    mid-run instead of collected. 32g when MemTotal is unreadable."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    cap_mib = 32 * 1024
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    cap_mib = min(cap_mib, int(line.split()[1]) // 2048)
    except (OSError, ValueError, IndexError):
        pass
    return f"{cap_mib}m"


def get_spark(
    app_name: str = "hls_stac_parquet_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[*]``. All settings are safe to apply on an
    existing session via ``getOrCreate`` semantics.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # TIMESTAMP(NANOS) parquet (events.ts) is illegal for Spark's
        # reader; read as long and convert at the scan (registry.t)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # let Catalyst push filters into Python data sources (cmr)
        "spark.sql.python.filterPushdown.enabled": "true",
        # runtime bloom-filter join pruning: big-join probe sides get
        # a semi-join filter built from the build side at runtime —
        # the 100 TB join-pruning path (no-op on tiny inputs)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Pyspark-only niceties
        "spark.sql.execution.pythonUDF.arrow.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # local[...] mode runs driver AND all executor threads in ONE
        # JVM: an 8g heap on a 128 GiB box forced full-GC storms (6-9 s
        # pauses randomly landing on bench queries) once the query set
        # grew past ~180 plans of broadcasts/caches/codegen classes.
        # up to 32g + G1 with a 200 ms pause target keeps collections
        # incremental; on a real cluster these are per-role settings.
        "spark.driver.memory": default_driver_memory(),
        # -Xss8m: the streaming error path (ForeachBatchUserFuncException
        # wrapping a py4j callback failure) intermittently dies with
        # java.lang.StackOverflowError in the stream execution thread on
        # the default ~1m stack, leaving the query ACTIVE forever — a
        # kill-and-resume suite hang (reproduced in isolation). A larger
        # thread stack lets the failure propagate so awaitTermination()
        # raises instead of hanging. tests/test_streaming.py::
        # test_cmr_stream_kill_and_resume_exactly_once_manifests raises
        # through foreachBatch on purpose and relies on it.
        "spark.driver.extraJavaOptions": (
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=200 -Xss8m"
        ),
        "spark.ui.enabled": "false",
        # forked Python workers inherit numpy/pandas/pyarrow from the
        # daemon instead of importing them each (worker_daemon.py)
        "spark.python.daemon.module": worker_daemon.__name__,
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

