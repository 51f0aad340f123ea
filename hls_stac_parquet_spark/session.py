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
- a class-data-sharing archive the driver JVM starts from, written by
  the first session of its kind (``class_archive``)
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import time
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
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


# Class-data sharing (CDS). A cold driver JVM loads and verifies Spark's
# classes from the ~290 jars in $SPARK_HOME/jars, and C2 compiles the
# jar-reading code paths while it does. A JDK dynamic archive
# (-XX:ArchiveClassesAtExit) holds the classes a session loaded, parsed
# and verified. A later JVM maps it with -XX:SharedArchiveFile.
#
# Break-even, measured on 4 vCPU with JDK 17.0.20 (perfbench, 10
# alternating pairs per workload, medians, archive already written):
# - Writing costs the first session of its kind ~9.7 s of teardown (vs
#   ~0.9 s) and 145-180 MB of cache (perfbench 155 MB, the tier-1
#   session 179 MB). Its setup, E1 and E2 CPU were no worse than a
#   session without sharing (month_http, seed 900: setup_s 12.61 vs
#   12.50, e1_cpu_s 12.72 vs 15.21, e2_cpu_s 7.89 vs 8.45).
# - Every later session saves ~5 s of setup CPU (month_http setup_s
#   12.98 -> 8.07, month_local 14.26 -> 9.44, 10/10 pairs each) and
#   3-4 s of first-call E1 CPU (e1_cpu_s 14.07 -> 9.81 and
#   13.12 -> 10.15, 10/10). So the archive has paid for itself by the
#   third session. e2_cpu_s and query_cpu_ms stay flat.
# - Mapped archive pages are relocated (the JDK's default
#   ArchiveRelocationMode=1, kept for ASLR), so they are all resident.
#   Peak RSS per pair moved -16% to +17% (month_http median
#   1540 -> 1465 MB, month_local 1580 -> 1523 MB).
# - The sf0.1 bench.py registry subset (14 queries, 8 pairs) stayed
#   within the parent's spread: medians 10.07 s (IQR 9.64-10.65)
#   without and 10.54 s with the archive.
#
# JIT levers measured and rejected (same workloads; do not retry):
# - -XX:TieredStopAtLevel=1 (C1 only): setup -43%, E1 CPU -31 to -42%,
#   E2 CPU -40%, query CPU -29 to -35%. But the bench.py registry
#   subset slowed 22.4 -> 29.6 s and 25.3 -> 28.6 s, and bench.py's
#   range-aggregate probe took ~3x as long (0.35-0.51 -> 1.09-1.41 s).
# - -XX:CompileThresholdScaling=10: month_local setup ~8.3 s, but the
#   registry slowed 21.5 -> 25.0 s and 19.8 -> 25.4 s.
# - -XX:CICompilerCount=2: compiler-thread CPU did not fall (7.1 vs
#   6.0 CPU-s).

#: The JVM's unified log goes to stderr. Its default target is stdout,
#: which the gateway JVM shares with the Python driver, so a JVM warning
#: would land among the CLI's printed rows or after bench.py's JSON
#: line. The ``cds`` warnings are dropped: an archive dump prints one
#: per class it cannot archive (~600-900 "Skipping …: Signed JAR" lines).
JVM_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning,cds=error:stderr"
#: a promoted archive is ``<key>-<bytes>.jsa``; a dump being written is
#: ``<key>.<pid of its driver>.dump``
ARCHIVE_NAME = re.compile(r"(?P<key>[0-9a-f]+)-(?P<size>\d+)\.jsa")
DUMP_NAME = re.compile(r"[0-9a-f]+\.(?P<pid>\d+)\.dump")
#: how long the driver's exit waits for its JVM to write the archive
ARCHIVE_DUMP_WAIT_S = 300
#: an archive of another key (an older JDK, other jars or driver
#: options) unused this long goes at the next promotion
ARCHIVE_IDLE_S = 7 * 86400
#: classpath additions that may name a directory; JDK 17 refuses to
#: archive with a non-empty directory on the classpath
CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                 "SPARK_DIST_CLASSPATH")


class ClassArchive(NamedTuple):
    conf_dir: str  # the empty SPARK_CONF_DIR the JVM starts with
    directory: str
    key: str
    path: str  # the archive the JVM maps, or the dump it writes at exit
    dumps: bool

    @property
    def java_option(self) -> str:
        flag = "ArchiveClassesAtExit" if self.dumps else "SharedArchiveFile"
        return f"-XX:{flag}={self.path}"


def archive_key(java: str, jars: str, driver_conf: str) -> str:
    """What an archive is valid for: the ``java`` binary and the
    ``jars`` directory (path, size and mtime of each) and the driver's
    launch settings. The heap size decides compressed oops, which an
    archive records; the JVM silently refuses an archive dumped with
    another setting."""
    h = hashlib.sha256(driver_conf.encode())
    paths = [java] + sorted(e.path for e in os.scandir(jars))
    for path in paths:
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def find_archive(directory: str, key: str) -> str | None:
    """The promoted archive for ``key``, if its size is still the one
    in its name. JDK 17 maps an archive without checking its length, and
    a short one kills the JVM at start with SIGBUS, so a file that lost
    bytes is deleted instead."""
    for name in os.listdir(directory):
        m = ARCHIVE_NAME.fullmatch(name)
        if m is None or m["key"] != key:
            continue
        path = os.path.join(directory, name)
        if os.path.getsize(path) == int(m["size"]):
            return path
        os.unlink(path)
    return None


def promote_archive(dump: str, directory: str, key: str) -> None:
    """Rename a finished ``dump`` to its archive name, unless an
    archive for ``key`` is already there: of two sessions that dumped at
    once, exactly one archive is kept. Idle archives of other keys go
    too."""
    with open(os.path.join(directory, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if find_archive(directory, key) is None:
            size = os.path.getsize(dump)
            os.rename(dump, os.path.join(directory, f"{key}-{size}.jsa"))
        for name in os.listdir(directory):
            m = ARCHIVE_NAME.fullmatch(name)
            path = os.path.join(directory, name)
            if (m and m["key"] != key
                    and time.time() - os.path.getmtime(path) > ARCHIVE_IDLE_S):
                os.unlink(path)
    if os.path.exists(dump):
        os.unlink(dump)


def _sweep_dumps(directory: str) -> None:
    """Delete the dumps whose driver is gone: it was killed before it
    could promote its JVM's dump, or the JVM was killed mid-write."""
    for name in os.listdir(directory):
        m = DUMP_NAME.fullmatch(name)
        if m is None:
            continue
        try:
            os.kill(int(m["pid"]), 0)
        except ProcessLookupError:
            os.unlink(os.path.join(directory, name))
        except PermissionError:
            pass


def class_archive(app_name: str, driver_conf: str) -> ClassArchive | None:
    """The archive a new driver JVM for ``app_name`` maps, or the dump
    it writes at exit when there is none yet. One archive per app name,
    so each kind of run maps the classes it loads (every mapped page is
    resident). It lives under ``$XDG_CACHE_HOME`` (or ``~/.cache``),
    keyed by ``archive_key``.

    None when the classpath may hold a non-empty directory: one of
    ``CLASSPATH_ENV`` is set, or ``$SPARK_HOME/conf`` holds a file that
    is not a ``*.template`` (Spark reads only its real files). Otherwise
    the JVM starts with an empty conf dir in place of
    ``$SPARK_HOME/conf``.
    """
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if any(os.environ.get(v) for v in CLASSPATH_ENV) or (
        os.path.isdir(conf)
        and not all(n.endswith(".template") for n in os.listdir(conf))
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "hls_stac_parquet_spark",
    )
    directory = os.path.join(root, "cds", re.sub(r"[^\w-]", "_", app_name))
    # Spark splits extraJavaOptions on whitespace and quotes
    if java is None or re.search(r"[\s'\"\\]", directory):
        return None
    try:
        key = archive_key(os.path.realpath(java),
                          os.path.join(spark_home, "jars"), driver_conf)
        conf_dir = os.path.join(root, "empty-conf")
        os.makedirs(conf_dir, exist_ok=True)
        os.makedirs(directory, exist_ok=True)
        archive = find_archive(directory, key)
        if archive is not None:
            os.utime(archive)
            return ClassArchive(conf_dir, directory, key, archive, False)
        _sweep_dumps(directory)
    except OSError:
        return None
    dump = os.path.join(directory, f"{key}.{os.getpid()}.dump")
    return ClassArchive(conf_dir, directory, key, dump, True)


def _promote_at_exit(proc: subprocess.Popen, archive: ClassArchive) -> None:
    """Stop the session and the gateway JVM, which writes its dump on
    the way out, and promote the dump if the JVM exited cleanly."""
    if SparkContext._active_spark_context is not None:
        # stopped here, not by the JVM's shutdown hook, which would
        # call back into the accumulator server of an exiting driver
        SparkContext._active_spark_context.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        code = proc.wait(ARCHIVE_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        return  # a later session's sweep deletes the dump
    try:
        if code == 0 and os.path.exists(archive.path):
            promote_archive(archive.path, archive.directory, archive.key)
        elif os.path.exists(archive.path):
            os.unlink(archive.path)
    except OSError:
        pass  # no archive; the next session dumps again


def get_spark(
    app_name: str = "hls_stac_parquet_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[*]``.

    Some settings take effect only when this call launches the driver
    JVM: ``spark.driver.memory``, ``spark.driver.extraJavaOptions``,
    ``spark.python.daemon.module``, the class archive and the
    ``SPARK_CONF_DIR`` it needs. ``getOrCreate`` on a running JVM (a
    second call in one process, or a driver started by spark-submit)
    ignores them silently; the SQL settings apply to it.
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
            f"-XX:+UseG1GC -XX:MaxGCPauseMillis=200 -Xss8m {JVM_LOG_OPTIONS}"
        ),
        "spark.ui.enabled": "false",
        # forked Python workers inherit numpy/pandas/pyarrow from the
        # daemon instead of importing them each (worker_daemon.py)
        "spark.python.daemon.module": worker_daemon.__name__,
    }
    if extra_conf:
        conf.update(extra_conf)
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = class_archive(app_name, repr(sorted(
            (k, v) for k, v in conf.items() if k.startswith("spark.driver.")
        )))
    if archive is not None:
        conf["spark.driver.extraJavaOptions"] += f" {archive.java_option}"
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    # the launched JVM inherits the environment; this process keeps its own
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError:
        if archive.dumps or SparkContext._gateway is not None:
            raise
        # JAVA_GATEWAY_EXITED: the JVM died mapping the archive
        spark = None
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if spark is None:  # drop the archive; the new session dumps another
        os.unlink(archive.path)
        return get_spark(app_name, master, extra_conf)
    if archive.dumps:
        atexit.register(_promote_at_exit, SparkContext._gateway.proc, archive)
    return spark


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

