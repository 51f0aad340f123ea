"""Session defaults (session.py) that depend on the host, the rule
that only session.py configures the session, the Python worker daemon
it names, and the class archive its driver JVM starts from."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import threading

import pytest

import hls_stac_parquet_spark
from hls_stac_parquet_spark import session, worker_daemon
from hls_stac_parquet_spark.session import default_driver_memory

PACKAGE = pathlib.Path(hls_stac_parquet_spark.__file__).parent
SESSION_STATE = re.compile(r"spark\.conf\.set|conf\.unset|os\.environ|os\.getenv")
MATERIALIZE = re.compile(r"\.(persist|cache|checkpoint|localCheckpoint|unpersist)\(")
#: every query that persisted a frame before tuning.materialize was the
#: one materialization call, plus q_minhash_dedup and q_simhash_dedup
#: for operators/dedup.py's sketch frames
PERSISTING_QUERIES = (
    "q_bfs_reachability",
    "q_bitmap_distinct",
    "q_bpe_train",
    "q_cohen_kappa",
    "q_cramers_v",
    "q_crossentropy_matrix",
    "q_dedup_recall_eval",
    "q_interpolate_linear",
    "q_keyness_loglr",
    "q_logreg_train",
    "q_minhash_dedup",
    "q_minhash_portable",
    "q_mutual_info",
    "q_ngram_entropy_rate",
    "q_simhash_dedup",
    "q_spearman_rho",
    "q_theil_index",
)


def test_driver_memory_is_half_the_host_capped_at_32g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    small = tmp_path / "small"
    small.write_text("MemTotal:       16479424 kB\nMemFree: 1 kB\n")
    assert default_driver_memory(str(small)) == "8046m"
    big = tmp_path / "big"
    big.write_text("MemTotal:      263842816 kB\n")
    assert default_driver_memory(str(big)) == "32768m"
    assert default_driver_memory(str(tmp_path / "absent")) == "32768m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    small = tmp_path / "small"
    small.write_text("MemTotal:       16479424 kB\n")
    assert default_driver_memory(str(small)) == "3g"


def test_only_session_module_reads_env_or_sets_conf():
    """Library code never changes session state: the environment and
    Spark conf are session.py's. queries/registry.py keeps its per-read
    nanosAsLong conf for nanosecond-timestamp tables."""
    allowed = {PACKAGE / "session.py", PACKAGE / "queries" / "registry.py"}
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if SESSION_STATE.search(line)
    ]
    assert offenders == []


def test_only_tuning_module_materializes():
    """One materialization policy: only ``tuning.materialize`` caches,
    persists or checkpoints a frame."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "tuning.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if MATERIALIZE.search(line)
    ]
    assert offenders == []


@pytest.mark.parametrize("name", PERSISTING_QUERIES)
def test_query_leaves_session_cache_empty(spark, name):
    """A query registers nothing with the session's CacheManager, so no
    cached relation outlives it for a later query to hit."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    spark.catalog.clearCache()
    REGISTRY[name].fn(spark, SF0001).write.format("noop").mode(
        "overwrite"
    ).save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_worker_daemon_import_runs_nothing():
    """Importing the daemon module outside ``__main__`` starts no daemon
    and imports neither ``pyspark.daemon`` (which would resolve
    ``sys.argv[1]`` as a worker module) nor the libraries it preloads."""
    probe = (
        "import sys\n"
        "sys.argv = ['pytest', 'pyspark.no_such_worker']\n"
        f"import {worker_daemon.__name__}\n"
        "assert not {'pyspark.daemon', 'pandas'} & set(sys.modules)\n"
    )
    subprocess.run([sys.executable, "-c", probe], check=True,
                   cwd=PACKAGE.parent, timeout=120)


def test_package_import_leaves_worker_daemon_unimported():
    """``python -m`` imports the package before it runs the daemon
    module as ``__main__``; a package ``__init__`` that imported the
    module first would make runpy warn, and run its body twice, at
    every daemon start."""
    probe = (
        f"import sys, {hls_stac_parquet_spark.__name__}\n"
        f"assert {worker_daemon.__name__!r} not in sys.modules\n"
    )
    subprocess.run([sys.executable, "-c", probe], check=True,
                   cwd=PACKAGE.parent, timeout=120)


def test_python_workers_fork_from_worker_daemon(spark):
    """A pandas task runs in a worker forked from the package's daemon,
    which imported pandas before forking."""
    def where(batches):
        import sys

        main = sys.modules["__main__"]
        for pdf in batches:
            yield pdf.assign(main=main.__spec__.name,
                             preloaded="pandas" in vars(main))

    rows = spark.range(2, numPartitions=2).mapInPandas(
        where, "id long, main string, preloaded boolean"
    ).collect()
    assert {(r.main, r.preloaded) for r in rows} == {
        (worker_daemon.__name__, True)
    }


def test_python_workers_import_installed_pyspark(spark):
    """The worker daemon imports pyspark from the installed copy, with
    its cached bytecode, not from Spark's ``pyspark.zip``."""
    from pyspark.sql import functions as F

    where = F.udf(lambda _: __import__("pyspark").__file__)
    (path,) = spark.range(1).select(where("id")).first()
    assert "pyspark.zip" not in path


def test_session_jvm_has_launch_options(spark):
    """The launch-only options reached the driver JVM, the class archive
    among them."""
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert {"-Xss8m", "-XX:+UseG1GC", "-Xlog:disable"} <= set(args)
    assert [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]


def _spark_home(root: pathlib.Path, conf_files: list[str]) -> pathlib.Path:
    """A stand-in Spark home with two jars and the given conf files."""
    (root / "jars").mkdir(parents=True)
    (root / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (root / "jars" / name).write_bytes(b"jar")
    for name in conf_files:
        (root / "conf" / name).write_text("")
    return root


@pytest.fixture()
def fake_home(tmp_path, monkeypatch):
    """Spark home (template conf only) and cache dir under tmp_path."""
    home = _spark_home(tmp_path / "spark",
                       ["spark-defaults.conf.template", "workers.template"])
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in session.CLASSPATH_ENV:
        monkeypatch.delenv(name, raising=False)
    return home


def test_archive_key_follows_java_jars_and_driver_conf(tmp_path):
    jars = _spark_home(tmp_path / "spark", []) / "jars"
    java = tmp_path / "java"
    java.write_bytes(b"elf")
    key = session.archive_key(str(java), str(jars), "2g")
    assert session.archive_key(str(java), str(jars), "2g") == key
    assert session.archive_key(str(java), str(jars), "40g") != key
    os.utime(jars / "b.jar", ns=(0, 10**9))
    touched = session.archive_key(str(java), str(jars), "2g")
    assert touched != key
    (jars / "c.jar").write_bytes(b"jar")
    assert session.archive_key(str(java), str(jars), "2g") not in (key, touched)


def test_first_session_dumps_and_later_ones_map_the_archive(fake_home):
    first = session.class_archive("app", "2g")
    assert first.java_option == f"-XX:ArchiveClassesAtExit={first.path}"
    assert os.listdir(first.conf_dir) == []
    pathlib.Path(first.path).write_bytes(b"x" * 100)
    session.promote_archive(first.path, first.directory, first.key)
    (archive,) = pathlib.Path(first.directory).glob("*.jsa")
    assert archive.name == f"{first.key}-100.jsa"
    assert session.class_archive("app", "2g").java_option == (
        f"-XX:SharedArchiveFile={archive}")
    # another app, other driver options or a touched jar: no archive yet
    assert session.class_archive("other", "2g").dumps
    assert session.class_archive("app", "40g").dumps
    os.utime(fake_home / "jars" / "a.jar", ns=(0, 10**9))
    assert session.class_archive("app", "2g").dumps


def test_truncated_archive_is_deleted_not_mapped(fake_home):
    """JDK 17 dies with SIGBUS mapping a short archive; a session finds
    none instead, and dumps a new one."""
    first = session.class_archive("app", "2g")
    pathlib.Path(first.path).write_bytes(b"x" * 100)
    session.promote_archive(first.path, first.directory, first.key)
    (archive,) = pathlib.Path(first.directory).glob("*.jsa")
    os.truncate(archive, 60)
    again = session.class_archive("app", "2g")
    assert again.dumps
    assert not archive.exists()


def test_real_spark_conf_gets_no_archive(fake_home, monkeypatch):
    """A real conf file stays on the classpath, where JDK 17 refuses to
    archive: no archive flags and no conf redirect."""
    assert session.class_archive("app", "2g") is not None
    (fake_home / "conf" / "spark-defaults.conf").write_text(
        "spark.executor.cores 1\n")
    assert session.class_archive("app", "2g") is None
    (fake_home / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_home / "conf"))
    assert session.class_archive("app", "2g") is None


def test_concurrent_dumps_promote_one_archive(fake_home):
    """Sessions that dumped at once, more of them than cores, keep
    exactly one archive and no dump."""
    first = session.class_archive("app", "2g")
    dumps = [os.path.join(first.directory, f"{first.key}.{n}.dump")
             for n in range(8)]
    for n, dump in enumerate(dumps):
        pathlib.Path(dump).write_bytes(b"x" * (100 + n))
    barrier = threading.Barrier(len(dumps))

    def promote(dump):
        barrier.wait()
        session.promote_archive(dump, first.directory, first.key)

    threads = [threading.Thread(target=promote, args=(d,)) for d in dumps]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    names = os.listdir(first.directory)
    assert [n for n in names if n.endswith(".dump")] == []
    (archive,) = [n for n in names if n.endswith(".jsa")]
    assert session.find_archive(first.directory, first.key) == os.path.join(
        first.directory, archive)


def test_dump_of_a_gone_driver_is_swept(fake_home):
    """A dump whose driver died (killed before promoting, or its JVM
    killed mid-write) is never mapped, and the next session deletes
    it."""
    first = session.class_archive("app", "2g")
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = os.path.join(first.directory, f"{first.key}.{gone.stdout.strip()}.dump")
    live = os.path.join(first.directory, f"{first.key}.{os.getpid()}.dump")
    for dump in (dead, live):
        pathlib.Path(dump).write_bytes(b"partial")
    assert session.class_archive("app", "2g").path == live
    assert not os.path.exists(dead) and os.path.exists(live)


def test_cli_stdout_holds_only_its_rows_across_archive_writes(tmp_path):
    """End to end, in a fresh driver process: the run that writes the
    archive, and one that finds it truncated, print only their own rows
    to stdout, and each leaves one whole archive."""
    env = {k: v for k, v in os.environ.items() if k not in session.CLASSPATH_ENV}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    (tmp_path / "tables").mkdir()
    cmd = [sys.executable, "-m", "hls_stac_parquet_spark.cli", "sql",
           "SELECT 7 AS x", "--sf-dir", str(tmp_path / "tables")]
    cds = tmp_path / "cache" / "hls_stac_parquet_spark" / "cds" / "hls-sql"
    for run in range(2):
        out = subprocess.run(cmd, env=env, cwd=PACKAGE.parent, check=True,
                             capture_output=True, text=True, timeout=600).stdout
        assert out.splitlines() == ["+---+", "|x  |", "+---+", "|7  |",
                                    "+---+", ""]
        (archive,) = cds.glob("*.jsa")
        assert archive.stat().st_size == int(archive.stem.rsplit("-", 1)[1])
        assert list(cds.glob("*.dump")) == []
        if run == 0:
            os.truncate(archive, archive.stat().st_size // 2)
