"""Session defaults (session.py) that depend on the host, the rule
that only session.py configures the session, and the Python worker
daemon it names."""

from __future__ import annotations

import pathlib
import re
import subprocess
import sys

import pytest

import hls_stac_parquet_spark
from hls_stac_parquet_spark import worker_daemon
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
