"""Spark's Python worker daemon, with the worker libraries imported
before it forks.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Spark then starts it as ``python -m hls_stac_parquet_spark.worker_daemon
pyspark.worker`` for the session's Python tasks (UDF, Arrow and pandas),
and the daemon forks one worker per concurrent task; Spark's Data Source
and UDTF planner processes keep the stock ``pyspark.daemon``. That one
imports only the worker module (``pyspark.worker`` brings
``pyspark.sql.pandas`` with it), so every forked worker imports pyarrow
again on its first Arrow task, and pandas on its first pandas task;
imported here, the forks inherit them.
``gc.freeze()`` then moves the inherited objects out of the
collector's reach: a reused worker runs ``gc.collect()`` after every
task, which would otherwise walk them all each time and copy the
pages it touches.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on the worker's
path. zipimport never caches bytecode, so the daemon would compile
``pyspark.daemon`` and ``pyspark.worker`` with their imports once per
session: 0.88-0.98 CPU-s, against 0.28-0.45 from an installed copy
with cached ``.pyc`` files (PySpark 4.1.2, 4 vCPU). So the daemon
drops the zip from ``sys.path`` when an installed pyspark of the same
version (an identical ``pyspark/version.py``) is importable.

Everything runs under ``__main__`` only: ``pyspark.daemon`` reads
``sys.argv[1]`` when it is imported, so importing it (or this module's
libraries) on the driver would act on the driver's own arguments.
"""

if __name__ == "__main__":
    import gc
    import os
    import sys
    import zipfile
    from importlib.machinery import PathFinder

    zips = [p for p in sys.path if p.endswith("pyspark.zip")]
    rest = [p for p in sys.path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if zips and spec is not None and spec.origin is not None:
        try:
            with open(os.path.join(os.path.dirname(spec.origin),
                                   "version.py"), "rb") as fh:
                versions = {fh.read()}
            for z in zips:
                with zipfile.ZipFile(z) as zf:
                    versions.add(zf.read("pyspark/version.py"))
        except (OSError, KeyError, zipfile.BadZipFile):
            versions = set()
        if len(versions) == 1:
            sys.path[:] = rest

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()
