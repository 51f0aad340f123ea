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

Everything runs under ``__main__`` only: ``pyspark.daemon`` reads
``sys.argv[1]`` when it is imported, so importing it (or this module's
libraries) on the driver would act on the driver's own arguments.
"""

if __name__ == "__main__":
    import gc

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()
