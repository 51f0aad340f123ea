from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hls_stac_parquet_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hls-spark-tests", shuffle_partitions=8)
    yield s
    # explicit stop at session finish, then shut the Py4J gateway down
    # and give its callback/daemon threads a beat to exit, so no JVM
    # thread outlives the interpreter.
    try:
        sc = s.sparkContext
        s.stop()
        gw = getattr(sc, "_gateway", None)
        if gw is not None:
            gw.shutdown()
        import time

        time.sleep(1.0)
    except Exception:
        pass
