"""Every registered query vs its DuckDB oracle at sf0.001 — the
in-repo mirror of the driver's correctness gate (fast; the driver
re-runs the same contract at sf0.01)."""

from __future__ import annotations

import pytest

from hls_stac_parquet_spark.queries import REGISTRY
from hls_stac_parquet_spark.testing import check_query
from tests.conftest import SF0001


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    result = check_query(spark, SF0001, name)
    assert result.match, result.detail
    if REGISTRY[name].oracle is not None:
        assert result.spark_rows == result.oracle_rows


def test_entry_contract(spark):
    """The driver smoke check: entry() runs and yields rows."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_approx_percentile_error_bound(spark):
    """percentile_approx(accuracy=10000) must land within 1% relative
    error of the exact sort-based quantiles."""
    from hls_stac_parquet_spark.queries import REGISTRY

    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in REGISTRY["q_percentile"].fn(spark, SF0001).collect()
    }
    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p95_approx"])
        for r in REGISTRY["q_approx_percentile"].fn(spark, SF0001).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) / e < 0.01, (k, e, a)
