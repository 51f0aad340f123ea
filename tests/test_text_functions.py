"""Unit tests for text/url column functions on literal inputs."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.text import (
    doc_fingerprint,
    language_id,
    punct_ratio,
    stopword_ratio,
    token_count,
)
from hls_stac_parquet_spark.functions.urls import extract_mgrs

HLS_URL = (
    "https://data.lpdaac.earthdatacloud.nasa.gov/lp-prod-public/HLSL30.020/"
    "HLS.L30.T15TWN.2025275T170439.v2.0/HLS.L30.T15TWN.2025275T170439.v2.0_stac.json"
)


@pytest.fixture(scope="module")
def one(spark):
    def make(text):
        return spark.createDataFrame(pd.DataFrame({"text": [text]}))

    return make


def _val(df, col):
    return df.select(col.alias("v")).collect()[0].v


def test_token_count_bpe_ish(one):
    assert _val(one("hello world 123 !?"), token_count("text")) == 5


def test_stopword_and_punct_ratio(one):
    df = one("the cat and the hat!")
    assert _val(df, stopword_ratio("text")) == pytest.approx(3 / 5)
    assert _val(df, punct_ratio("text")) == pytest.approx(1 / 20)


def test_language_id(one):
    assert _val(one("the cat and the dog in a house"), language_id("text")) == "en"
    assert _val(one("scan agg join shuffle parquet"), language_id("text")) == "unknown"


def test_fingerprint_normalization(one):
    a = _val(one("Hello  World"), doc_fingerprint("text"))
    b = _val(one("hello world"), doc_fingerprint("text"))
    assert a == b and len(a) == 32


def test_extract_mgrs(one):
    df = one(HLS_URL)
    assert _val(df, extract_mgrs("text")) == "15TWN"
    assert _val(one("https://x/no-tile.json"), extract_mgrs("text")) is None


class TestWinnowing:
    """Winnowing guarantee: shared token runs of length >= k+window-1
    produce shared fingerprints, position-independently."""

    def _fps(self, spark, texts):
        import pandas as pd
        from pyspark.sql import functions as F

        from hls_stac_parquet_spark.functions.text import (
            token_hashes,
            winnow_fingerprints,
        )

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        rows = (
            df.select("doc_id", token_hashes("text").alias("th"))
            .select("doc_id", winnow_fingerprints("th").alias("fp"))
            .collect()
        )
        return {r.doc_id: set(r.fp) for r in rows}

    def test_shared_run_shares_fingerprint(self, spark):
        run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= 3+4-1
        fps = self._fps(
            spark,
            [f"start one two {run} x y z", f"{run} completely other tail words here"],
        )
        assert fps[0] & fps[1]

    def test_disjoint_docs_share_nothing(self, spark):
        fps = self._fps(
            spark,
            ["aa bb cc dd ee ff gg hh ii", "jj kk ll mm nn oo pp qq rr"],
        )
        assert not (fps[0] & fps[1])

    def test_position_independent_selection(self, spark):
        doc = "one two three four five six seven eight nine ten"
        fps = self._fps(spark, [doc, f"prefix tokens here {doc}"])
        # every fingerprint of the embedded copy that comes from the
        # shared run must appear in the superstring's set
        assert len(fps[0] & fps[1]) >= len(fps[0]) - 2

    def test_sorted_distinct(self, spark):
        import pandas as pd

        from hls_stac_parquet_spark.functions.text import (
            token_hashes,
            winnow_fingerprints,
        )

        df = spark.createDataFrame(
            pd.DataFrame({"text": ["w w w w w w w w w w"]})
        )
        row = df.select(
            winnow_fingerprints(token_hashes("text")).alias("fp")
        ).collect()[0]
        assert row.fp == sorted(set(row.fp))

    def test_no_kgrams_yields_empty_not_null(self, spark):
        """Docs with fewer than k tokens (incl. empty) must produce an
        EMPTY fingerprint set — a [NULL] entry would become one
        spurious fingerprint shared by all short docs downstream."""
        fps = self._fps(spark, ["", "one", "one two"])
        assert fps[0] == set() and fps[1] == set() and fps[2] == set()
