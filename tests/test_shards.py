"""Training-shard export sink (sinks/shards.py) + corpus observe()."""

import pandas as pd

from hls_stac_parquet_spark.sinks.shards import (
    shard_balance_report,
    write_training_shards,
)

from tests.conftest import SF0001


def _docs(spark, n=400):
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "n_tokens": [50 + (i * 37) % 200 for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


def test_shard_write_roundtrip_and_manifest(spark, tmp_path):
    dest = str(tmp_path / "shards")
    docs = _docs(spark)
    manifest = write_training_shards(docs, dest, num_shards=8)
    rows = manifest.collect()
    assert [r.shard for r in rows] == list(range(8))
    assert sum(r.n_docs for r in rows) == 400
    # round-trip: every doc present exactly once, shard column attached
    back = spark.read.parquet(dest)
    assert back.count() == 400
    assert back.select("doc_id").distinct().count() == 400
    assert back.select("shard").distinct().count() == 8


def test_shard_assignment_deterministic(spark, tmp_path):
    """Re-running the export regenerates identical membership —
    assignment depends on row content only, not partition layout."""
    docs = _docs(spark)
    d1 = str(tmp_path / "a")
    d2 = str(tmp_path / "b")
    write_training_shards(docs.repartition(3), d1, num_shards=4)
    write_training_shards(docs.repartition(11), d2, num_shards=4)
    a = sorted(
        (r.doc_id, r.shard) for r in spark.read.parquet(d1).collect()
    )
    b = sorted(
        (r.doc_id, r.shard) for r in spark.read.parquet(d2).collect()
    )
    assert a == b


def test_shard_balance_statistical(spark, tmp_path):
    manifest = write_training_shards(
        _docs(spark, n=2000), str(tmp_path / "s"), num_shards=4
    )
    rep = shard_balance_report(manifest)
    assert rep["n_shards"] == 4
    # hash mixing: with 500 docs/shard the spread stays well under 20%
    assert rep["rel_spread"] < 0.2


def test_cli_export_training_shards(spark, tmp_path):
    from hls_stac_parquet_spark.cli import main

    dest = str(tmp_path / "cli-shards")
    rc = main(
        [
            "export-training-shards",
            f"{SF0001}/documents.parquet",
            dest,
            "--num-shards",
            "4",
            "--curate",
        ]
    )
    assert rc == 0
    back = spark.read.parquet(dest)
    assert back.select("shard").distinct().count() == 4
    assert {"doc_id", "n_tokens", "split"} <= set(back.columns)
