"""Data-layout evidence: Hilbert-clustered parquet writes produce
row groups with NARROW key ranges, so min/max-statistics skipping
(Spark's parquet filter pushdown, or any engine's zone maps) prunes
IO for spatial range queries — the mechanism that makes the curve
key worth computing at 100 TB (SURVEY §2.A A16/A17; the reference
sorts in-memory per month, write.py:204-219).

The assertion is on the FILE FORMAT, not a timing: for a bbox-sized
key-range predicate, the number of row groups whose [min, max] span
intersects the predicate is a direct lower bound on IO any
stats-aware reader must do. Clustered layout → few row groups
intersect; the same rows written in hash order → nearly all do.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.spatial import hilbert_index_udf
from hls_stac_parquet_spark.sinks.geoparquet import cluster_month


def _rowgroup_spans(path_glob, col):
    spans = []
    for path in glob.glob(path_glob):
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            spans.append((st.min, st.max))
    return spans


@pytest.mark.parametrize("rows", [120_000])
def test_hilbert_clustering_prunes_row_groups(spark, tmp_path, rows):
    pts = (
        spark.range(rows)
        .select(
            F.col("id"),
            (F.pmod(F.hash("id"), F.lit(36000)) / 100.0 - 180.0).alias("lon"),
            (F.pmod(F.hash(F.col("id") * 7 + 1), F.lit(17000)) / 100.0 - 85.0).alias("lat"),
        )
    )
    keyed = cluster_month(
        pts.withColumn("hilbert_idx", hilbert_index_udf(F.col("lon"), F.col("lat"))),
        rows,
    )
    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    small = {"parquet.block.size": 64 * 1024}  # force many row groups
    keyed.write.options(**small).parquet(clustered)
    # same rows in hash order — a truly unclustered layout baseline
    keyed.repartition(4).sortWithinPartitions(F.hash("id")).write.options(
        **small
    ).parquet(shuffled)

    c_spans = _rowgroup_spans(f"{clustered}/*.parquet", "hilbert_idx")
    s_spans = _rowgroup_spans(f"{shuffled}/*.parquet", "hilbert_idx")
    assert len(c_spans) >= 8 and len(s_spans) >= 8

    lo = min(mn for mn, _ in c_spans)
    hi = max(mx for _, mx in c_spans)
    # a bbox-sized probe: 2% of the keyspace, mid-range
    plo = lo + (hi - lo) * 49 // 100
    phi = lo + (hi - lo) * 51 // 100

    def hit(spans):
        return sum(1 for mn, mx in spans if mx >= plo and mn <= phi)

    c_hit, s_hit = hit(c_spans), hit(s_spans)
    # clustered: the probe touches a sliver; scattered: everything
    assert c_hit / len(c_spans) <= 0.25, (c_hit, len(c_spans))
    assert s_hit / len(s_spans) >= 0.75, (s_hit, len(s_spans))

    # and the clustered file still answers the query correctly with
    # the predicate pushed to the scan
    got = (
        spark.read.parquet(clustered)
        .filter((F.col("hilbert_idx") >= plo) & (F.col("hilbert_idx") <= phi))
        .count()
    )
    want = keyed.filter(
        (F.col("hilbert_idx") >= plo) & (F.col("hilbert_idx") <= phi)
    ).count()
    assert got == want
