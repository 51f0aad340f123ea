from __future__ import annotations

from pyspark.sql import functions as F

from hls_stac_parquet_spark.operators.bloomjoin import (
    _bloom_survivors,
    bloom_anti_join,
    bloom_semi_join,
)


def _sides(spark):
    fact = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("payload")
    )
    # dim keys: multiples of 3 in [0, 1500) — ~500 keys, ~10% of fact
    dim = spark.range(0, 500).select((F.col("id") * 3).alias("dk"))
    return fact, dim


def test_bloom_semi_join_exact(spark):
    fact, dim = _sides(spark)
    got = sorted(
        r.k for r in bloom_semi_join(fact, dim, "k", "dk").collect()
    )
    want = sorted(
        r.k
        for r in fact.join(
            dim, fact["k"] == dim["dk"], "left_semi"
        ).collect()
    )
    assert got == want


def test_bloom_prefilter_has_no_false_negatives(spark):
    # the bloom test alone returns a SUPERSET: every true match must
    # survive it (the one-sided-error contract both joins rely on),
    # even with a deliberately tiny, collision-heavy bitset.
    fact, dim = _sides(spark)
    superset = {
        r.k for r in _bloom_survivors(fact, dim, "k", "dk", 256, 2).collect()
    }
    true_matches = {
        r.k
        for r in fact.join(dim, fact["k"] == dim["dk"], "left_semi").collect()
    }
    assert true_matches <= superset


def test_bloom_fpp_is_small_at_sized_bitset(spark):
    fact, dim = _sides(spark)
    superset = _bloom_survivors(fact, dim, "k", "dk", 1 << 14, 5).count()
    exact = fact.join(dim, fact["k"] == dim["dk"], "left_semi").count()
    # 2^14 bits for 500 keys ≈ 32 bits/key → fpp well under 1%
    assert superset - exact <= 0.01 * 5000


def test_bloom_anti_join_exact(spark):
    fact, dim = _sides(spark)
    got = sorted(
        r.k for r in bloom_anti_join(fact, dim, "k", "dk").collect()
    )
    want = sorted(
        r.k
        for r in fact.join(
            dim, fact["k"] == dim["dk"], "left_anti"
        ).collect()
    )
    assert got == want


def test_bloom_semi_plus_anti_partition_fact(spark):
    fact, dim = _sides(spark)
    n_semi = bloom_semi_join(fact, dim, "k", "dk").count()
    n_anti = bloom_anti_join(fact, dim, "k", "dk").count()
    assert n_semi + n_anti == fact.count()
