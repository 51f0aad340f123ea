"""Dedup operator tests on small corpora with known duplicates."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hls_stac_parquet_spark.operators.dedup import (
    dedup_exact,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"


@pytest.fixture(scope="module")
def docs(spark):
    near = BASE.replace("today", "tonight")  # 1-token edit → near-dup
    far = "completely different content about spark query engines and parquet files"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [BASE, BASE.upper(), near, far, BASE],  # 1,2,5 exact after norm
        }
    )
    return spark.createDataFrame(pdf)


def test_dedup_exact_groups(docs):
    out = {r.keep_id: r.n_copies for r in dedup_exact(docs).collect()}
    assert out[1] == 3  # 1, 2 (case), 5 (identical)
    assert out[3] == 1 and out[4] == 1


def test_minhash_candidates_find_near_dup(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert (1, 5) in pairs and (1, 2) in pairs
    assert (1, 3) in pairs  # near-dup caught by at least one band
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_hamming(docs, spark):
    by_id = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert by_id[1] == by_id[5]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(by_id[1], by_id[3]) < ham(by_id[1], by_id[4])
    cand = {
        (r.doc_a, r.doc_b)
        for r in simhash_candidate_pairs(docs).collect()
    }
    assert (1, 5) in cand


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=2, min_jaccard=0.2).collect()
    }
    assert pairs[(1, 5)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0  # one edited token kills 2 bigrams
    assert (1, 4) not in pairs


def test_shared_window_pairs_counts_and_short_docs(spark):
    from hls_stac_parquet_spark.operators.dedup import shared_window_pairs

    base = "a b c d e f g h i j k l"  # 12 tokens → 9 windows at k=4
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                base,
                base + " x y z",  # shares all 9 of doc 1's windows
                "a b c",  # shorter than k → zero windows, never paired
                "z y x w v u t s r q p o",  # disjoint windows
            ],
        }
    )
    out = shared_window_pairs(
        spark.createDataFrame(pdf), k=4, min_shared=2, max_df=10
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["doc_a"], row["doc_b"]) == (1, 2)
    assert row["n_shared"] == 9  # distinct shared windows, repeats uncounted


def test_shared_window_pairs_max_df_drops_stop_windows(spark):
    from hls_stac_parquet_spark.operators.dedup import shared_window_pairs

    # one boilerplate phrase in every doc: with max_df below the corpus
    # size the shared window is dropped and no pairs emerge
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, 6)),
            "text": [f"common header one two unique{i}" for i in range(1, 6)],
        }
    )
    out = shared_window_pairs(
        spark.createDataFrame(pdf), k=4, min_shared=1, max_df=4
    ).collect()
    assert out == []


def test_prefix_filter_join_equals_quadratic_ground_truth(spark):
    """Prefix filtering must return EXACTLY the pairs the quadratic
    all-shingles join returns — it is an exact algorithm, not an
    approximation (any miss means the prefix bound is broken)."""
    from hls_stac_parquet_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from tests.conftest import SF0001

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, n=2, min_jaccard=0.5).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filter_jaccard_pairs(docs, n=2, min_jaccard=0.5).collect()
    }
    assert prefix == exact
    assert exact  # non-vacuous: the fixture corpus has near-dup pairs


def test_containment_pairs_planted_excerpt(spark):
    """A short doc pasted inside a long doc scores containment 1.0 in
    the short→long direction (and low Jaccard — the case this operator
    exists for); unrelated docs never pair."""
    from hls_stac_parquet_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_ = "intro words here " + short + " plus a very long tail " + \
        "of unrelated filler content extending the page onward"
    rows = [(1, short), (2, long_), (3, "totally different text entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(df, min_containment=0.6).collect()
    }
    assert got[(1, 2)] == 1.0           # short fully inside long
    assert (2, 1) not in got            # long NOT contained in short
    assert all(3 not in pair for pair in got)


def test_dedup_recall_eval_flags(spark):
    """q_dedup_recall_eval's in-row invariants: hits bounded by both
    pair sets, recall above the banded-LSH floor."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    row = REGISTRY["q_dedup_recall_eval"].fn(spark, SF0001).collect()[0]
    assert row.hits_bounded_ok and row.recall_floor_ok, row
