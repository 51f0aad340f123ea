"""Similarity-search tests: brute-force exactness + LSH recall."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hls_stac_parquet_spark.operators import similarity
from hls_stac_parquet_spark.operators.similarity import (
    cosine_pairs_above,
    cosine_topk,
    lsh_cosine_candidates,
)

DIM = 16


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, DIM))
    # plant near-duplicates: vec 100+i ≈ vec i for i in 0..4
    rows = [(i, base[i].astype(np.float32).tolist()) for i in range(40)]
    for i in range(5):
        noisy = base[i] + rng.standard_normal(DIM) * 0.01
        rows.append((100 + i, noisy.astype(np.float32).tolist()))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )


def _numpy_topk(pdf, k):
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    out = {}
    for i, vid in enumerate(ids):
        order = np.lexsort((ids, -np.round(sims[i], 6)))
        out[vid] = [ids[j] for j in order if ids[j] != vid][:k]
    return out


def test_cosine_topk_matches_numpy(emb):
    expected = _numpy_topk(emb.toPandas(), 3)
    got = {}
    for r in cosine_topk(emb, k=3).collect():
        got.setdefault(r.vec_id, []).append((r.rnk, r.neighbor_id))
    for vid, lst in got.items():
        assert [n for _, n in sorted(lst)] == expected[vid]


def test_cosine_topk_finds_planted_neighbors(emb):
    top1 = {
        r.vec_id: r.neighbor_id for r in cosine_topk(emb, k=1).collect()
    }
    for i in range(5):
        assert top1[i] == 100 + i
        assert top1[100 + i] == i


def test_brute_force_cap_raises(emb, monkeypatch):
    """The brute-force tier must refuse an oversized reference side
    with a clear error (pointing at the LSH/IVF tier) instead of
    collecting it onto the driver. The cap is read on the driver."""
    import pytest

    monkeypatch.setattr(similarity, "BRUTE_FORCE_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="brute-force tier refused"):
        cosine_topk(emb, k=1)
    with pytest.raises(ValueError, match="lsh_cosine_candidates"):
        cosine_pairs_above(emb, 0.99)


def test_cosine_pairs_threshold(emb):
    pairs = {(r.vec_a, r.vec_b) for r in cosine_pairs_above(emb, 0.99).collect()}
    assert pairs == {(i, 100 + i) for i in range(5)}


def test_lsh_recall_on_planted_dups(emb):
    cand = {
        (r.vec_a, r.vec_b)
        for r in lsh_cosine_candidates(emb).collect()
    }
    planted = {(i, 100 + i) for i in range(5)}
    recall = len(cand & planted) / len(planted)
    assert recall >= 0.8  # random hyperplanes: near-identical vectors collide


def test_ivf_recall_vs_brute_force(emb):
    """IVF with n_probe covering half the clusters must recover most
    of the exact top-k set; with n_probe == n_clusters it IS exact
    (every cluster scanned)."""
    from hls_stac_parquet_spark.operators.similarity import ivf_cosine_topk

    k = 3
    exact = _numpy_topk(emb.toPandas(), k)
    approx = {}
    out = ivf_cosine_topk(emb, k=k, n_clusters=4, n_probe=2).collect()
    for r in out:
        approx.setdefault(r.vec_id, []).append(r.neighbor_id)
    hits = sum(len(set(approx.get(v, [])) & set(exact[v])) for v in exact)
    recall = hits / sum(len(exact[v]) for v in exact)
    assert recall >= 0.5  # half the inverted lists probed

    full = ivf_cosine_topk(emb, k=k, n_clusters=4, n_probe=4)
    got = {}
    for r in full.collect():
        got.setdefault(r.vec_id, []).append((r.rnk, r.neighbor_id))
    for vid, exp in exact.items():
        assert [n for _, n in sorted(got[vid])] == exp


def test_pq_ann_rerank_recall(spark):
    """Two-stage PQ (ADC shortlist → exact re-rank) must reach ≥ 0.8
    recall@10 vs exact brute force, and codes must be valid."""
    from hls_stac_parquet_spark.operators.similarity import (
        cosine_topk,
        pq_encode,
        pq_train_codebooks,
    )
    from hls_stac_parquet_spark.queries import REGISTRY
    from hls_stac_parquet_spark.queries.registry import t
    from tests.conftest import SF0001

    emb = t(spark, SF0001, "embeddings")
    books = pq_train_codebooks(emb, m=16, codes=64)
    assert books.shape == (16, 64, 4)
    codes = pq_encode(emb, books).collect()
    assert all(len(r.pq_codes) == 16 for r in codes)
    assert all(0 <= c < 64 for r in codes for c in r.pq_codes)

    ap = REGISTRY["q_pq_ann"].fn(spark, SF0001).toPandas()
    gt = cosine_topk(emb, k=10).toPandas()
    recalls = []
    for q in ap.query_id.unique():
        a = set(ap[ap.query_id == q].neighbor_id)
        g = set(gt[gt.vec_id == q].neighbor_id)
        recalls.append(len(a & g) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_pairs_recall_on_planted_dups(emb):
    """Blocked (IVF-cell) pair generation must recover the planted
    near-duplicate pairs: near-identical vectors quantize to the same
    cell, so cell-local search finds them without all-pairs work; no
    false positives below threshold."""
    from hls_stac_parquet_spark.operators.similarity import (
        ivf_cosine_pairs_above,
    )

    got = {
        (r.vec_a, r.vec_b)
        for r in ivf_cosine_pairs_above(
            emb, threshold=0.95, n_clusters=4, n_probe=2
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(5)}
    exact = {
        (r.vec_a, r.vec_b)
        for r in cosine_pairs_above(emb, threshold=0.95).collect()
    }
    assert planted <= exact  # sanity: the plant is real
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, (recall, exact - got)
    assert got <= exact  # blocked search can miss but never invent


def test_kmeans_clusters_argmax_matches_numpy(emb):
    """Every row must be assigned to the max-cosine centroid of the
    trainer's actual output — replayed in numpy from the same trained
    centers (the trainer itself is deterministic given the seed)."""
    from hls_stac_parquet_spark.operators.similarity import (
        _train_spherical_kmeans,
        kmeans_clusters,
    )

    got = kmeans_clusters(emb, n_clusters=4).toPandas()
    centers = _train_spherical_kmeans(emb, 4)
    pdf = emb.toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ centers.T
    want = {
        int(vid): (int(np.argmax(s)), round(float(np.max(s)), 6))
        for vid, s in zip(pdf["vec_id"], sims)
    }
    assert len(got) == len(pdf)
    for r in got.itertuples():
        wc, wcos = want[int(r.vec_id)]
        assert r.cluster == wc, r
        assert abs(r.cosine - wcos) < 1e-9, r


def test_kmeans_planted_duplicates_share_a_cluster(emb):
    from hls_stac_parquet_spark.operators.similarity import kmeans_clusters

    got = kmeans_clusters(emb, n_clusters=4).toPandas()
    by_id = {int(r.vec_id): int(r.cluster) for r in got.itertuples()}
    for i in range(5):  # vec 100+i is a near-copy of vec i
        assert by_id[i] == by_id[100 + i]


def test_random_projection_matches_numpy_and_preserves_distances(emb):
    from hls_stac_parquet_spark.operators.similarity import random_project

    # out_dim 16 and the fixed seed 42 are what q_random_projection runs
    got = random_project(emb, out_dim=16).toPandas()
    pdf = emb.toPandas()
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    rng = np.random.default_rng(42)
    R = rng.standard_normal((mat.shape[1], 16)) / np.sqrt(16)
    want = np.round(mat @ R, 6)
    by_id = {int(i): np.asarray(p) for i, p in zip(got["vec_id"], got["projected"])}
    for i, vid in enumerate(pdf["vec_id"]):
        assert np.allclose(by_id[int(vid)], want[i]), vid
    # JL: pairwise distances preserved in aggregate (generous band;
    # the point is "same scale", not a tight epsilon)
    ids = pdf["vec_id"].to_numpy()
    proj = np.stack([by_id[int(v)] for v in ids])
    rng2 = np.random.default_rng(0)
    ratios = []
    for _ in range(200):
        a, b = rng2.choice(len(ids), 2, replace=False)
        d0 = np.linalg.norm(mat[a] - mat[b])
        d1 = np.linalg.norm(proj[a] - proj[b])
        if d0 > 1e-9:
            ratios.append(d1 / d0)
    ratios = np.array(ratios)
    assert 0.8 < np.median(ratios) < 1.2
    assert (np.abs(ratios - 1) < 0.8).mean() > 0.9


def test_random_projection_query_jl_flag(spark):
    """q_random_projection's in-row invariant: the JL concentration
    band holds (avg within 10% of 1, extremes inside the 16-dim tail
    envelope)."""
    from hls_stac_parquet_spark.queries import REGISTRY
    from tests.conftest import SF0001

    row = REGISTRY["q_random_projection"].fn(spark, SF0001).collect()[0]
    assert row.jl_band_ok, row


def _numpy_mmr(pdf, probe_ids, k, pool, lam):
    """Independent MMR replay: plain dict/loop implementation."""
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sims = np.round(unit @ unit.T, 6)
    out = []
    for q in probe_ids:
        qi = int(np.nonzero(ids == q)[0][0])
        cands = [
            (int(ids[j]), sims[qi][j]) for j in range(len(ids)) if ids[j] != q
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        cands = cands[:pool]
        cid = [c for c, _ in cands]
        crel = {c: r for c, r in cands}
        idx = {c: int(np.nonzero(ids == c)[0][0]) for c in cid}
        selected = []
        bsim = {c: 0.0 for c in cid}
        for step in range(1, k + 1):
            best = None
            for c in cid:
                if c in (s[0] for s in selected):
                    continue
                sc = lam * crel[c] - (1.0 - lam) * bsim[c]
                key = (-sc, c)
                if best is None or key < best[0]:
                    best = (key, c, sc)
            selected.append((best[1], step, best[2]))
            for c in cid:
                bsim[c] = max(bsim[c], float(sims[idx[c]][idx[best[1]]]))
        out.extend((q, c, s, sc) for c, s, sc in selected)
    return sorted(out)


def test_mmr_matches_independent_replay(emb):
    from hls_stac_parquet_spark.operators.similarity import mmr_diversify

    probes = emb.filter("vec_id < 3")
    got = sorted(
        (r.query_id, r.vec_id, r.rnk, r.mmr_score)
        for r in mmr_diversify(emb, probes, k=5, pool=10, lam=0.7).collect()
    )
    want = _numpy_mmr(emb.toPandas(), [0, 1, 2], k=5, pool=10, lam=0.7)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-12)


def test_mmr_diversifies_planted_dup_cluster(spark):
    from hls_stac_parquet_spark.operators.similarity import mmr_diversify

    rng = np.random.default_rng(11)
    base = rng.standard_normal((12, DIM))
    rows = [(i, base[i].astype(np.float32).tolist()) for i in range(12)]
    # four near-copies of base[0]: a dup cluster a plain top-k would
    # return wholesale
    for j in range(4):
        noisy = base[0] + rng.standard_normal(DIM) * 0.005
        rows.append((200 + j, noisy.astype(np.float32).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    probes = df.filter("vec_id = 0")

    picked = [
        r.vec_id
        for r in sorted(
            mmr_diversify(df, probes, k=4, pool=8, lam=0.3).collect(),
            key=lambda r: r.rnk,
        )
    ]
    # first pick is the max-relevance candidate (one of the copies) …
    assert picked[0] in {200, 201, 202, 203}
    # … then at lam=0.3 a remaining copy scores 0.3·1 − 0.7·1 < 0 while
    # an unrelated candidate scores ≈ 0, so the dup cluster yields
    # exactly one pick — a plain top-4 would be all four copies
    assert len([p for p in picked if p in {200, 201, 202, 203}]) == 1
    assert len(picked) == len(set(picked)) == 4


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_corpus_has_no_zero_norm_embeddings(sf_dir):
    """Pin the latent cosine-oracle divergence (round-5 ADVICE): the
    operators map a zero-norm embedding to similarity 0 while DuckDB's
    list_cosine_similarity yields NaN — the two sides agree only while
    the corpus contains no zero vector. This pins that precondition at
    every local SF; if a future generator emits one, this fails loudly
    and the 7 cosine oracles must switch to an explicit NULLIF-guarded
    dot/norm formula."""
    import duckdb

    n_zero = duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?) "
        "WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) = 0",
        [f"{sf_dir}/embeddings.parquet"],
    ).fetchone()[0]
    assert n_zero == 0
