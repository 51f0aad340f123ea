"""Similarity search over embedding columns.

Two paths, per the scale playbook:

- brute force (:func:`cosine_topk`, :func:`cosine_pairs_above`): the
  query side streams through ``mapInPandas`` while the reference
  matrix rides along as a broadcast — one numpy GEMM per Arrow batch,
  no shuffle at all. Right answer up to ~10^6 reference vectors
  (the broadcast must fit an executor).
- LSH (:func:`lsh_cosine_candidates`): random-hyperplane signatures,
  banded bucket join, exact re-rank inside buckets — the 100 TB path
  where neither side fits anywhere.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hls_stac_parquet_spark.tuning import materialize

#: Reference rows the brute-force tier collects to the driver; above
#: it :func:`cosine_topk` and :func:`cosine_pairs_above` refuse.
BRUTE_FORCE_MAX_ROWS = 2_000_000
#: Probe rows :func:`mmr_diversify` collects to the driver.
MMR_MAX_QUERY_ROWS = 10_000

_TOPK_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
        StructField("rnk", IntegerType()),
    ]
)

_PAIRS_SCHEMA = StructType(
    [
        StructField("vec_a", LongType()),
        StructField("vec_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _collect_matrix(df: DataFrame, max_rows: int):
    """Materialize the reference side as (ids, row-normalized float64
    matrix). This is the broadcast-dim pattern: the collected side is
    the *small* one by construction; the streaming side never leaves
    the executors.

    Guarded: the row count is checked BEFORE collecting, so an
    oversized reference raises a clear error instead of silently
    OOM-ing the driver. Above the cap, use the LSH
    (:func:`lsh_cosine_candidates`) or IVF (:func:`ivf_cosine_topk`)
    tier — that's what they're for."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"brute-force tier refused: reference side has {n} rows > "
            f"{max_rows}; use lsh_cosine_candidates / ivf_cosine_topk "
            "(the scale tier)"
        )
    pdf = df.select("vec_id", "embedding").toPandas()
    if len(pdf) == 0:  # empty corpus: a valid (if degenerate) input
        return np.zeros(0, dtype=np.int64), np.zeros((0, 1)), np.zeros(0)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat, norms


def cosine_topk(
    df: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (self excluded).

    Ranking is by (rounded cosine DESC, neighbor_id ASC) so the result
    set is deterministic and engine-portable despite float summation
    order.
    """
    spark = df.sparkSession
    ids, mat, norms = _collect_matrix(df, BRUTE_FORCE_MAX_ROWS)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_ids, r_mat, r_norms = bc.value
        for pdf in batches:
            if not len(pdf):  # empty partitions are routine at scale
                continue
            q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q_norms = np.linalg.norm(q_mat, axis=1)
            q_norms[q_norms == 0] = 1.0
            sims = (q_mat @ r_mat.T) / np.outer(q_norms, r_norms)
            simr = np.round(sims, 6)
            out_q, out_n, out_s, out_r = [], [], [], []
            for row_i in range(len(q_ids)):
                mask = r_ids != q_ids[row_i]
                cand_ids = r_ids[mask]
                cand_s = simr[row_i][mask]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                out_q.extend([q_ids[row_i]] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_s[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {
                    "vec_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cosine": np.asarray(out_s, dtype=np.float64),
                    "rnk": np.asarray(out_r, dtype=np.int32),
                }
            )

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    return parallelize_for_udf(df.select("vec_id", "embedding")).mapInPandas(
        gen, _TOPK_SCHEMA
    )


def cosine_pairs_above(
    df: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    detection. Same broadcast-GEMM plan as cosine_topk."""
    spark = df.sparkSession
    ids, mat, norms = _collect_matrix(df, BRUTE_FORCE_MAX_ROWS)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_ids, r_mat, r_norms = bc.value
        for pdf in batches:
            if not len(pdf):  # empty partitions are routine at scale
                continue
            q_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            q_norms = np.linalg.norm(q_mat, axis=1)
            q_norms[q_norms == 0] = 1.0
            sims = np.round(
                (q_mat @ r_mat.T) / np.outer(q_norms, r_norms), 6
            )
            # keep a<b so each pair appears once globally
            qi, ri = np.nonzero(sims >= threshold)
            keep = q_ids[qi] < r_ids[ri]
            yield pd.DataFrame(
                {
                    "vec_a": q_ids[qi[keep]],
                    "vec_b": r_ids[ri[keep]],
                    "cosine": sims[qi[keep], ri[keep]],
                }
            )

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    return parallelize_for_udf(df.select("vec_id", "embedding")).mapInPandas(
        gen, _PAIRS_SCHEMA
    )


def _train_sample(df: DataFrame) -> "np.ndarray | None":
    """Unit-norm rows of a bounded deterministic training sample: the
    10k smallest ``xxhash64(vec_id)``. That is a takeOrdered
    (per-partition heap + merge), not a global sort; training cost
    stays constant as the corpus grows — the standard sample-trained
    IVF recipe."""
    sample = (
        df.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")))
        .limit(10000)
        .toPandas()
    )
    if len(sample) == 0:  # empty corpus: nothing to quantize
        return None
    X = np.stack([np.asarray(v, dtype=np.float64) for v in sample["embedding"]])
    xn = np.linalg.norm(X, axis=1)
    xn[xn == 0] = 1.0
    return X / xn[:, None]


def _train_spherical_kmeans(
    df: DataFrame, n_clusters: int
) -> "np.ndarray | None":
    """Unit-norm centroid matrix: 8 seeded Lloyd iterations over
    :func:`_train_sample` (None for an empty corpus)."""
    X = _train_sample(df)
    if X is None:
        return None
    n_clusters = min(n_clusters, len(X))
    rng = np.random.default_rng(42)
    centers = X[rng.choice(len(X), size=n_clusters, replace=False)]
    for _ in range(8):
        owner = np.argmax(X @ centers.T, axis=1)
        for j in range(n_clusters):
            members = X[owner == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    cnorm = np.linalg.norm(centers, axis=1)
    cnorm[cnorm == 0] = 1.0
    return centers / cnorm[:, None]


def _ivf_assign_probe(df: DataFrame, bc_centers, n_probe: int):
    """(corpus, probes) cogroup inputs from ONE Arrow pass.

    The former shape ran TWO pandas_udf passes over the corpus —
    ``assign`` (argmax of sims) and ``probe`` (arg-top-n_probe of the
    SAME sims matrix) — so every vector crossed the Python boundary
    twice and the centroid GEMM ran twice (measured r9: the two
    passes were ~90% of q_ann_ivf's task time; the cogrouped search
    was 0.7 s of 18 s). One mapInPandas computes sims once, emits
    (id, vec, cluster, probes), and one materialization holds it
    for both cogroup branches. Per-row results are identical: cluster
    and probes derive from the same sims by the same argmax/argsort
    expressions the two UDFs used. The probe branch uses fresh column
    names (self-cogroup attribute dedup can prune shared-lineage
    columns from the right pandas frame)."""
    from pyspark.sql.types import ArrayType

    def _unit_rows(pdf_col) -> "np.ndarray":
        if len(pdf_col) == 0:
            return np.zeros((0, bc_centers.value.shape[1]))
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return mat / norms[:, None]

    enriched_schema = StructType(
        [
            StructField("vec_id", df.schema["vec_id"].dataType),
            StructField("embedding", df.schema["embedding"].dataType),
            StructField("cluster", IntegerType()),
            StructField("probes", ArrayType(IntegerType())),
        ]
    )

    def enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sims = _unit_rows(pdf["embedding"]) @ bc_centers.value.T
            if len(pdf) == 0:
                clusters = np.zeros(0, dtype=np.int32)
                tops: list = []
            else:
                clusters = np.argmax(sims, axis=1).astype(np.int32)
                tops = list(
                    np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cluster": clusters,
                    "probes": tops,
                }
            )

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    enriched = materialize(
        parallelize_for_udf(df.select("vec_id", "embedding"))
        .mapInPandas(enrich, enriched_schema)
    )
    corpus = enriched.select("vec_id", "embedding", "cluster")
    probes = enriched.select(
        F.col("vec_id").alias("p_id"),
        F.col("embedding").alias("p_vec"),
        F.explode("probes").alias("cluster"),
    )
    return corpus, probes


def ivf_cosine_pairs_above(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """Blocked near-duplicate pair generation: all (a < b) pairs with
    cosine ≥ threshold, searched only WITHIN shared IVF cells — the
    100 TB scale path for embedding dedup, replacing
    :func:`cosine_pairs_above`'s broadcast GEMM (which caps the corpus
    at executor memory).

    Each vector lands in its nearest cell (corpus role) and fans out
    to its ``n_probe`` nearest cells (probe role); a cogrouped numpy
    GEMM per cell emits local pairs, deduped across cells with one
    ``dropDuplicates``. Cost ∝ Σ_cell |corpus_c| × |probes_c| — never
    all-pairs. Approximate: a pair straddling cells that probing
    doesn't bridge is missed; recall vs the exact operator is
    property-tested (tests/test_similarity.py), and ``n_probe`` is
    the recall/cost dial.
    """
    spark = df.sparkSession
    centers = _train_spherical_kmeans(df, n_clusters)
    if centers is None:  # empty corpus -> no pairs
        return spark.createDataFrame([], _PAIRS_SCHEMA)
    bc_centers = spark.sparkContext.broadcast(centers)

    def _unit_rows(pdf_col) -> "np.ndarray":
        if len(pdf_col) == 0:
            return np.zeros((0, bc_centers.value.shape[1]))
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return mat / norms[:, None]

    # one Arrow pass computes the centroid sims once and feeds both
    # cogroup branches off a checkpoint (r9, guide §4 — see
    # _ivf_assign_probe)
    corpus, probes = _ivf_assign_probe(df, bc_centers, n_probe)

    def search(key, corpus_pdf: pd.DataFrame, probe_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": np.int64, "vec_b": np.int64, "cosine": np.float64}
        )
        if len(corpus_pdf) == 0 or len(probe_pdf) == 0:
            return empty
        r_ids = corpus_pdf["vec_id"].to_numpy(dtype=np.int64)
        q_ids = probe_pdf["p_id"].to_numpy(dtype=np.int64)
        sims = np.round(
            _unit_rows(probe_pdf["p_vec"]) @ _unit_rows(corpus_pdf["embedding"]).T,
            6,
        )
        qi, ri = np.nonzero(sims >= threshold)
        keep = q_ids[qi] < r_ids[ri]  # a<b: each pair once per cell
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "vec_a": q_ids[qi[keep]],
                "vec_b": r_ids[ri[keep]],
                "cosine": sims[qi[keep], ri[keep]],
            }
        )

    local = (
        corpus.groupBy("cluster")
        .cogroup(probes.groupBy("cluster"))
        .applyInPandas(search, _PAIRS_SCHEMA)
    )
    # the same pair can surface in several probed cells
    return local.dropDuplicates(["vec_a", "vec_b"])


def ivf_cosine_topk(
    df: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 3,
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF (inverted-file)
    index — the other 100 TB ANN path, complementary to
    :func:`lsh_cosine_candidates`:

    1. **train**: spherical k-means quantizer fit on a bounded,
       deterministic corpus sample (takeOrdered by ``xxhash64(id)`` —
       no full shuffle) with seeded numpy Lloyd iterations; the
       centroid matrix is tiny → broadcast. Sample-trained quantizers
       are the standard IVF recipe at scale: training cost stays
       constant as the corpus grows.
    2. **index**: every vector assigned to its nearest centroid (one
       argmax per Arrow batch, map-side only).
    3. **probe**: every query vector fans out to its ``n_probe``
       nearest centroids (recall/cost dial).
    4. **search**: corpus and probes cogrouped per cluster — one
       numpy GEMM per (cluster) group, local top-k, then a global
       top-k window per query.

    Shuffle profile: corpus shuffles ONCE on cluster id (the inverted
    list build), probes shuffle at ``n_probe×`` their row count —
    both narrow rows. No all-pairs product anywhere; cost ∝
    Σ_cluster |corpus_c| × |probes_c|. Recall is tested against
    :func:`cosine_topk` ground truth (tests/test_similarity.py).
    """
    spark = df.sparkSession
    centers = _train_spherical_kmeans(df, n_clusters)
    if centers is None:  # empty corpus -> no neighbors
        from pyspark.sql.types import IntegerType as _I
        return spark.createDataFrame([], StructType([
            StructField("vec_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cosine", DoubleType()),
            StructField("rnk", _I()),
        ]))
    bc_centers = spark.sparkContext.broadcast(centers)

    def _unit_rows(pdf_col) -> "np.ndarray":
        if len(pdf_col) == 0:
            return np.zeros((0, bc_centers.value.shape[1]))
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return mat / norms[:, None]

    # one Arrow pass computes the centroid sims once and feeds both
    # cogroup branches off a checkpoint (r9, guide §4 — see
    # _ivf_assign_probe)
    corpus, probes = _ivf_assign_probe(df, bc_centers, n_probe)

    def search(key, corpus_pdf: pd.DataFrame, probe_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(corpus_pdf) == 0 or len(probe_pdf) == 0:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"vec_id": np.int64, "neighbor_id": np.int64, "cosine": np.float64})
        r_ids = corpus_pdf["vec_id"].to_numpy(dtype=np.int64)
        q_ids = probe_pdf["p_id"].to_numpy(dtype=np.int64)
        sims = np.round(
            _unit_rows(probe_pdf["p_vec"]) @ _unit_rows(corpus_pdf["embedding"]).T,
            6,
        )
        out_q, out_n, out_s = [], [], []
        for row_i in range(len(q_ids)):
            mask = r_ids != q_ids[row_i]
            cand_ids, cand_s = r_ids[mask], sims[row_i][mask]
            order = np.lexsort((cand_ids, -cand_s))[:k]
            out_q.extend([q_ids[row_i]] * len(order))
            out_n.extend(cand_ids[order])
            out_s.extend(cand_s[order])
        return pd.DataFrame(
            {
                "vec_id": np.asarray(out_q, dtype=np.int64),
                "neighbor_id": np.asarray(out_n, dtype=np.int64),
                "cosine": np.asarray(out_s, dtype=np.float64),
            }
        )

    local = (
        corpus.groupBy("cluster")
        .cogroup(probes.groupBy("cluster"))
        .applyInPandas(
            search,
            StructType(
                [
                    StructField("vec_id", LongType()),
                    StructField("neighbor_id", LongType()),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.dropDuplicates(["vec_id", "neighbor_id"])
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def lsh_cosine_candidates(df: DataFrame) -> DataFrame:
    """Random-hyperplane LSH candidate pairs for cosine similarity.

    sign(X·H) over 32 seeded hyperplanes gives a 32-bit signature
    whose Hamming distance estimates the angle; 4 banded equality
    buckets turn the all-pairs problem into a shuffle on (band, 8-bit
    bucket). This is the IVF/LSH "scale path": no broadcast, no GEMM
    against the full corpus, cost ∝ Σ bucket². Each task draws the
    same planes from the seed, sized by the vectors' dimension.
    """
    n_planes, bands = 32, 4
    width = n_planes // bands

    sig_schema = StructType(
        [StructField("vec_id", LongType()), StructField("sig", LongType())]
    )

    def sig_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            H = np.random.default_rng(42).standard_normal(
                (mat.shape[1], n_planes)
            )
            bits = (mat @ H) > 0
            sig = np.zeros(len(pdf), dtype=np.int64)
            for i in range(H.shape[1]):
                sig |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64), "sig": sig}
            )

    from hls_stac_parquet_spark.operators.lsh import bucket_pairs

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    sigs = parallelize_for_udf(df.select("vec_id", "embedding")).mapInPandas(
        sig_gen, sig_schema
    )
    banded = sigs.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", b * width).bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return bucket_pairs(banded, ["band", "bucket"], "vec_id").select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b")
    )


def pq_train_codebooks(
    df: DataFrame,
    m: int = 8,
    codes: int = 16,
) -> "np.ndarray":
    """Train product-quantization codebooks: split the (unit-
    normalized) vector into ``m`` contiguous subspaces and fit a
    ``codes``-centroid k-means per subspace on a bounded deterministic
    sample (same recipe as :func:`ivf_cosine_topk`'s quantizer —
    training cost is constant in corpus size).

    Returns the codebook tensor with shape (m, codes, dim/m).
    """
    X = _train_sample(df)
    if X is None:  # empty corpus: nothing to quantize
        return None
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    d_sub = dim // m
    rng = np.random.default_rng(42)
    books = np.zeros((m, codes, d_sub))
    for s in range(m):
        Xs = X[:, s * d_sub : (s + 1) * d_sub]
        kk = min(codes, len(Xs))
        centers = Xs[rng.choice(len(Xs), size=kk, replace=False)]
        for _ in range(8):
            # L2 assignment: argmin ||x-c||² = argmax (x·c - ||c||²/2)
            scores = Xs @ centers.T - 0.5 * (centers**2).sum(axis=1)
            owner = np.argmax(scores, axis=1)
            for j in range(kk):
                members = Xs[owner == j]
                if len(members):
                    centers[j] = members.mean(axis=0)
        books[s, :kk] = centers
    return books


def pq_encode(
    df: DataFrame,
    books: "np.ndarray",
) -> DataFrame:
    """Encode every vector to ``m`` small codes (nearest codebook
    centroid per subspace) — a pure map over Arrow batches, zero
    shuffle. A 64-float embedding compresses to m bytes-ish of codes:
    the representation that lets a 100 TB corpus's index fit hot
    storage."""
    from pyspark.sql.types import ArrayType, IntegerType as _Int

    spark = df.sparkSession
    if books is None:  # trained on an empty corpus -> nothing to code
        return df.select(
            "vec_id", F.expr("CAST(NULL AS array<int>)").alias("pq_codes")
        ).limit(0)
    bc = spark.sparkContext.broadcast(books)

    @F.pandas_udf(ArrayType(_Int()))
    def encode(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        B = bc.value
        m, _, d_sub = B.shape
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        out = np.zeros((len(mat), m), dtype=np.int32)
        for s in range(m):
            Xs = mat[:, s * d_sub : (s + 1) * d_sub]
            scores = Xs @ B[s].T - 0.5 * (B[s] ** 2).sum(axis=1)
            out[:, s] = np.argmax(scores, axis=1)
        return pd.Series(list(out))

    return df.select("vec_id", encode("embedding").alias("pq_codes"))


def pq_topk_adc(
    codes_df: DataFrame,
    queries: "pd.DataFrame",
    books: "np.ndarray",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: for each query vector, the
    approximate squared L2 distance to a coded corpus vector is the
    sum of per-subspace lookup-table entries — the corpus is scanned
    as codes only (no floats), one numpy gather per Arrow batch, then
    a per-query top-k window.

    ``queries`` is a small pandas frame (query_id, vector) — the
    broadcast side by construction, mirroring the IVF probe fan-out.
    """
    from pyspark.sql.types import (
        DoubleType as _Dbl,
        LongType as _Long,
        StructField as _SF,
        StructType as _ST,
    )

    if books is None or len(queries) == 0:
        from pyspark.sql.types import IntegerType as _I
        spark = codes_df.sparkSession
        return spark.createDataFrame([], _ST([
            _SF("query_id", _Long()),
            _SF("neighbor_id", _Long()),
            _SF("approx_dist", _Dbl()),
            _SF("rnk", _I()),
        ]))
    m, n_codes, d_sub = books.shape
    qmat = np.stack([np.asarray(v, dtype=np.float64) for v in queries["vector"]])
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qmat = qmat / qn[:, None]
    n_q = len(qmat)
    # (n_q, m, codes) distance tables: ||q_s - c_{s,j}||²
    tables = np.zeros((n_q, m, n_codes))
    for s in range(m):
        qs = qmat[:, s * d_sub : (s + 1) * d_sub]
        diff = qs[:, None, :] - books[s][None, :, :]
        tables[:, s, :] = (diff**2).sum(axis=2)
    q_ids = queries["query_id"].to_numpy(dtype=np.int64)

    spark = codes_df.sparkSession
    bc_tables = spark.sparkContext.broadcast(tables)
    bc_qids = spark.sparkContext.broadcast(q_ids)

    out_schema = _ST(
        [
            _SF("query_id", _Long()),
            _SF("neighbor_id", _Long()),
            _SF("approx_dist", _Dbl()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        T = bc_tables.value  # (n_q, m, codes)
        qid = bc_qids.value
        nq, mm, _ = T.shape
        sub = np.arange(mm)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["pq_codes"].to_numpy())  # (n, m)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # gather: dist[q, i] = Σ_s T[q, s, C[i, s]]
            dist = np.zeros((nq, len(ids)))
            for q in range(nq):
                dist[q] = T[q, sub, C].sum(axis=1)
            for q in range(nq):
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(ids), qid[q], dtype=np.int64),
                        "neighbor_id": ids,
                        "approx_dist": np.round(dist[q], 6),
                    }
                )

    from pyspark.sql import Window

    scored = codes_df.mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def kmeans_clusters(
    df: DataFrame,
    n_clusters: int = 8,
) -> DataFrame:
    """Spherical k-means cluster assignment: ``(id, cluster, cosine)``
    for every vector, under centroids trained on a bounded
    deterministic sample (:func:`_train_spherical_kmeans` — the same
    trainer the IVF index uses, exposed as a first-class clustering
    operator for corpus topic bucketing / diversity sampling).

    Scale shape: training touches only 10k sample rows
    (takeOrdered, constant as the corpus grows); assignment is one
    broadcast of the (k × d) centroid matrix and one numpy GEMM per
    Arrow batch — no shuffle, the corpus never moves. Deterministic
    given the fixed seed; assignment correctness (argmax cosine against the
    trained centers) is replayed in numpy in
    tests/test_similarity.py.
    """
    spark = df.sparkSession
    centers = _train_spherical_kmeans(df, n_clusters)
    out_schema = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("cosine", DoubleType()),
        ]
    )
    if centers is None:  # empty corpus: nothing to cluster
        return spark.createDataFrame(
            [],
            StructType(
                [StructField("vec_id", LongType())] + list(out_schema.fields)
            ),
        )
    bc = spark.sparkContext.broadcast(centers)

    @F.pandas_udf(out_schema)
    def assign(col: pd.Series) -> pd.DataFrame:
        C = bc.value
        if len(col) == 0:
            return pd.DataFrame({"cluster": [], "cosine": []}).astype(
                {"cluster": np.int32, "cosine": np.float64}
            )
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ C.T
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "cluster": best.astype(np.int32),
                "cosine": np.round(sims[np.arange(len(best)), best], 6),
            }
        )

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    keyed = parallelize_for_udf(df.select("vec_id", "embedding"))
    return keyed.select(
        "vec_id", assign("embedding").alias("_a")
    ).select("vec_id", "_a.cluster", "_a.cosine")


def random_project(
    df: DataFrame,
    out_dim: int,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: embeddings × a fixed
    seeded Gaussian matrix R/√out_dim → ``(id, projected)`` with
    pairwise Euclidean distances preserved within (1±ε) w.h.p. — the
    cheap dimensionality-reduction stage in front of ANN indexing /
    clustering when the source dimension is wide.

    The projection matrix is generated ONCE from the seed (driver-
    side, out_dim × d doubles) and broadcast; application is one
    numpy GEMM per Arrow batch — no shuffle, no training pass, corpus
    never moves, deterministic on any partitioning. Distance
    preservation and exact numpy-replay equality are pinned in
    tests/test_similarity.py.
    """
    from pyspark.sql.types import ArrayType

    spark = df.sparkSession
    first = df.select(F.size("embedding").alias("d")).first()
    if first is None:  # empty corpus
        return df.select(
            "vec_id", F.expr("CAST(NULL AS array<double>)").alias("projected")
        ).limit(0)
    d = int(first["d"])
    rng = np.random.default_rng(42)
    R = rng.standard_normal((d, out_dim)) / np.sqrt(out_dim)
    bc = spark.sparkContext.broadcast(R)

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        out = np.round(mat @ bc.value, 6)
        return pd.Series(list(out))

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    return parallelize_for_udf(df.select("vec_id", "embedding")).select(
        "vec_id", project("embedding").alias("projected")
    )


_MMR_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("vec_id", LongType()),
        StructField("rnk", IntegerType()),
        StructField("mmr_score", DoubleType()),
    ]
)


def mmr_diversify(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): for each probe vector, pick ``k`` results that are relevant
    AND mutually diverse — the de-dup'd retrieval / diverse-sampling
    primitive of curation pipelines (a plain top-k returns five copies
    of the same near-duplicate cluster; MMR returns one per cluster).

    Greedy selection: first pick = max relevance; each next pick
    maximizes ``lam·rel(q, d) − (1 − lam)·max_{s∈S} sim(d, s)`` over
    the unpicked candidate pool. Fully deterministic: both relevance
    and candidate–candidate similarities are rounded to
    6 digits before any comparison, and every argmax breaks
    ties by smaller id — so the output is a pure function of the
    input, engine-portable, and exactly reproducible by the DuckDB
    recursive-CTE oracle (one recursive step per greedy pick).

    Scale shape (two-stage, like pq_topk_adc): stage 1 streams the
    corpus once through an Arrow map against the broadcast query
    matrix, emitting only each batch's per-query top-``pool`` (the
    global top-pool is a subset of the union of per-batch top-pools),
    so the shuffle into the global pool window carries O(batches ×
    queries × pool) rows, never the corpus. Stage 2 gathers the ≤
    ``pool`` candidate vectors per query with a broadcast join and
    runs the O(pool²) greedy loop inside ONE applyInPandas group per
    query — no driver loop, no per-pick job.
    """
    spark = df.sparkSession
    q_ids, q_mat, q_norms = _collect_matrix(query_df, MMR_MAX_QUERY_ROWS)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))
    n_pool = int(pool)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r_ids, r_mat, r_norms = bc.value
        if len(r_ids) == 0:
            return
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            c_norms = np.linalg.norm(c_mat, axis=1)
            c_norms[c_norms == 0] = 1.0
            sims = np.round(
                (r_mat @ c_mat.T) / np.outer(r_norms, c_norms), 6
            )
            out_q, out_c, out_r = [], [], []
            for qi in range(len(r_ids)):
                mask = c_ids != r_ids[qi]  # the probe is corpus-resident
                ids_m = c_ids[mask]
                s_m = sims[qi][mask]
                order = np.lexsort((ids_m, -s_m))[:n_pool]
                out_q.extend([r_ids[qi]] * len(order))
                out_c.extend(ids_m[order])
                out_r.extend(s_m[order])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "cand": np.asarray(out_c, dtype=np.int64),
                    "rel": np.asarray(out_r, dtype=np.float64),
                }
            )

    from pyspark.sql import Window

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    rel_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("cand", LongType()),
            StructField("rel", DoubleType()),
        ]
    )
    partial = parallelize_for_udf(df.select("vec_id", "embedding")).mapInPandas(
        gen, rel_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand"))
    top_pool = (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_pool)
        .drop("_rn")
    )
    cand_vecs = top_pool.join(
        df.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("_vec")),
        "cand",
    )

    lam_f = float(lam)
    k_i = int(k)

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand").reset_index(drop=True)
        qid = int(pdf["query_id"].iloc[0])
        ids = pdf["cand"].to_numpy(dtype=np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        cs = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        n = len(ids)
        bsim = np.zeros(n, dtype=np.float64)
        avail = np.ones(n, dtype=bool)
        rows = []
        for step in range(1, min(k_i, n) + 1):
            score = lam_f * rel - (1.0 - lam_f) * bsim
            idx_avail = np.nonzero(avail)[0]
            pick_local = np.lexsort((ids[idx_avail], -score[idx_avail]))[0]
            wi = idx_avail[pick_local]
            # raw double, deliberately NOT re-rounded: rel and bsim are
            # 6-decimal-exact, so lam·rel − (1−lam)·bsim lands ON the
            # half boundary at the 7th decimal and half-even (numpy) vs
            # half-away (DuckDB) would diverge; the unrounded score is
            # the same IEEE arithmetic on the same doubles → identical
            rows.append((qid, int(ids[wi]), step, float(score[wi])))
            avail[wi] = False
            bsim = np.maximum(bsim, cs[:, wi])
        return pd.DataFrame(
            rows, columns=["query_id", "vec_id", "rnk", "mmr_score"]
        )

    return cand_vecs.groupBy("query_id").applyInPandas(mmr, _MMR_SCHEMA)
