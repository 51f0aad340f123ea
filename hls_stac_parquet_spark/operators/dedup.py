"""Deduplication operators for large-scale document corpora.

Four families, all shuffle-conscious:

- exact: hash-groupBy on a 32-char fingerprint (never on full text —
  the shuffle carries the digest, not the document)
- MinHash + LSH: shingle → per-seed min-hash signature → banded
  bucket join → candidate pairs (the Broder construction); at 100 TB
  only the (band, bucket) keys shuffle, candidates are verified
  against signatures without re-reading text
- SimHash: 64-bit sign-sum sketch; near-dup = small Hamming distance,
  candidates via band-equality buckets
- n-gram Jaccard: exact set overlap via a shingle self-join —
  quadratic in bucket size, used as ground truth at test scale and as
  the verifier stage after LSH at production scale
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.text import (
    doc_fingerprint,
    shingle_hashes_from,
    token_hashes,
)
from hls_stac_parquet_spark.tuning import materialize


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized content.

    Returns (fp, keep_id, n_copies): keep the min id per group —
    deterministic, unlike dropDuplicates' arbitrary pick.
    """
    return (
        df.select(F.col("doc_id"), doc_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


_MERSENNE61 = (1 << 61) - 1
#: MinHash signature length and its LSH bands (4 rows per band)
MINHASH_HASHES = 64
MINHASH_BANDS = 16


def _minhash_params():
    """Deterministic (a_i, b_i) pairs for the universal-hash family
    h_i(x) = (a_i·x + b_i) mod (2^61-1), with 31-bit a_i so every
    intermediate fits a signed 64-bit long (ANSI-safe: no overflow)."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(1, 1 << 31, size=MINHASH_HASHES, dtype=np.int64) | 1
    b = rng.integers(0, 1 << 31, size=MINHASH_HASHES, dtype=np.int64)
    return a.tolist(), b.tolist()


def _minhash_sig_bands(df: DataFrame, shingle_k: int) -> DataFrame:
    """(doc_id, signature, bands) in ONE Arrow pass: the LSH band hashes
    are an FNV fold over each band's signature slice computed right
    next to the signature mins in numpy — no separate JVM
    hash-of-slice projection stage (measured: that stage cost a wide
    xxhash64 expression tree per band plus its codegen)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    a_params, b_params = _minhash_params()
    a = np.asarray(a_params, dtype=np.int64)
    b = np.asarray(b_params, dtype=np.int64)
    empty_sig = np.asarray((a * 0 + b) % _MERSENNE61, dtype=np.int64)
    bands = MINHASH_BANDS
    rpb = MINHASH_HASHES // bands
    out_type = StructType([
        StructField("signature", ArrayType(LongType())),
        StructField("bands", ArrayType(LongType())),
    ])

    @F.pandas_udf(out_type)
    def fold(hash_arrays):
        n = len(hash_arrays)
        lengths = hash_arrays.map(len).to_numpy(dtype=np.int64)
        total = int(lengths.sum())
        sig = np.tile(empty_sig, (n, 1))
        if total:
            # rows arrive as numpy arrays from Arrow — concatenate at
            # C speed (one call per ROW) instead of np.fromiter's
            # per-ELEMENT Python generator
            flat = np.concatenate(
                [np.asarray(row, dtype=np.int64) for row in hash_arrays]
            )
            # (n_shingles, MINHASH_HASHES): a_i·h31 + b_i fits int64
            perms = (flat[:, None] * a[None, :] + b[None, :]) % _MERSENNE61
            offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            nonzero = lengths > 0
            sig[nonzero] = np.minimum.reduceat(perms, offsets[nonzero], axis=0)
        # FNV-1a fold over each band's slice; uint64 wraparound is
        # deterministic, viewed back as signed for the LongType
        u = sig.view(np.uint64).reshape(n, bands, rpb)
        h = np.full((n, bands), np.uint64(0xCBF29CE484222325))
        for k in range(rpb):
            h = (h ^ u[:, :, k]) * np.uint64(1099511628211)
        return pd.DataFrame({
            "signature": list(sig.tolist()),
            "bands": list(h.view(np.int64).tolist()),
        })

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    # a compact corpus file scans as ONE partition — without this the
    # CPU-heavy signature UDF runs on a single core
    tok = parallelize_for_udf(df).select(
        F.col("doc_id"), token_hashes("text").alias("_tok_h")
    )
    hashed = tok.select(
        F.col("doc_id"),
        F.array_distinct(shingle_hashes_from("_tok_h", shingle_k)).alias("_h31"),
    )
    out = hashed.select(F.col("doc_id"), fold("_h31").alias("_sb"))
    return out.select("doc_id", "_sb.signature", "_sb.bands")


def minhash_candidate_pairs(
    df: DataFrame,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH-banded MinHash near-duplicate candidate pairs.

    signature → ``MINHASH_BANDS`` band-hashes → explode → bucket
    groupBy → in-bucket pair expansion (operators/lsh.bucket_pairs: ONE shuffle,
    no self-join) → estimate Jaccard as the matching fraction of the
    two signatures (zip_with, JVM-side, AQE-adaptive signature join).

    Buckets over 1000 docs are dropped: degenerate buckets (e.g. the
    empty-document bucket) whose quadratic blow-up would dominate at
    scale — the standard guard; dropped buckets are all-identical docs anyway,
    which exact dedup already catches.
    """
    from hls_stac_parquet_spark.operators.lsh import bucket_pairs

    sig = _minhash_sig_bands(df, shingle_k)
    # branch point: banded view + two verification joins reuse it
    sig = materialize(sig)

    # band hashes were folded in the same Arrow pass as the signature;
    # only (id, band, hash) shuffles — signatures stay out of the pairing
    banded = sig.select(
        F.col("doc_id"), F.posexplode("bands").alias("band", "band_hash")
    )
    pairs = bucket_pairs(banded, ["band", "band_hash"], "doc_id", 1000).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )

    # verify candidates against full signatures. Plain equi-joins on
    # purpose: AQE broadcasts the signature side while it fits (test
    # scale) and falls back to a shuffle join keyed on doc id when the
    # corpus outgrows any broadcast (1B docs × 64 longs ≈ 0.5 TB of
    # signatures — the candidate-pair side is the sparse one there)
    sig_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / F.lit(MINHASH_HASHES),
        )
    )
    return est.filter(F.col("est_jaccard") >= 0.5).select(
        "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def simhash(df: DataFrame) -> DataFrame:
    """63-bit SimHash sketch per document (sign-sum of token hashes).

    Shuffle-free hybrid: token hashing stays JVM-side (split +
    transform/xxhash64 — deterministic, codegen'd), then ONE
    Arrow-batched pandas UDF folds each row's hash array into the
    63-bit key with fully vectorized numpy (bit matrix + segmented
    reduceat — no per-token Python). No explode, no groupBy; a pure
    map over documents. (Measured: beats both the explode+groupBy
    63-column aggregate and a pure HOF formulation — HOF lambdas
    evaluate interpreted, outside whole-stage codegen.)

    63 not 64 bits: keeps the key positive in a signed bigint.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    masks = np.int64(1) << np.arange(63, dtype=np.int64)

    @F.pandas_udf(LongType())
    def fold(hashes):
        lengths = hashes.map(len).to_numpy(dtype=np.int64)
        total = int(lengths.sum())
        if total == 0:
            return pd.Series(np.zeros(len(hashes), dtype=np.int64))
        flat = np.concatenate([np.asarray(row, dtype=np.int64) for row in hashes])
        # (n_tokens, bits) ±1 matrix, summed per document via reduceat
        signs = ((flat[:, None] & masks) != 0).astype(np.int32) * 2 - 1
        offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        # reduceat needs non-empty segments; guard zero-length docs
        nonzero = lengths > 0
        sums = np.zeros((len(hashes), 63), dtype=np.int64)
        if nonzero.all():
            sums = np.add.reduceat(signs, offsets, axis=0)
        else:
            sums[nonzero] = np.add.reduceat(
                signs, offsets[nonzero], axis=0
            )[: nonzero.sum()]
        key = ((sums > 0) * masks).sum(axis=1)
        return pd.Series(key)

    from hls_stac_parquet_spark.tuning import parallelize_for_udf

    hashed = parallelize_for_udf(df).select(
        F.col("doc_id"),
        # coalesce: NULL text → empty token list → simhash 0, same as
        # an empty document (a None row would TypeError inside fold)
        F.coalesce(
            F.transform(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: F.xxhash64(t),
            ),
            F.expr("CAST(array() AS array<bigint>)"),
        ).alias("_hashes"),
    )
    return hashed.select(F.col("doc_id"), fold("_hashes").alias("simhash"))


def simhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """Near-dup candidates (Hamming distance ≤ 3): equal ~16-bit
    SimHash band → bucket pair expansion (one shuffle, operators/lsh.bucket_pairs) → exact
    Hamming distance filter (popcount) against the sketch table.
    Verification joins are plain equi-joins: AQE broadcasts the
    sketch side while it fits and shuffle-joins the sparse pair list
    against it beyond broadcast scale."""
    from hls_stac_parquet_spark.operators.lsh import bucket_pairs

    # sketch feeds the pairing AND both Hamming lookups — compute once
    sh = materialize(simhash(df))
    bands = 4
    band_width = 63 // bands + 1
    banded = sh.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_width).bitwiseAND(
                        F.lit((1 << band_width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    pairs = bucket_pairs(banded, ["band", "band_val"], "doc_id").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sh_b"))
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "hamming", F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via shingle self-join.

    |A∩B| from the join, |A|,|B| from per-doc counts, Jaccard by
    inclusion-exclusion. Oracle-expressible (see q_ngram_jaccard).
    Quadratic in per-shingle doc frequency — at scale, run *after*
    LSH candidate generation, not instead of it.
    """
    toks = F.split(F.lower(F.col("text")), " ")
    base = df.select(F.col("doc_id"), toks.alias("ts")).filter(F.size("ts") >= n)
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at("ts", (i + j).cast("int")) for j in range(n)]
                    ),
                )
            )
        ).alias("shingle"),
    )
    counts = grams.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = grams.alias("a")
    b = grams.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    j = (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return j.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def shared_window_pairs(
    df: DataFrame,
    k: int = 8,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Exact substring-duplication candidate pairs: two documents are
    flagged when they share at least ``min_shared`` distinct k-token
    windows (the distributed, inverted-index form of Lee et al.'s
    "Deduplicating Training Data" exact-substring pass — a k-token
    shared window IS a shared substring of >= k tokens, no suffix
    array needed).

    Plan shape: per-row window fingerprints (md5 over each k-token
    slice — engine-portable text digests, unlike the xxhash sketches
    in minhash/simhash, so this op carries a full DuckDB oracle) →
    row-side ``array_distinct`` → explode to (fp, id) postings → ONE
    shuffle keyed by fp collects each posting list → in-row
    ordered-pair expansion (same HOF shape as lsh.bucket_pairs, kept
    inline here because the pair COUNT is the output, which
    bucket_pairs' dropDuplicates would destroy) → (pair) count
    aggregate. Fingerprints seen in more than ``max_df`` documents are
    dropped before pairing: at corpus scale boilerplate/stop-phrase
    windows are the quadratic blowup, and they carry no dedup signal
    (standard max-df cut). Document text never crosses a shuffle —
    only 32-char digests and ids.
    """
    toks = df.select(
        F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("_ts")
    )
    n = F.size("_ts")
    wins = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("_ts", i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    postings = toks.select(
        F.col("doc_id"), F.explode(F.array_distinct(wins)).alias("fp")
    )
    buckets = (
        postings.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_df))
    )
    ids = F.col("_ids")
    m = F.size(ids)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at(ids, i.cast("int")).alias("a"),
                    F.element_at(ids, j.cast("int")).alias("b"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    n: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via prefix filtering
    (Chaudhuri/Bayardo/Xiao's All-Pairs–PPJoin family — public
    algorithms): identical output to :func:`ngram_jaccard_pairs`, but
    the candidate stage scales.

    Principle: order every document's shingle set by one global total
    order and keep only the PREFIX of length |A| − ⌈τ·|A|⌉ + 1. Any
    two sets with Jaccard ≥ τ MUST share at least one prefix element
    (dropping more than |A| − ⌈τ·|A|⌉ elements can't leave enough
    overlap), so bucketing on prefix shingles alone generates a
    candidate superset — exactness preserved, candidate volume driven
    by (1−τ)·|doc| instead of |doc|.

    The total order here is (xxhash64(shingle), shingle) — computable
    row-side with array_sort over a struct array, so prefix
    construction is a pure scan-side projection: no global frequency
    pre-pass, no extra shuffle. (Frequency-ascending order would
    shrink candidates further at the cost of a vocab aggregate +
    rejoin; hash order keeps the plan two shuffles total — bucket
    groupBy + verify join.) Verification computes exact Jaccard from
    the full shingle arrays with array_intersect — JVM higher-order
    functions, no Python.
    """
    from hls_stac_parquet_spark.operators.lsh import bucket_pairs

    toks = F.split(F.lower(F.col("text")), " ")
    base = df.select(F.col("doc_id"), toks.alias("ts")).filter(F.size("ts") >= n)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("ts", (i + j).cast("int")) for j in range(n)]
            ),
        )
    )
    docs = base.select(F.col("doc_id"), grams.alias("grams"))
    ordered = F.array_sort(
        F.transform(
            "grams", lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g"))
        )
    )
    prefix_len = (
        F.size("grams")
        - F.ceil(F.size("grams") * F.lit(min_jaccard)).cast("int")
        + F.lit(1)
    )
    prefixed = docs.select(
        F.col("doc_id"),
        F.explode(F.slice(ordered, F.lit(1), prefix_len)).alias("p"),
    ).select(F.col("doc_id"), F.col("p.g").alias("shingle"))

    # exact: no bucket cap — a dropped bucket could drop a true pair
    cand = bucket_pairs(prefixed, ["shingle"], "doc_id", max_bucket=None)

    ga = docs.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = docs.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    verified = (
        cand.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("ga") + F.size("gb") - F.col("n_common")),
        )
    )
    return verified.filter(F.col("jaccard") >= min_jaccard).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 2,
    min_containment: float = 0.6,
    max_df: int = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment C(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ τ means doc A is
    (mostly) CONTAINED in doc B — the quote/excerpt/superset case
    Jaccard misses (a paragraph pasted into a long page scores near 0
    Jaccard but 1.0 containment).

    Emits both directions (doc_a ⊂ doc_b is not doc_b ⊂ doc_a); pairs
    where A==B are excluded. Plan: one distinct (doc, shingle)
    postings shuffle; a ``max_df`` cut drops boilerplate shingles
    whose posting lists would quadratically dominate (standard
    inverted-index hygiene, same as shared_window_pairs); the
    intersection join is shingle-keyed; containment needs only |A|
    (a broadcast-joined per-doc count). At corpus scale, run after
    MinHash/LSH candidate generation for the symmetric case and keep
    this as the exact verify/asymmetric tier.
    """
    toks = F.split(F.lower(F.col("text")), " ")
    base = df.select(F.col("doc_id"), toks.alias("ts")).filter(F.size("ts") >= n)
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at("ts", (i + j).cast("int")) for j in range(n)]
                    ),
                )
            )
        ).alias("shingle"),
    )
    eligible = (
        grams.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    pruned = grams.join(eligible, "shingle")
    counts = grams.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = pruned.alias("a")
    b = pruned.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    out = common.join(ca, "doc_a").withColumn(
        "containment", F.col("n_common") / F.col("n_a")
    )
    return out.filter(F.col("containment") >= min_containment).select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    )


def ngram_jaccard_pairs_between(
    probe: DataFrame,
    base: DataFrame,
    n: int = 2,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN two document sets — the
    incremental-ingest shape: a small probe batch joins the corpus's
    shingle postings instead of re-running the corpus×corpus
    self-join. Cost is driven by |probe postings| × per-shingle df,
    not |corpus|²; at scale the base side is the maintained postings
    index (cf. q_dedup_incremental's exact-digest variant).

    Output: (probe_id, base_id, jaccard) with probe_id from ``probe``
    and base_id from ``base`` (caller canonicalizes orientation if it
    unions these with self-join pairs).
    """

    def grams(df):
        toks = F.split(F.lower(F.col("text")), " ")
        b = df.select(F.col("doc_id"), toks.alias("ts")).filter(
            F.size("ts") >= n
        )
        return b.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                        lambda i: F.concat_ws(
                            " ",
                            *[
                                F.element_at("ts", (i + j).cast("int"))
                                for j in range(n)
                            ],
                        ),
                    )
                )
            ).alias("shingle"),
        )

    gp = grams(probe)
    gb = grams(base)
    cp = gp.groupBy("doc_id").agg(F.count("*").alias("n_p"))
    cb = gb.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    common = (
        gp.select(F.col("doc_id").alias("probe_id"), "shingle")
        .join(gb.select(F.col("doc_id").alias("base_id"), "shingle"), "shingle")
        .groupBy("probe_id", "base_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            cp.select(F.col("doc_id").alias("probe_id"), "n_p"), "probe_id"
        )
        .join(cb.select(F.col("doc_id").alias("base_id"), "n_b"), "base_id")
        .select(
            "probe_id",
            "base_id",
            (
                F.col("n_common")
                / (F.col("n_p") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
