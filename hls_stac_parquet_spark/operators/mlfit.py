"""Distributed model FITTING via sufficient-statistic aggregation —
full-batch logistic regression trained with gradient descent where
each iteration is ONE codegen'd aggregate.

The engine already scores with a broadcast linear model
(q_logistic_scorer); this closes the loop and trains that quality
classifier on-cluster. The shape is the textbook one for models whose
gradient decomposes row-wise: per iteration, every executor computes
partial Σ (sigmoid(w·x) − y)·x over its rows inside whole-stage
codegen (no Python, no UDF — w enters as literals), the driver sums
the d+1 partials, takes a step, and re-broadcasts. d+1 doubles cross
the wire per iteration; the fact table never moves. This is exactly
how MLlib's LogisticRegression aggregates (treeAggregate of gradient
partials) re-expressed in the DataFrame API.

Deterministic: zero init, fixed step, float64 aggregation — equality
with a pure-numpy replay is property-tested (tests/test_mlfit.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.tuning import materialize

#: Largest feature matrix, in cells (rows × (features + intercept)),
#: that logreg_fit collects to the driver and fits in numpy. 4M cells
#: is 32 MB of float64 and keeps the 1M-row cap measured for the
#: 3-feature q_logreg_train.
LOGREG_DRIVER_MAX_CELLS = 4_000_000


def logreg_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    iters: int = 20,
    lr: float = 0.5,
) -> list[float]:
    """Train logistic weights [w_1..w_d, intercept] by full-batch GD.

    Each iteration is one aggregate job over the (cached-by-caller if
    reused) input; the returned list is plain Python floats.
    """
    feats = list(feature_cols)
    d = len(feats)
    n_row = df.count()
    if n_row == 0:
        raise ValueError("logreg_fit: empty input")
    w = [0.0] * (d + 1)

    # Size-tiered (r9, guide §1.2): the distributed loop's cost is
    # 2·iters driver-sequenced jobs of pure scheduler latency (~150 ms
    # each around a ~5 ms aggregate at bench scale). Up to
    # LOGREG_DRIVER_MAX_CELLS the feature matrix is collected ONCE (one
    # Arrow job, ≤ 32 MB of float64 at the cap) and the identical GD
    # runs vectorized in numpy — same init, step, iteration count, and
    # same null semantics (a row with any NULL feature/label contributes
    # to no gradient term: the literal-coefficient margin nulls resid
    # whenever any x_j is null, and F.sum skips null terms — so dropna
    # == the per-term exclusions; n stays the FULL row count either
    # way, and a sum over no terms is 0). Weights agree with the
    # distributed path to float-summation-order ulps (outputs round to
    # ≥4 dp; pinned by tests + oracle parity). Above the cap — any
    # corpus that matters at 100 TB — the aggregate loop below runs.
    if n_row * (d + 1) <= LOGREG_DRIVER_MAX_CELLS:
        import numpy as np

        pdf = (
            df.select(
                *[F.col(c).cast("double") for c in feats],
                F.col(label_col).cast("double").alias("_y"),
            )
            .na.drop()
            .toPandas()
        )
        X = pdf[feats].to_numpy(dtype=np.float64)
        y = pdf["_y"].to_numpy(dtype=np.float64)
        Xb = np.hstack([X, np.ones((len(X), 1))])
        wv = np.zeros(d + 1)
        for _ in range(iters):
            p = 1.0 / (1.0 + np.exp(-(Xb @ wv)))
            grad = Xb.T @ (p - y) / n_row
            wv = wv - lr * grad
        return [float(x) for x in wv]

    zero = F.lit(0.0)
    for _ in range(iters):
        # margin = w·x + b as a literal-coefficient expression —
        # codegen'd, recompiled per iteration (cheap: d is small)
        margin = F.lit(w[d])
        for j, c in enumerate(feats):
            margin = margin + F.lit(w[j]) * F.col(c)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        resid = p - F.col(label_col).cast("double")
        agg = df.agg(
            *[
                F.coalesce(F.sum(resid * F.col(c)), zero).alias(f"g{j}")
                for j, c in enumerate(feats)
            ],
            F.coalesce(F.sum(resid), zero).alias("gb"),
        ).collect()[0]
        grad = [agg[f"g{j}"] / n_row for j in range(d)]
        grad.append(agg["gb"] / n_row)
        w = [wi - lr * gi for wi, gi in zip(w, grad)]
    return w


def logreg_score(
    df: DataFrame,
    weights: Sequence[float],
    feature_cols: Sequence[str],
) -> DataFrame:
    """Attach p = sigmoid(w·x + b) as ``score`` — broadcast-free
    (weights are literals), fully codegen'd, zero shuffle."""
    feats = list(feature_cols)
    margin = F.lit(float(weights[len(feats)]))
    for j, c in enumerate(feats):
        margin = margin + F.lit(float(weights[j])) * F.col(c)
    return df.withColumn(
        "score", F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    )


def bradley_terry_fit(
    pairs: DataFrame,
    iters: int = 10,
) -> DataFrame:
    """Bradley–Terry preference strengths via the classic MM update —
    the preference-data operator of RLHF corpus analysis: given
    pairwise outcomes, fit strengths p s.t. P(i beats j) =
    p_i / (p_i + p_j).

    Each MM round (Hunter 2004): p_i' = w_i / Σ_j n_ij / (p_i + p_j),
    then rescale to mean 1 (the likelihood is scale-invariant; the
    rescale pins the parameterization). Every round is TWO keyed
    joins + one aggregate over the |entities|²-bounded pair-count
    relation — entity-bounded state, the same per-round
    materialization discipline as operators/graph.py::pagerank (the
    relation is joined every round; lineage must not replay).
    Entities with zero wins converge to strength 0, the MM fixpoint.
    Deterministic: fixed init (1.0), fixed rounds, no RNG — the
    fixed-count unroll is SQL-expressible, so queries built on this
    kernel carry full oracles (q_bradley_terry).
    """
    wl = pairs.groupBy(
        F.col("winner").alias("a"), F.col("loser").alias("b")
    ).agg(F.count("*").alias("n"))
    # ordered relation with per-ordered-pair totals n_ab (symmetric)
    rel = materialize(
        wl.unionByName(
            wl.select(
                F.col("b").alias("a"), F.col("a").alias("b"), "n"
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("n"))
    )
    wins = pairs.groupBy(F.col("winner").alias("entity")).agg(
        F.count("*").cast("double").alias("w")
    )
    entities = rel.select(F.col("a").alias("entity")).distinct()
    p = materialize(
        entities.join(wins, "entity", "left").select(
            "entity",
            F.coalesce("w", F.lit(0.0)).alias("w"),
            F.lit(1.0).alias("p"),
        )
    )

    for _ in range(iters):
        denom = (
            rel.join(
                p.select(F.col("entity").alias("a"), F.col("p").alias("pa")),
                "a",
            )
            .join(
                p.select(F.col("entity").alias("b"), F.col("p").alias("pb")),
                "b",
            )
            .groupBy(F.col("a").alias("entity"))
            .agg(F.sum(F.col("n") / (F.col("pa") + F.col("pb"))).alias("d"))
        )
        raw = p.join(denom, "entity", "left").select(
            "entity",
            "w",
            F.when(
                F.coalesce("d", F.lit(0.0)) > 0, F.col("w") / F.col("d")
            )
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        # rescale to mean 1 via a broadcast 1-row scalar dim
        mean_p = raw.agg(F.avg("p").alias("mp"))
        p = materialize(
            raw.join(F.broadcast(mean_p))
            .select("entity", "w", (F.col("p") / F.col("mp")).alias("p"))
        )
    return p.select("entity", F.col("w").cast("bigint").alias("n_wins"), "p")


def isotonic_fit(
    bins: DataFrame,
    x_col: str,
    wy_col: str,
    w_col: str,
) -> DataFrame:
    """Weighted isotonic regression (pool-adjacent-violators) over a
    BOUNDED pre-aggregated frame — the shape-constrained upgrade of
    the reliability diagram: fit the least-squares NON-DECREASING
    curve y_fit(x) to per-bucket outcome rates, the standard
    calibration map (Zadrozny & Elkan 2002) applied to classifier
    scores before they gate training data.

    Contract: ``bins`` has ONE row per distinct ``x_col`` value and
    carries integer sufficient statistics — ``wy_col`` = Σ y (y ∈
    {0,1}) and ``w_col`` = Σ 1 within the bucket. Pooling decisions
    compare block means by integer cross-multiplication (wy₁·w₂ >
    wy₂·w₁), so the fit involves ZERO float comparisons and the
    fitted value of each block is a single exact int/int division —
    bit-identical on any engine that computes the same block
    partition (the DuckDB oracle twin uses the minimax identity
    ŷᵢ = max_{j≤i} min_{k≥i} avg(y[j..k]) — a different algorithm,
    same exact arithmetic — so agreement is evidence, not echo).

    Scale shape: the input is an AGGREGATE (≤ #buckets rows, fixed by
    the binning, not the corpus) — the 100 TB fact scan happens
    upstream in the grouped count. The fit itself runs as ONE
    applyInPandas group on an executor: no driver collect, no loop of
    jobs, O(#buckets) stack-based PAVA. Returns the input columns +
    ``y_fit`` (double).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    in_fields = list(bins.schema.fields)
    out_schema = StructType(in_fields + [StructField("y_fit", DoubleType())])
    cols = [f.name for f in in_fields]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[cols].sort_values(x_col).reset_index(drop=True)
        wy = pdf[wy_col].to_numpy(dtype=np.int64)
        w = pdf[w_col].to_numpy(dtype=np.int64)
        blocks: list[list[int]] = []  # [start_idx, Σwy, Σw]
        for i in range(len(pdf)):
            cur = [i, int(wy[i]), int(w[i])]
            while blocks and blocks[-1][1] * cur[2] > cur[1] * blocks[-1][2]:
                prev = blocks.pop()
                cur = [prev[0], prev[1] + cur[1], prev[2] + cur[2]]
            blocks.append(cur)
        yhat = np.empty(len(pdf), dtype=np.float64)
        starts = [b[0] for b in blocks] + [len(pdf)]
        for bi, b in enumerate(blocks):
            yhat[starts[bi] : starts[bi + 1]] = b[1] / b[2]
        out = pdf.copy()
        out["y_fit"] = yhat
        return out

    return (
        bins.withColumn("_all", F.lit(1))
        .groupBy("_all")
        .applyInPandas(lambda pdf: fit(pdf), out_schema)
    )
