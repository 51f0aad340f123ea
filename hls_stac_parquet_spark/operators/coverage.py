"""Greedy maximum-coverage subset selection (facility location): pick
the k documents whose token sets jointly cover the most corpus
vocabulary — the diverse-subset curation primitive (coreset selection,
eval-set seeding, "which k docs teach the most n-grams"). Greedy is
the classical (1 − 1/e)-approximation and, run with a deterministic
tie rule, a pure function of the input.

Shape: k driver-SEQUENCED rounds (greedy is inherently sequential in
k — each pick changes every remaining gain), but each round is fully
distributed: one broadcast anti-join of the postings against the
covered-token set (bounded by k × max-doc-tokens, always tiny) + one
doc-keyed count + a TakeOrdered(1). The postings relation is
materialized once and shrinks as picked docs drop out; only k
single-row collects cross the control plane. Cost: k postings scans —
the operator's documented envelope (k is a user knob, never
corpus-sized).

Oracle twin: the same greedy unrolls to a DuckDB recursive CTE whose
working relation is the postings annotated with (covered, picked)
flags — one recursive step per pick, integer gains, (gain DESC, doc
ASC) tie rule — so the driver hash-checks every pick and gain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hls_stac_parquet_spark.tuning import driver_rows_to_df, materialize

_COVER_SCHEMA = StructType(
    [
        StructField("rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("gain", LongType()),
        StructField("covered_total", LongType()),
    ]
)


def greedy_max_cover(
    posts: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    tok_col: str = "tok",
) -> DataFrame:
    """Greedy max-cover over a (doc, token) postings relation.

    Returns ``(rank, doc_id, gain, covered_total)`` — gain is the
    number of NEW tokens the pick covers, covered_total the running
    union size. Stops early when no remaining doc covers anything new
    (every further gain would be 0). Ties break on smaller doc id.
    """
    spark = posts.sparkSession
    p = materialize(
        posts.select(
            F.col(doc_col).alias("_d"), F.col(tok_col).alias("_t")
        )
        .distinct()
    )
    covered: DataFrame | None = None
    picks: list[tuple] = []
    total = 0
    for rank in range(1, int(k) + 1):
        cand = p
        if covered is not None:
            cand = p.join(
                F.broadcast(covered), p["_t"] == covered["_ct"], "left_anti"
            )
        top = (
            cand.groupBy("_d")
            .agg(F.count("*").alias("_g"))
            .orderBy(F.desc("_g"), F.asc("_d"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0]["_d"], top[0]["_g"]
        total += int(gain)
        picks.append((rank, int(doc), int(gain), total))
        newly = p.filter(F.col("_d") == doc).select(F.col("_t").alias("_ct"))
        covered = materialize(
            newly if covered is None else covered.union(newly).distinct()
        )
        # picked docs leave the candidate relation (and their postings
        # stop being scanned) — the relation only shrinks
        p = materialize(p.filter(F.col("_d") != doc))

    return driver_rows_to_df(spark, picks, _COVER_SCHEMA)
