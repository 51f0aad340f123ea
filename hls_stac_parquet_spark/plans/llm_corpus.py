"""End-to-end LLM training-corpus curation plan.

The north-star composition: raw documents → quality gate →
repetition gate → order-insensitive dedup (survivors only) →
leakage-safe train/test split → token accounting. Registered as
``q_corpus_pipeline`` (queries/llmdata.py) with a full DuckDB oracle,
so the WHOLE chain — not just its stages — is correctness-gated.

Scale shape: every per-document stage (quality, repetition,
fingerprint) is a scan-side projection — the repetition gate is a
higher-order function over the row's own sorted token array, NOT an
explode+groupBy, so the ONLY shuffle in the whole plan is the
survivor-selection window, keyed by a 32-char digest. No
stage collects to the driver; every expression is a built-in (zero
Python UDFs), so the whole plan stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.functions.text import (
    bow_fingerprint,
    max_sorted_run,
    quality_score,
)


def curate_corpus(docs: DataFrame) -> DataFrame:
    """Curate ``docs`` (doc_id, text, source, ...) into a training
    corpus frame: one row per SURVIVING document with its dedup
    fingerprint, quality score, split assignment, and token count.

    Stages (each a pure DataFrame transform — composable and
    individually testable):

    1. **Quality gate** — composite C4/Gopher-shape score
       (length/stopword/punctuation) of at least 0.3; per-row
       arithmetic, no shuffle.
    2. **Repetition gate** — drop docs whose most frequent word
       exceeds 12% of all words (the Gopher
       repetition filter); zero-shuffle HOF over the sorted tokens.
    3. **Dedup** — bag-of-words fingerprint groups; the minimum
       doc_id per group survives (window min over fp — the plan's
       single digest-keyed shuffle).
    4. **Split** — train/test by multiplicative hash of the SURVIVOR
       id (87 of 97 hash buckets train), so duplicate clusters can
       never straddle the split
       (test-set contamination by a train twin is impossible by
       construction).
    5. **Accounting** — whitespace token count for downstream
       packing/mixture budgeting.

    The filters run BEFORE dedup on purpose: quality and repetition
    are per-row and cheap, dedup shuffles — filter-early shrinks the
    shuffle. At 100 TB each gate's selectivity shows up directly in
    the exchange sizes.
    """
    # sorted tokens are let-bound into their own projection: an
    # inlined split() inside the HOF re-evaluates per lambda step
    # n_tokens is computed SCAN-SIDE so `text` never crosses the
    # plan's one shuffle: the survivor window below repartitions by
    # fp, and carrying the raw text there would make the exchange
    # payload ~corpus-sized instead of ~60 bytes/row (measured: the
    # only super-linear-looking term in the 10x scale run was this
    # shuffle's write volume)
    gated = (
        docs.select(
            "doc_id",
            "text",
            quality_score("text").alias("quality"),
            F.sort_array(F.split(F.lower("text"), " ")).alias("_ts"),
        )
        .withColumn(
            "top_word_frac", max_sorted_run("_ts") / F.size("_ts")
        )
        .drop("_ts")
        .filter(
            (F.col("quality") >= 0.3) & (F.col("top_word_frac") <= 0.12)
        )
        .withColumn("fp", bow_fingerprint("text"))
        .withColumn("n_tokens", F.size(F.split("text", " ")))
        .drop("text")
    )
    # survivor = min doc_id per fingerprint, as a WINDOW over the gated
    # frame: one fp-keyed shuffle total, and the scan-side projection
    # above is evaluated once — the agg + self-join alternative pays
    # two extra exchanges and re-runs the projection subtree per branch
    from pyspark.sql.window import Window

    keep = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        gated.withColumn("keep_id", keep)
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select(
            "doc_id",
            "fp",
            F.round("quality", 6).alias("quality"),
            F.round("top_word_frac", 6).alias("top_word_frac"),
            F.when(
                (F.col("keep_id") * F.lit(2654435761)) % 97 < 87, "train"
            )
            .otherwise("test")
            .alias("split"),
            "n_tokens",
        )
    )
