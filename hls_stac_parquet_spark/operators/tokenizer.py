"""BPE tokenizer training on a corpus — the iterative merge-learning
operator every LLM data pipeline runs before anything else.

Byte-pair encoding (Sennrich et al. 2016, public algorithm): start
from characters, repeatedly merge the most frequent adjacent symbol
pair. The expensive part — word frequencies — is ONE corpus
aggregate; the iterations then run on the word-frequency dim (vocab-
sized, orders of magnitude smaller than the corpus), which is why
BPE training scales: at 100 TB the corpus is scanned once, and each
merge round is a pair-count aggregate over the vocabulary.

The merge application stays JVM-side via a string trick: symbols are
joined with a separator byte and the winning pair is replaced with a
boundary-anchored regex (lookbehind/lookahead pin both symbol
boundaries, so a pair can never match inside a longer symbol) —
left-to-right, non-overlapping, exactly BPE's greedy application
order. No Python touches the per-word loop.

Tie-breaking is total (count DESC, then pair lexicographic ASC) so
the learned merge table is deterministic across engines, partitions,
and runs; tests/test_tokenizer.py pins it against a pure-Python
reference implementation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hls_stac_parquet_spark.tuning import materialize

#: separator for the symbol-string representation; never appears in
#: the corpora (unit separator control byte)
SEP = "\x1f"


def word_frequencies(df: DataFrame) -> DataFrame:
    """(word, freq) — the single corpus-wide pass BPE trains on."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_regex(left: str, right: str) -> str:
    return (
        f"(?<=^|{SEP})"
        + re.escape(left + SEP + right)
        + f"(?={SEP}|$)"
    )


def _repl(merged: str) -> str:
    """Escape Java-regex replacement metacharacters ($, \\) so merged
    symbols from arbitrary corpora substitute literally."""
    return merged.replace("\\", "\\\\").replace("$", "\\$")


def bpe_train(
    words: DataFrame, num_merges: int = 10
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merge rules from a (word, freq) dim.

    Returns [(rank, left, right, pair_freq), ...] in merge order.
    Each round: count adjacent symbol pairs weighted by word freq
    (explode + groupBy over the vocabulary dim — tiny), pick the
    argmax with a total tiebreak, apply the merge to every word via
    a literal separator-string replace. The 1-row argmax collect per
    round is the merge RULE — control-plane-sized by definition (BPE
    is sequential in its rules; that is the algorithm, not a Spark
    limitation).
    """
    # symbols-as-string: "c1 SEP c2 SEP ..." per word
    sym = materialize(
        words.select(F.concat_ws(SEP, F.split("word", "")).alias("syms"), "freq")
    )

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        parts = F.split("syms", SEP)
        pairs = sym.select(
            F.explode(
                F.when(
                    F.size(parts) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(parts) - 1),
                        lambda i: F.struct(
                            F.element_at(parts, i).alias("left"),
                            F.element_at(parts, i + 1).alias("right"),
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, pair_freq = top[0].left, top[0].right, top[0].pair_freq
        merges.append((rank, left, right, int(pair_freq)))
        # left-to-right non-overlapping replace ≡ BPE's greedy merge;
        # lookarounds anchor both symbol boundaries without consuming
        # them, so adjacent runs merge greedily and a pair never
        # matches inside a longer symbol (e.g. 'ar'+'r' vs '...xar')
        sym = materialize(
            sym.select(
                F.regexp_replace(
                    F.col("syms"), _pair_regex(left, right), _repl(left + right)
                ).alias("syms"),
                "freq",
            )
        )
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a learned merge table to a corpus: per word, replay the
    merges in rank order (same separator-string trick, chained
    replaces — one codegen'd projection, zero shuffle) and emit the
    segmented symbol array. ``id_cols`` carries document keys through
    for per-document token accounting."""
    word = F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    out = df.select("*", word).filter(F.col("word") != "")
    syms = F.concat_ws(SEP, F.split("word", ""))
    for _, left, right, _ in merges:
        syms = F.regexp_replace(syms, _pair_regex(left, right), _repl(left + right))
    return out.select(
        *(id_cols or []), "word", F.split(syms, SEP).alias("pieces")
    )
