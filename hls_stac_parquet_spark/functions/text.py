"""Text-analysis column functions for LLM-data pipelines.

All pure built-in expressions (JVM codegen, no Python in the hot
path): tokenization, token counting, language ID heuristic, quality
scoring, fingerprinting. Each has an ANSI-SQL-expressible form used by
the DuckDB oracle (see ``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish word/number/punct splitter (portable across Java regex & RE2)
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: small English stopword list for the n-gram/stopword language heuristic
EN_STOPWORDS = (
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Space tokens (array<string>). Single-space split (not ``\\s+``)
    so the semantics are bit-identical to the oracle's non-regex
    ``string_split`` — the corpora here are single-spaced."""
    return F.split(_col(text), " ")


def token_count(text: Column | str) -> Column:
    """BPE-ish token count via regexp extraction (A14-style regex op)."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(TOKEN_PATTERN), 0))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are English stopwords."""
    toks = tokens(F.lower(_col(text)))
    stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return stop / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = _col(text)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^A-Za-z0-9\s]", ""))
    return punct / F.greatest(F.length(c), F.lit(1))


def language_id(text: Column | str) -> Column:
    """Heuristic language ID: stopword density → 'en' else 'unknown'.

    A real deployment swaps in a fastText/CLD3 pandas UDF; the Spark
    plumbing (expression shape, nullable string out) is identical.
    """
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def quality_score(text: Column | str) -> Column:
    """Composite document quality in [0,1]: length + stopwords - punct.

    Deterministic arithmetic (oracle-checkable); the shape mirrors
    C4/Gopher-style quality filters.
    """
    c = _col(text)
    length_part = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_part
        + F.lit(0.4) * F.least(stopword_ratio(c) * 4, F.lit(1.0))
        - F.lit(0.3) * F.least(punct_ratio(c) * 5, F.lit(1.0)),
        6,
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of normalized text.

    Normalization = lowercase + collapse whitespace; identical logical
    content → identical fingerprint, so exact dedup is a groupBy on
    this column (no full-text shuffle — 32-hex-char keys).
    """
    norm = F.trim(F.regexp_replace(F.lower(_col(text)), r"\s+", " "))
    return F.md5(norm)


def max_sorted_run(sorted_arr: Column | str) -> Column:
    """Length of the longest run of equal adjacent elements in a
    SORTED array — i.e. the multiplicity of the most frequent
    element. Lets per-row mode/repetition stats stay zero-shuffle
    (HOF over the row's own array) instead of paying an explode +
    groupBy. Pass a column the sorted array was let-bound into: an
    inlined sort/split expression re-evaluates per lambda step."""
    return F.aggregate(
        _col(sorted_arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def bow_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct word set (bag-of-words). Word-shuffled copies of a
    document collide where byte-exact fingerprints don't — the
    lightweight tier between exact dedup and MinHash. Same
    32-char-key shuffle economics as doc_fingerprint.

    NULL text fingerprints as the EMPTY document (coalesce before
    split) — declared, not accidental: concat_ws would silently
    NULL→'' on this side anyway while md5(NULL) stays NULL in SQL
    engines, and a dedup key must never fork on that difference."""
    return F.md5(
        F.concat_ws(
            " ",
            F.sort_array(
                F.array_distinct(
                    F.split(F.lower(F.coalesce(_col(text), F.lit(""))), " ")
                )
            ),
        )
    )


def token_hashes(text: Column | str) -> Column:
    """xxhash64 per lowercase token (array<bigint>) — the one pass
    that touches strings; everything downstream is fixed-width."""
    return F.transform(tokens(F.lower(_col(text))), lambda t: F.xxhash64(t))


def shingle_hashes_from(tok_hash_col: Column | str, k: int = 3) -> Column:
    """Word k-shingle *hashes* from a MATERIALIZED token-hash column:
    combine each window of k token hashes with one fixed-width
    xxhash64 call — no shingle-string construction (concat of k
    tokens allocates ~k× the corpus in transient strings; hashing
    longs is ALU-bound instead of string-throughput-bound).

    ``tok_hash_col`` must be a real column (project
    :func:`token_hashes` first), NOT an inline expression: Spark
    inlines repeated non-column subexpressions inside HOF lambdas,
    which would re-hash every token k× per window.

    Documents shorter than k tokens have no k-grams and yield an
    EMPTY array (a padded pseudo-window would both create spurious
    shared shingles across unrelated short docs and crash under ANSI
    mode, where out-of-bounds ``element_at`` throws instead of
    returning NULL). Result masked to 31 bits
    (non-negative, multiply-safe for universal hashing).
    """
    tok_h = _col(tok_hash_col)
    n = F.size(tok_h)
    windows = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(
        n >= k,
        F.transform(
            windows,
            lambda i: F.xxhash64(
                *[F.element_at(tok_h, (i + j).cast("int")) for j in range(k)]
            ).bitwiseAND(F.lit((1 << 31) - 1)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def winnow_fingerprints(tok_hash_col: Column | str) -> Column:
    """Winnowing document fingerprints (Schleimer et al., MOSS): the
    distinct minima of every 4 consecutive 3-gram hashes, sorted.
    Guarantees: any shared substring of length ≥ 6 tokens produces at
    least one shared fingerprint, and the selected set is
    position-independent — the standard rolling-hash local-
    fingerprinting scheme for plagiarism/near-dup detection.

    Pure built-in HOFs over a materialized token-hash column (project
    :func:`token_hashes` first — same inlining caveat as
    :func:`shingle_hashes_from`): k-gram hashes via fixed-width hash
    combining, window minima via ``array_min`` over ``slice``. Zero
    Python, zero shuffle — a per-row map that keeps ~2/5 of the
    k-gram hashes, so the downstream (fingerprint → doc) inverted
    index shuffles a constant fraction of the corpus hash volume.

    The k-gram array is let-bound via ``transform(array(grams), g ->
    ...)`` so it is evaluated ONCE per row; referencing the ``grams``
    expression directly inside the sliding-window lambda would re-hash
    the whole document at every window position (O(n²·k) per doc).
    """
    grams = shingle_hashes_from(tok_hash_col)

    def _select_minima(g: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(g) - 3, F.lit(1))
        )
        # filter(isNotNull) guards the no-k-gram case: with empty
        # grams, starts is forced to [1] and array_min(slice([],1,w))
        # is NULL — without the filter every short doc would share a
        # spurious [NULL] "fingerprint" downstream.
        return F.array_sort(
            F.array_distinct(
                F.filter(
                    F.transform(
                        starts, lambda i: F.array_min(F.slice(g, i, 4))
                    ),
                    lambda x: x.isNotNull(),
                )
            )
        )

    return F.element_at(F.transform(F.array(grams), _select_minima), 1)
