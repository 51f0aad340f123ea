"""Composable DataFrame→DataFrame operators.

Each module is a family the reference motivates (completeness gate,
manifest fan-in, failure split) or the 100-TB training-data extension
demands (dedup, similarity search, text quality, multimodal).
"""

from hls_stac_parquet_spark.operators.asof import asof_join  # noqa: F401
from hls_stac_parquet_spark.operators.completeness import (  # noqa: F401
    expected_days,
)
from hls_stac_parquet_spark.operators.dedup import (  # noqa: F401
    dedup_exact,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from hls_stac_parquet_spark.operators.manifests import (  # noqa: F401
    fan_in_manifests,
    split_failures,
)
from hls_stac_parquet_spark.operators.similarity import (  # noqa: F401
    cosine_pairs_above,
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_candidates,
    pq_encode,
    pq_topk_adc,
    pq_train_codebooks,
)
from hls_stac_parquet_spark.operators.intervals import (  # noqa: F401
    interval_overlap_join,
)
from hls_stac_parquet_spark.operators.tokenizer import (  # noqa: F401
    bpe_segment,
    bpe_train,
    word_frequencies,
)
from hls_stac_parquet_spark.operators.graph import (  # noqa: F401
    connected_components_auto,
    connected_components_star,
    pagerank,
    triangle_count,
)
from hls_stac_parquet_spark.operators.diff import snapshot_diff  # noqa: F401
