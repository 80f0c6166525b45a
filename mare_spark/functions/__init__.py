"""Column-level function library — the reusable expression builders behind
the operator modules, exposed as a flat namespace.

Each function here has one implementation, the one the operators run. Some
are JVM expression code (tokenizing, n-grams, normalization: plain
expressions fuse into codegen stages; higher-order lambdas evaluate
interpreted, which is fine for small arrays and composition). The rest are
Arrow-batched numpy UDFs — the hashed shingles, the sign-bit signatures, the
token stats, and the cosines, which share one kernel whose left-to-right
sums the DuckDB oracles replay bit for bit.
"""

from mare_spark.operators.dedup import hashed_word_shingles, normalize_text
from mare_spark.operators.similarity import (
    cosine_to_query,
    hyperplane_signatures,
    pairwise_cosine,
)
from mare_spark.operators.analysis import word_ngrams
from mare_spark.operators.text import (
    bpe_ish_token_count,
    deterministic_uniform,
    doc_token_stats_udf,
    token_count,
    tokens,
)

__all__ = [
    # JVM expressions
    "normalize_text",
    "token_count",
    "tokens",
    "bpe_ish_token_count",
    "deterministic_uniform",
    "word_ngrams",
    # Arrow-batched UDFs
    "hashed_word_shingles",
    "cosine_to_query",
    "pairwise_cosine",
    "hyperplane_signatures",
    "doc_token_stats_udf",
]
