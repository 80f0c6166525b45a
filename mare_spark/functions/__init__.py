"""Column-level function library — the reusable expression builders behind
the operator modules, exposed as a flat namespace.

Two tiers, named explicitly because the difference is measured (see
operators.text module docstring): the expression tier is JVM code
(higher-order lambdas in it evaluate interpreted — fine for composition,
small arrays, and oracle parity), while the ``*_udf``/vectorized tier is
Arrow-batched numpy — the hot-path form the operators actually run.
"""

from mare_spark.operators.dedup import (
    cosine_similarity,
    hashed_word_shingles,
    minhash_signature,
    normalize_text,
    word_shingles,
)
from mare_spark.operators.similarity import (
    cosine_to_query,
    hyperplane_signature,
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
    # expression tier
    "cosine_similarity",
    "minhash_signature",
    "normalize_text",
    "word_shingles",
    "hyperplane_signature",
    "token_count",
    "tokens",
    "bpe_ish_token_count",
    "deterministic_uniform",
    "word_ngrams",
    # vectorized (Arrow-batched) tier
    "hashed_word_shingles",
    "cosine_to_query",
    "pairwise_cosine",
    "hyperplane_signatures",
    "doc_token_stats_udf",
]
