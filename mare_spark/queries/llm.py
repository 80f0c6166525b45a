"""LLM-data-pipeline queries (SURVEY §2B LLM family): dedup tiers,
similarity search, text analysis, multimodal plumbing — over the
``documents`` / ``embeddings`` fixtures, oracle-checked where the operator
is SQL-expressible (MinHash/SimHash/ANN are checked differentially in
pytest instead: their oracle is the exact-tier operator)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.cache import cache_scope
from mare_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mare_spark.operators.multimodal import attach_binary_payload, decode_features
from mare_spark.operators.similarity import ann_lsh_topk, brute_force_topk, ivf_topk
from mare_spark.operators.text import language_id, quality_stats, text_fingerprint
from mare_spark.registry import register
from mare_spark.tables import read_table

# Shared normalized-text SQL fragment (must mirror operators.dedup.normalize_text)
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WORDS = f"string_split({_NORM}, ' ')"
# 3-gram shingles over words, 1-based inclusive slices (duckdb list semantics)
_SHINGLES3 = (
    f"list_distinct(list_transform(range(1, greatest(len({_WORDS}) - 2, 0) + 1), "
    f"i -> array_to_string(({_WORDS})[i:i+2], ' ')))"
)


def _sql_cosine(av: str, bv: str) -> str:
    """ONE definition of the oracle-side cosine, with the contract of the
    engine's cosine kernel (``similarity._cosine_kernel``): NULL when a
    vector is NULL, holds a NULL element (``list_sum`` would skip it) or
    the lengths differ; 0.0 for empty vectors or a zero denominator (raw
    0/0 is NaN in numpy, and ``list_sum([])`` is NULL in DuckDB);
    otherwise dot/(sqrt·sqrt) with left-to-right sums, snapped to 6
    places."""
    dot = (f"list_sum(list_transform(range(1, len({av}) + 1),"
           f" i -> {av}[i] * {bv}[i]))")
    den = (f"(sqrt(list_sum(list_transform({av}, x -> x*x)))"
           f" * sqrt(list_sum(list_transform({bv}, x -> x*x))))")
    return (f"(CASE WHEN {av} IS NULL OR {bv} IS NULL"
            f" OR list_count({av}) < len({av})"
            f" OR list_count({bv}) < len({bv}) OR len({av}) <> len({bv})"
            f" THEN NULL WHEN len({av}) = 0 OR {den} = 0 THEN 0.0 ELSE "
            f"floor({dot} / {den} * 1000000.0 + 0.5) / 1000000.0 END)")


def _sql_list(words) -> str:
    return "[" + ",".join(f"'{w}'" for w in words) + "]"


# oracle literals GENERATED from the operator's own constants (r8 review:
# hand-inlined twins fork silently when text.py's lists change)
from mare_spark.operators.text import LANG_MARKERS, STOPWORDS  # noqa: E402

_SQL_STOPLIST = _sql_list(STOPWORDS)
_SQL_MARKERS = {lang: _sql_list(ws) for lang, ws in LANG_MARKERS.items()}


_J_SNAP = ("(floor(common / (na + nb - common) * 1000000.0 + 0.5)\n"
           "            / 1000000.0)")


def _jaccard_pairs_ctes(src: str = "documents", having: bool = True) -> str:
    """docs/inv/pairs CTE chain for exact word-3-gram Jaccard near-dup
    pairs over ``src`` — ONE definition for the four oracles that used to
    carry hand-synced copies (r8 review): a threshold or shingle change
    now lands everywhere or nowhere. ``having=True`` filters at >= 0.8
    inside the chain (the cluster/pipeline form); ``having=False`` leaves
    pairs unfiltered for call sites that SELECT the jaccard value."""
    hav = (f"\n      HAVING {_J_SNAP} >= 0.8" if having else "")
    return f"""docs AS (
      SELECT doc_id, {_SHINGLES3} AS sh FROM {src}
    ),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM docs),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
             count(*) AS common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4{hav}
    )"""


def _jaccard_edges_ctes(src: str = "documents") -> str:
    """The pair chain + symmetric edge closure (feeds DUCK_EXACT_CC)."""
    return f"""{_jaccard_pairs_ctes(src)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    )"""

# EXACT connected components for the cluster/pipeline oracles: a recursive
# reachability fixpoint over a bound ``edges(src, dst)`` CTE (bidirectional),
# yielding ``labels(node, label)`` with label = component minimum. The
# engine's dedup_clusters iterates min-label propagation to convergence, so
# the oracle must too — a FIXED 2-round propagation (the previous form)
# silently diverges on any diameter-3 component a regenerated fixture may
# contain. Components are tiny (near-dup pairs/triples), so the recursion
# is bounded and cheap. Oracles embedding this must open WITH RECURSIVE.
DUCK_EXACT_CC = """
    reach(node, m) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.m FROM edges e JOIN reach r ON r.node = e.dst
    ),
    labels AS (SELECT node, min(m) AS label FROM reach GROUP BY node)"""


def duck_rolling_fp(keep: int, window: int = 8) -> str:
    """DuckDB replay of ``operators.text.rolling_hash_fingerprint``:
    HUGEINT Horner over a ``window``-char slide with GENERATED raw
    257^(window-1)..257^0 constants (a hand-typed 20+-digit constant
    breaking hash parity silently is exactly the failure mode this
    avoids), one mod 2^31-1 (congruent to the UDF's per-step mod),
    distinct-sorted, keep the ``keep`` smallest. Sum bound: window 12 ->
    ~1e30, well inside HUGEINT. Expects a bound CTE with columns ``n``
    (char count) and ``cs`` (per-character HUGEINT code list); ASCII-gate
    the corpus (``length(text) = octet_length(CAST(text AS BLOB))``) so
    SQL codepoints equal the UDF's UTF-8 bytes."""
    terms = "\n                       + ".join(
        f"cs[CAST(i AS INT)+{j}] * {257 ** (window - 1 - j)}"
        if 257 ** (window - 1 - j) != 1
        else f"cs[CAST(i AS INT)+{j}]"
        for j in range(window)
    )
    return f"""
        CASE
          WHEN n = 0 THEN [CAST(0 AS BIGINT)]
          WHEN n < {window} THEN [CAST(list_sum(cs) AS BIGINT)]
          ELSE list_transform(
                 list_sort(list_distinct(list_transform(range(1, n - {window - 2}),
                   i -> ({terms}) % 2147483647
                 )))[1:{keep}],
                 x -> CAST(x AS BIGINT))
        END"""


@register(
    "dedup_exact",
    category="llm",
    bench=True,
    oracle=f"""
    SELECT min(doc_id) AS doc_id, md5({_NORM}) AS digest, count(*) AS n_copies
    FROM documents
    WHERE text IS NOT NULL  -- the operator's NULL contract: no phantom
                            -- md5(NULL) duplicate group
    GROUP BY md5({_NORM})
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text digest; min-id representative."""
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    category="llm",
    bench=True,
    oracle=f"""
    WITH {_jaccard_pairs_ctes(having=False)}
    SELECT doc_a, doc_b,
           {_J_SNAP} AS jaccard
    FROM pairs
    WHERE {_J_SNAP} >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (inverted-index self-join,
    never a cross join)."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8,
        # cap stated explicitly (registry doctrine: caps are never
        # silent library defaults). Candidate recall loses only
        # pairs whose EVERY shared shingle is in >1000 docs; at the
        # sf0.01 correctness gate N=500 < cap, so it provably
        # cannot bind there.
        max_shingle_freq=1000,
    )


@register("dedup_minhash_lsh", category="llm", bench=True, oracle=None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (banded candidate generation + exact
    Jaccard verify). Differential oracle in tests: must recover the
    exact-tier pairs at the same threshold (LSH recall check).

    ``bucket_cap`` is stated HERE (caps are opt-in, never silent library
    defaults): at corpus scale a mass-duplicate band bucket emits k²/2
    candidates that no AQE split can shrink, so this scale-facing entry
    accepts dropping >10k-doc buckets — such groups are verbatim
    duplication owned by the exact-dedup tier that runs first."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, shingle_n=3,
        threshold=0.8, bucket_cap=10_000,
    )


@register("dedup_simhash", category="llm", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (chunk banding + Hamming verify)."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "text", "doc_id", max_hamming=7, shingle_n=2)


@register("dedup_simhash_capped", category="llm", oracle=None)
def dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under the CAPPED contract — the corpus-scale
    call shape, with ``bucket_cap`` stated at the call site (caps are
    opt-in, never silent library defaults): a (chunk_idx, chunk) bucket of
    k docs emits k²/2 candidates that no AQE split can shrink, so scale
    callers accept dropping >10k-doc buckets — pairs in a dropped bucket
    still qualify through any other agreeing chunk, and a pair agreeing
    ONLY in saturated buckets is verbatim duplication owned by the
    exact-dedup tier that runs first. At the fixture SFs no bucket nears
    the cap, so this returns the identical pair set as the uncapped
    ``dedup_simhash`` (pinned in tests/test_llm_ops.py); the drop/recall
    behavior of the cap itself is pinned there too."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, "text", "doc_id", max_hamming=7, shingle_n=2,
        bucket_cap=10_000,
    )


@register(
    "dedup_embedding_cosine",
    category="llm",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_sql_cosine("a.v", "b.v")} AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_sql_cosine("a.v", "b.v")} >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.4 (exact tier).

    ``exact_max_rows=None`` pins the EXACT tier: the default guarded
    routing would (a) run a probe-count job on every query construction
    and (b) silently reroute to <1.0-recall LSH above 100k rows while
    the registered oracle stays exact all-pairs — a guaranteed hash
    failure at a bigger SF. The scale tier has its own registered row
    (``dedup_embedding_lsh``)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, "embedding", "vec_id", threshold=0.4, exact_max_rows=None
    )


@register(
    "dedup_clusters_resolve",
    category="llm",
    oracle=f"""
    WITH RECURSIVE {_jaccard_edges_ctes()},
    {DUCK_EXACT_CC}
    SELECT node AS member, label AS cluster FROM labels
    """,
)
def dedup_clusters_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters (connected components by
    min-label propagation); cluster id = canonical representative to keep."""
    from mare_spark.operators.dedup import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    # dedup_clusters materializes the edges (checkpoint/collect), so the
    # pair-generation caches drop when the scope exits
    with cache_scope():
        pairs = ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8,
            # cap stated explicitly (registry doctrine: caps are never
            # silent library defaults). Candidate recall loses only
            # pairs whose EVERY shared shingle is in >1000 docs; at the
            # sf0.01 correctness gate N=500 < cap, so it provably
            # cannot bind there.
            max_shingle_freq=1000,
        )
        return dedup_clusters(pairs)


@register("dedup_embedding_lsh", category="llm", oracle=None)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale tier of embedding near-dup: banded hyperplane LSH candidates +
    exact-cosine verify (differential oracle in tests: subset of the exact
    tier with ≥0.7 recall)."""
    from mare_spark.operators.similarity import embedding_lsh_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    # dim=64 is a fixed property of the fixture (the oracles hardcode
    # range(1, 65) likewise) — passing it as a parameter keeps query
    # CONSTRUCTION job-free; the previous limit(1).collect() probe ran a
    # Spark job every time the plan-audit sweep merely built this query
    return embedding_lsh_pairs(
        emb, "embedding", "vec_id", threshold=0.4, bands=16, bits_per_band=4,
        dim=64,
    )


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    """The vec_id=0 embedding as the similarity-search probe (one-row
    driver fetch — the query vector is a scalar input, not data)."""
    emb = read_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).head()
    if row is None:
        # a clear per-query error instead of 'NoneType is not
        # subscriptable' aborting the whole registry sweep
        raise ValueError(
            f"no vec_id=0 row in {sf_dir}/embeddings.parquet — the "
            "similarity rows probe with that fixture vector"
        )
    return [float(x) for x in row["embedding"]]


_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       {_sql_cosine("v", "qv")} AS cosine
FROM e, q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register("sim_topk_cosine", category="llm", bench=True, oracle=_TOPK_ORACLE)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine against the vec_id=0 probe — brute-force scan +
    TakeOrderedAndProject (per-partition heap, no global sort)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _query_vector(spark, sf_dir), k=10)


@register(
    "sim_filtered_topk",
    category="llm",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id FROM documents
      WHERE lang = 'en'
        AND len({_WORDS}) >= 30
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings JOIN kept ON kept.doc_id = embeddings.vec_id
    ),
    q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           {_sql_cosine("v", "qv")} AS cosine
    FROM e, q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition: metadata-gate the corpus (lang = 'en',
    ≥30 tokens) BEFORE similarity search — the canonical retrieval pattern
    of a cleaning pipeline. The gate is a scan-side filter on the cheap
    table, delivered to the vector table via a semi-join on the shared id,
    so the expensive cosine runs only on surviving rows."""
    from mare_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    kept = docs.filter(
        (F.col("lang") == "en") & (F.size(tokens(F.col("text"))) >= 30)
    ).select(F.col("doc_id").alias("vec_id"))
    gated = emb.join(kept, "vec_id", "left_semi")
    return brute_force_topk(gated, _query_vector(spark, sf_dir), k=10)


@register("sim_ann_lsh", category="llm", oracle=None)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via hyperplane LSH (candidates = signatures within
    Hamming radius of the probe's signature). Recall vs the exact tier is
    asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(
        emb, _query_vector(spark, sf_dir), k=10, num_planes=12, hamming_radius=4
    )


@register("sim_ann_ivf", category="llm", oracle=None)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via an inverted-file index (sample-trained
    spherical k-means cells, nprobe-cell probe). Recall vs the exact tier
    and the nprobe=nlist ⇒ brute-force identity are asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, _query_vector(spark, sf_dir), k=10, nlist=16, nprobe=6
    )


@register(
    "text_quality_stats",
    category="llm",
    bench=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_WORDS} AS words,
             length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ),
    s AS (
      SELECT doc_id, words, n_chars, n_punct,
             len(words) AS n_tokens,
             len(list_filter(words, w -> list_contains(
               {_SQL_STOPLIST}, w))) AS stop_hits,
             len(list_intersect(words, {_SQL_STOPLIST})) AS n_marker,
             length(replace(array_to_string(words, ' '), ' ', '')) AS alpha_chars
      FROM t
    )
    SELECT doc_id,
           n_tokens,
           n_chars,
           (floor(alpha_chars / greatest(n_tokens, 1)
                  * 1000000.0 + 0.5) / 1000000.0)         AS avg_token_len,
           (floor(n_punct / greatest(n_chars, 1)
                  * 1000000.0 + 0.5) / 1000000.0)         AS punct_ratio,
           (floor(stop_hits / greatest(n_tokens, 1)
                  * 1000000.0 + 0.5) / 1000000.0)         AS stopword_ratio,
           n_marker                                       AS n_marker_words,
           CASE WHEN n_tokens IS NULL THEN NULL ELSE
             (floor(greatest(least(
               0.5 * least(n_tokens / 100.0, 1.0)
               + 0.5 * least((stop_hits / greatest(n_tokens, 1)) * 5, 1.0)
               - n_punct / greatest(n_chars, 1), 1.0), 0.0)
               * 1000000.0 + 0.5) / 1000000.0) END AS quality
    FROM s
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (token/char counts, punct + stopword
    ratios, composite score) — all scan-side expression code."""
    docs = read_table(spark, sf_dir, "documents")
    return quality_stats(docs, "text", "doc_id")


@register(
    "text_lang_id",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_WORDS} AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        len(list_intersect(words, {_SQL_MARKERS["en"]}))    AS score_en,
        len(list_intersect(words, {_SQL_MARKERS["es"]}))     AS score_es,
        len(list_intersect(words, {_SQL_MARKERS["de"]})) AS score_de,
        len(list_intersect(words, {_SQL_MARKERS["fr"]}))  AS score_fr
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN score_en IS NULL THEN NULL
             WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
             WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
             WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
             WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
             ELSE 'fr'
           END AS lang_pred,
           score_de, score_en, score_es, score_fr
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (deterministic scan-side heuristic)."""
    docs = read_table(spark, sf_dir, "documents")
    return language_id(docs, "text", "doc_id")


@register(
    "text_fingerprint",
    category="llm",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
      FROM documents
    )
    SELECT doc_id,
           md5(norm) AS fp_md5,
           CASE WHEN norm IS NULL THEN NULL ELSE
             md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' '))
           END AS fp_sorted
    FROM t
    """,
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + bag-of-words fingerprints (md5)."""
    docs = read_table(spark, sf_dir, "documents")
    return text_fingerprint(docs, "text", "doc_id")


@register(
    "text_token_stats",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({_WORDS})
               AS n_words,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS n_bpe_ish_tokens
      FROM documents
    )
    SELECT doc_id, n_words, n_bpe_ish_tokens,
           (floor(n_bpe_ish_tokens / greatest(n_words, 1)
                  * 1000000.0 + 0.5) / 1000000.0) AS fertility
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document (tokenizer-cost
    estimator; fertility = pieces per word)."""
    from mare_spark.operators.text import token_stats

    docs = read_table(spark, sf_dir, "documents")
    return token_stats(docs, "text", "doc_id")


#: shared CTE prefix binding ``n``/``cs`` for :func:`duck_rolling_fp`
_FP_CTES = r"""
    WITH d AS (
      SELECT doc_id, lower(text) AS s
      FROM documents
      WHERE length(text) = octet_length(CAST(text AS BLOB))
    ),
    c AS (
      SELECT doc_id, length(s) AS n,
             list_transform(range(1, length(s)+1),
                            i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS HUGEINT))
               AS cs
      FROM d
    )"""


@register(
    "text_rolling_fingerprint",
    category="llm",
    oracle=f"""
    {_FP_CTES},
    h AS (SELECT doc_id, {duck_rolling_fp(4)} AS fp FROM c)
    SELECT doc_id, array_to_string(fp, ',') AS fingerprint FROM h
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints (numpy-windowed pandas UDF).

    The oracle replays the exact polynomial recurrence in DuckDB: HUGEINT
    Horner constants 257^7..257^0 mod 2^31-1 over per-character code lists
    (window 8, keep the 4 smallest distinct). Both sides ASCII-gate the
    corpus identically — `length == octet_length` (the same pattern as the
    multimodal frame oracle, queries/llm2.py) — so SQL codepoints equal the
    UDF's UTF-8 bytes; on the current fixtures the gate drops zero rows.
    The operator returns ``array<bigint>`` for composition; the registered
    query serializes it to one comma-joined string so the result holds only
    scalar columns (driver canonicalizer contract)."""
    from mare_spark.operators.text import rolling_hash_fingerprint

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") == F.octet_length("text")
    )
    fp = rolling_hash_fingerprint(docs, "text", "doc_id")
    return fp.select(
        "doc_id", F.concat_ws(",", F.col("fingerprint")).alias("fingerprint")
    )


@register(
    "pipeline_clean_corpus",
    category="llm",
    bench=True,
    oracle=f"""
    WITH RECURSIVE {_jaccard_edges_ctes()},
    {DUCK_EXACT_CC},
    q AS (
      SELECT doc_id,
             len({_WORDS}) AS n_tokens
      FROM documents
    )
    SELECT d.doc_id, q.n_tokens
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    LEFT JOIN labels ON labels.node = d.doc_id
    WHERE q.n_tokens >= 30
      AND (labels.node IS NULL OR labels.label = d.doc_id)
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the canonical training-data cleaning pass:
    (1) length gate (≥30 tokens), (2) near-dup detection (exact 3-gram
    Jaccard ≥0.8), (3) cluster resolution keeping the min-id representative.
    Output: the KEPT documents. Every stage is a registered operator. The
    gate/pair/keep stages are declarative; cluster resolution is the one
    materialization point (dedup_clusters checkpoints the edge set and,
    in the common small-edge-set case, resolves by bounded driver
    union-find — see its tier docs), after which the keep-filter plan is
    again end-to-end Catalyst."""
    from mare_spark.operators.dedup import dedup_clusters
    from mare_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    # dedup_clusters eagerly checkpoints its labels, so the pair-generation
    # intermediates (shingle base + candidate caches) drop when the scope
    # exits
    with cache_scope():
        pairs = ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8,
            # cap stated explicitly (registry doctrine: caps are never
            # silent library defaults). Candidate recall loses only
            # pairs whose EVERY shared shingle is in >1000 docs; at the
            # sf0.01 correctness gate N=500 < cap, so it provably
            # cannot bind there.
            max_shingle_freq=1000,
        )
        clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("member") != F.col("cluster")).select(
        F.col("member").alias("doc_id")
    )
    return (
        docs.withColumn("n_tokens", F.size(tokens(F.col("text"))))
        .filter(F.col("n_tokens") >= 30)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )


@register(
    "pipeline_clean_corpus_v2",
    category="llm",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text, lower(text) AS s
      FROM documents
      WHERE length(text) = octet_length(CAST(text AS BLOB))
    ),
    {_jaccard_edges_ctes('base')},
    {DUCK_EXACT_CC},
    c AS (
      SELECT doc_id, length(s) AS n,
             list_transform(range(1, length(s)+1),
                            i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS HUGEINT))
               AS cs
      FROM base
    ),
    fp AS (
      SELECT doc_id, {duck_rolling_fp(8, window=12)} AS picks
      FROM c
    ),
    finv AS (
      SELECT doc_id, unnest(picks) AS fpv FROM fp
    ),
    fkeep AS (
      SELECT fpv FROM finv GROUP BY fpv HAVING count(*) <= 1000
    ),
    finv2 AS (SELECT i.doc_id, i.fpv FROM finv i JOIN fkeep USING (fpv)),
    sub_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM finv2 a JOIN finv2 b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    q AS (
      SELECT doc_id, len({_WORDS}) AS n_tokens FROM base
    )
    SELECT d.doc_id, q.n_tokens
    FROM base d
    JOIN q ON q.doc_id = d.doc_id
    LEFT JOIN labels ON labels.node = d.doc_id
    WHERE q.n_tokens >= 30
      AND (labels.node IS NULL OR labels.label = d.doc_id)
      AND d.doc_id NOT IN (SELECT doc_b FROM sub_pairs)
    """,
)
def pipeline_clean_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition v2 — v1's cleaning pass with the substring-
    overlap stage wired in: (0) charset gate (ASCII; keeps SQL codepoints
    equal to UDF bytes — drops zero fixture rows), (1) length gate (>=30
    tokens), (2) word-level near-dup clusters (3-gram Jaccard >= 0.8, CC
    min-id representative), (3) verbatim-run prune: winnowing fingerprint
    candidates (window 12, keep 8, >= 2 shared picks —
    :func:`substring_overlap_candidates`) drop the higher-id doc of each
    pair. All drop sets derive from the gated base corpus, so stages
    compose order-independently; the whole plan stays declarative. The
    oracle replays every stage in DuckDB, including the rolling hash
    (HUGEINT Horner, mod 2^31-1)."""
    from mare_spark.operators.dedup import (
        dedup_clusters,
        substring_overlap_candidates,
    )
    from mare_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") == F.octet_length("text")
    )
    with cache_scope():
        pairs = ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8,
            # cap stated explicitly (registry doctrine: caps are never
            # silent library defaults). Candidate recall loses only
            # pairs whose EVERY shared shingle is in >1000 docs; at the
            # sf0.01 correctness gate N=500 < cap, so it provably
            # cannot bind there.
            max_shingle_freq=1000,
        )
        clusters = dedup_clusters(pairs)
    drop_dup = clusters.filter(F.col("member") != F.col("cluster")).select(
        F.col("member").alias("doc_id")
    )
    cand = substring_overlap_candidates(
        docs, "text", "doc_id", window=12, keep=8, min_shared=2,
        # cap stated explicitly (registry doctrine: never a silent
        # library default — the oracle hardcodes the same 1000)
        max_fp_freq=1000,
    )
    drop_sub = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.withColumn("n_tokens", F.size(tokens(F.col("text"))))
        .filter(F.col("n_tokens") >= 30)
        .join(drop_dup, "doc_id", "left_anti")
        .join(drop_sub, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )


@register("pipeline_clean_corpus_semantic", category="llm", oracle=None)
def pipeline_clean_corpus_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v2 + the semantic stage: SemDeDup-style IVF-blocked cosine
    pairs (>= 0.4) over the embeddings table additionally drop the
    higher-id doc of each semantic pair, for documents that HAVE an
    embedding (vec_id keys a document prefix; at sf0.1 only 2000 of 5000
    docs carry vectors, so the stage is a partial prune by design).
    Rows-only driver check: centroid training is iterative (k-means), not
    SQL-expressible; the non-semantic stages are hash-checked via
    ``pipeline_clean_corpus_v2`` and the semantic pair set via pytest
    (subset-of-exact + recall)."""
    from mare_spark.operators.similarity import semantic_dedup_pairs

    base = pipeline_clean_corpus_v2(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    sem = semantic_dedup_pairs(
        emb, "embedding", "vec_id", nlist=16, threshold=0.4, nprobe_assign=3
    )
    drop_sem = sem.select(F.col("id_b").alias("doc_id")).distinct()
    return base.join(drop_sem, "doc_id", "left_anti")


@register(
    "sample_stratified_by_lang",
    category="llm",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, lang FROM u
    WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                        WHEN 'zh' THEN 0.1 ELSE 0.0 END
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (training-data mixing):
    per-language keep rates decided by a pure md5-based function of doc_id —
    reproducible across runs and engines (hence oracle-checkable), scan-side
    (no shuffle, no RNG state)."""
    from mare_spark.operators.text import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.25, "zh": 0.1}, "doc_id"
    ).select("doc_id", "lang")


# The fake decoder is md5(payload) → 8 little-endian uint16s / 65536, so it
# IS SQL-expressible: parse the md5 hex pairwise. Projecting each feature
# back to its integer numerator (f * 65536 is exact in double) makes the
# comparison integer-exact — no float-rounding hazard — and keeps the result
# scalar-only for the harness canonicalizer.
_MM_FEATS = ", ".join(
    "CAST(('0x' || substring(h, {lo}, 2)) AS BIGINT)"
    " + 256 * CAST(('0x' || substring(h, {hi}, 2)) AS BIGINT) AS f{i}".format(
        lo=4 * i + 1, hi=4 * i + 3, i=i
    )
    for i in range(8)
)


@register(
    "multimodal_decode",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS h
      FROM documents
    )
    SELECT doc_id, n_bytes, {_MM_FEATS} FROM t
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata struct + Arrow-batched feature decode
    (deterministic fake decoder; real codecs are stubbed — see
    operators.multimodal). The registered query projects the feature vector
    to 8 integer columns (``f_i * 65536``, exact) so the output is
    scalar-only and the md5-based decode is oracle-checkable in SQL."""
    docs = read_table(spark, sf_dir, "documents")
    mm = attach_binary_payload(docs, "text", "doc_id")
    feats = decode_features(mm, "payload", "doc_id", decoder="fake")
    return feats.select(
        "doc_id",
        "n_bytes",
        *[
            F.round(F.element_at("features", i + 1) * 65536).cast("long").alias(f"f{i}")
            for i in range(8)
        ],
    )
