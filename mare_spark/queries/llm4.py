"""Round-3 corpus-cleaning additions (LLM family, continued):
chunk-level boilerplate removal (the CCNet / RefinedWeb line-dedup analog,
exact + count-min sketch tiers), model-based quality scoring (a
hashed-linear fastText stand-in), deterministic samplers (exact fixed-k
per group, exact token-budget subsets), per-document n-gram novelty,
edit-distance near-dup verification, RAG-prep sliding chunking, corpus
snapshot diffing, and deterministic/refined embedding clustering — the
passes that complete the cleaning-and-recipe story between rule gates,
document-level near-dup, and mixture construction.

All carry full DuckDB oracles except the probabilistic/iterative tiers
(CMS scrub, refined k-means — rows-only with differential tests, matching
the MinHash/SimHash convention). Tokenization mirrors queries/llm2
(`_NORM`/`_WORDS`); hashing uses the established md5→int parity pattern
(Spark ``conv(substring(md5(x),1,8),16,10)`` ≡ DuckDB
``CAST('0x'||substring(md5(x),1,8) AS BIGINT)``); float outputs follow the
hash-stable conventions of queries/_decimal.py (single-division doubles on
a 6dp fround grid).

No reference counterpart: MaRe (see /root/reference, README.md:21-25) has
no text analytics; this extends the engine's declared LLM-pipeline family
(SURVEY §2B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.numeric import sql_fround
from mare_spark.operators.corpus import (
    group_fixed_k_sample,
    hashed_quality_classifier,
    repeated_chunk_scrub,
    token_budget_sample,
)
from mare_spark.operators.analysis import ngram_novelty
from mare_spark.queries.llm import DUCK_EXACT_CC
from mare_spark.queries.llm2 import _duck_ngrams, _NORM, _STOPLIST, _TOP_WORD, _WORDS
from mare_spark.registry import register
from mare_spark.tables import read_table

_CHUNK_WORDS = 8
_MAX_FREQ = 2

# weight(bucket) for the hashed classifier, as SQL — GENERATED from the
# operator's own constants/formula (r8 review: a hand-copied twin here
# could silently fork from the derivation in operators.corpus)
from mare_spark.operators.corpus import sql_classifier_weight

_BUCKETS = 4096
_WSCALE = 1000
_SQL_WEIGHT = sql_classifier_weight(
    "t", buckets=_BUCKETS, weight_scale=_WSCALE
)


@register(
    "text_chunk_dedup",
    category="llm",
    bench=True,
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    c AS (
      SELECT doc_id, lang, CAST(i AS INT) AS chunk_idx,
             array_to_string(
               w[(i*{_CHUNK_WORDS}+1):((i+1)*{_CHUNK_WORDS})], ' ') AS chunk
      FROM w,
           unnest(range(CAST(ceil(len(w) / {_CHUNK_WORDS}.0) AS BIGINT)))
             AS t(i)
    ),
    f AS (SELECT md5(chunk) AS h, count(*) AS freq FROM c GROUP BY 1)
    SELECT doc_id, lang,
           coalesce(
             string_agg(chunk, ' ' ORDER BY chunk_idx)
               FILTER (freq <= {_MAX_FREQ}), '') AS clean_text,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN freq > {_MAX_FREQ} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chunks_removed
    FROM c JOIN f ON md5(c.chunk) = f.h
    GROUP BY doc_id, lang
    """,
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate removal over the documents table: drop
    every non-overlapping 8-word chunk that occurs more than twice
    corpus-wide, reassemble survivors in order. The chunk analog of
    CCNet/RefinedWeb line-wise dedup — catches shared banners two
    documents embed without being near-duplicates of each other."""
    docs = read_table(spark, sf_dir, "documents")
    return repeated_chunk_scrub(
        docs, "text", "doc_id",
        chunk_words=_CHUNK_WORDS, max_freq=_MAX_FREQ, keep_cols=("lang",),
    )


@register(
    "text_quality_classifier",
    category="llm",
    bench=True,
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    s AS (
      SELECT doc_id, lang, len(w) AS n_tokens,
             CAST(list_sum(list_transform(w, t -> {_SQL_WEIGHT}))
                  AS BIGINT) AS score_int
      FROM w
    )
    SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
           {sql_fround(f"CAST(score_int AS DOUBLE) / ({_WSCALE}.0 * n_tokens)", 6)}
             AS quality_score,
           CASE WHEN {sql_fround(f"CAST(score_int AS DOUBLE) / ({_WSCALE}.0 * n_tokens)", 6)}
                     >= 0.0 THEN 1
                WHEN score_int IS NOT NULL THEN 0 END AS keep_flag
    FROM s
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality score per document (fastText
    stand-in): md5-bucketed tokens, deterministic integer weights, mean
    weight as one grid-snapped double, keep gate at 0. Scan-side only —
    zero shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    return hashed_quality_classifier(
        docs, "text", "doc_id", keep_cols=("lang",),
        buckets=_BUCKETS, weight_scale=_WSCALE, threshold=0.0,
    )


_SAMPLE_K = 20
_BUDGET = 2000


@register(
    "sample_fixed_k_per_lang",
    category="llm",
    oracle=f"""
    SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR))) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {_SAMPLE_K}
    """,
)
def sample_fixed_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(20, group size) documents per language, membership a
    pure md5 function of doc_id — the deterministic eval-subset /
    per-language-probe sampler (rate-based sampling can't promise exact
    sizes; df.sample can't promise reproducibility)."""
    docs = read_table(spark, sf_dir, "documents")
    return group_fixed_k_sample(
        docs, "doc_id", group_col="lang", k=_SAMPLE_K
    )


@register(
    "sample_token_budget",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_WORDS}) AS INT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY ord
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {_BUDGET}
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget subset: walk each language's documents in md5 order,
    keep every document that starts before a 2000-token budget is
    exhausted — the "give me an N-token mix at these proportions"
    primitive behind pretraining data recipes. Overshoots by at most one
    document per group (documents are never split)."""
    docs = read_table(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, "text", "doc_id", group_col="lang", budget_tokens=_BUDGET
    )


_NOVELTY_N = 8


@register(
    "text_ngram_novelty",
    category="llm",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id, lang,
             unnest(list_distinct({_duck_ngrams(_NOVELTY_N)})) AS gram
      FROM w
    ),
    d AS (SELECT md5(gram) AS gh, count(*) AS gram_df FROM g GROUP BY 1),
    p AS (
      SELECT doc_id, lang, count(*) AS n_distinct_ngrams,
             CAST(sum(CASE WHEN gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel_ngrams
      FROM g JOIN d ON md5(g.gram) = d.gh
      GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_distinct_ngrams, n_novel_ngrams,
           {sql_fround("CAST(n_novel_ngrams AS DOUBLE) / n_distinct_ngrams", 6)}
             AS novelty
    FROM p
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document originality: fraction of the doc's distinct 8-grams
    that no other document contains. Low novelty without near-duplicates
    = quilt-of-boilerplate; the ranking signal for how much unique
    information each document adds to the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_novelty(
        docs, "text", "doc_id", n=_NOVELTY_N, keep_cols=("lang",)
    )


@register("text_chunk_dedup_cms", category="llm", oracle=None)
def text_chunk_dedup_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier boilerplate scrub: same semantics as text_chunk_dedup
    with the chunk-frequency question answered by a count-min sketch —
    zero shuffles for frequency (per-partition partials merged on the
    driver, broadcast probe), one for reassembly. Rows-only here like the
    other probabilistic tiers (MinHash/SimHash/LSH); the sketch-vs-exact
    contract (never under, equal when wide) is pinned by
    tests/test_sketches.py."""
    from mare_spark.operators.corpus import repeated_chunk_scrub_cms

    docs = read_table(spark, sf_dir, "documents")
    return repeated_chunk_scrub_cms(
        docs, "text", "doc_id",
        chunk_words=_CHUNK_WORDS, max_freq=_MAX_FREQ, width_bits=18,
        keep_cols=("lang",),
    )


_KMEANS_K = 8


@register(
    "embedding_cluster_assign",
    category="llm",
    oracle=f"""
    WITH c AS (
      -- NULL seed vectors skipped in lockstep with assign_to_centroids'
      -- bounded seed fetch (r8 review)
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_idx,
             embedding AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT {_KMEANS_K})
    ),
    d AS (
      SELECT e.vec_id, c.c_idx,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(c.cvec[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE)
                     - CAST(c.cvec[i] AS DOUBLE)))) AS d2
      -- NULL data vectors excluded: the engine's zip_with fold yields
      -- NULL d2 for them while list_sum SKIPS NULL terms — disjoint
      -- semantics; a row with no vector has no nearest centroid
      FROM embeddings e CROSS JOIN c
      WHERE e.embedding IS NOT NULL
    ),
    r AS (
      SELECT vec_id, c_idx, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_idx)
               AS rn
      FROM d
    )
    SELECT vec_id, CAST(c_idx AS INT) AS cluster_id,
           {sql_fround("d2", 6)} AS dist2
    FROM r WHERE rn = 1
    """,
)
def embedding_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment over the embeddings table with the
    first 8 vectors (by vec_id) as deterministic seed centroids — the
    oracle-checkable single assignment pass that k-means/IVF iterate;
    zero-shuffle scan-side fold, ties broken by centroid index."""
    from mare_spark.operators.similarity import assign_to_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    return assign_to_centroids(emb, "embedding", "vec_id", k=_KMEANS_K)


@register("embedding_kmeans_refined", category="llm", oracle=None)
def embedding_kmeans_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size report after 2 distributed Lloyd iterations from the
    deterministic seed centroids — the iterative tier (k-means is not
    SQL-expressible; rows-only here like the other iterative ops, with
    the SSE-descent invariant pinned in tests/test_scale_ops.py)."""
    import numpy as np

    from mare_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_refine,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # NULL embeddings skipped: list(None) would TypeError the query
    # build on a fixture the assignment itself tolerates (r8 review)
    seed = np.array(
        [
            list(r.embedding)
            for r in emb.filter(F.col("embedding").isNotNull())
            .orderBy("vec_id").head(_KMEANS_K)
        ],
        dtype=np.float64,
    )
    refined = kmeans_refine(emb, "embedding", seed, iters=2)
    return (
        assign_to_centroids(emb, "embedding", "vec_id", centroids=refined)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n_vecs"))
    )


# edit-distance contract constants — interpolated into BOTH the oracle
# text and the builder call so retuning one side cannot silently drift
# the other (r8 review; the module's other queries already follow this)
_ED_PREFIX_WORDS, _ED_MAX_DIST, _ED_BUCKET_CAP = 8, 50, 1000


@register(
    "dedup_edit_distance",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, {_NORM} AS s,
             md5(array_to_string(({_WORDS})[1:{_ED_PREFIX_WORDS}], ' '))
               AS pk
      FROM documents
    ),
    cap AS (SELECT pk FROM t GROUP BY pk
            HAVING count(*) <= {_ED_BUCKET_CAP}),
    c AS (SELECT t.* FROM t JOIN cap USING (pk))
    SELECT a.id AS doc_a, b.id AS doc_b,
           levenshtein(a.s, b.s) AS edit_dist
    FROM c a JOIN c b ON a.pk = b.pk AND a.id < b.id
    WHERE levenshtein(a.s, b.s) <= {_ED_MAX_DIST}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verify: prefix-8-digest candidate buckets
    (freq-capped) + full Levenshtein ≤ 50 on normalized text — catches
    templated documents whose small ordered edits set-based Jaccard
    under-weights. Both engines implement classic unit-cost edit
    distance, so the pair set and distances hash-match."""
    from mare_spark.operators.dedup import edit_distance_pairs

    docs = read_table(spark, sf_dir, "documents")
    return edit_distance_pairs(
        docs, "text", "doc_id",
        prefix_words=_ED_PREFIX_WORDS, max_dist=_ED_MAX_DIST,
        bucket_cap=_ED_BUCKET_CAP,  # shared constants bind both sides
    )


_RAG_WINDOW, _RAG_STRIDE = 64, 32


@register(
    "text_sliding_chunks",
    category="llm",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
    c AS (
      SELECT doc_id, lang, CAST(i AS INT) AS chunk_idx,
             CAST(i * {_RAG_STRIDE} AS INT) AS start_token,
             array_to_string(
               w[(i*{_RAG_STRIDE}+1):(i*{_RAG_STRIDE}+{_RAG_WINDOW})], ' ')
               AS chunk_text
      FROM w,
           unnest(range(CAST(ceil(len(w) / {_RAG_STRIDE}.0) AS BIGINT)))
             AS t(i)
    )
    SELECT doc_id, lang, chunk_idx, start_token,
           CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_tokens,
           chunk_text
    FROM c
    """,
)
def text_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: 64-token windows every 32 tokens with exact
    tape offsets — scan-side expression code plus one narrow posexplode,
    zero shuffles."""
    from mare_spark.operators.text import sliding_chunks

    docs = read_table(spark, sf_dir, "documents")
    return sliding_chunks(
        docs, "text", "doc_id",
        window=_RAG_WINDOW, stride=_RAG_STRIDE, keep_cols=("lang",),
    )


@register(
    "corpus_snapshot_diff",
    category="llm",
    oracle=f"""
    WITH o AS (
      SELECT doc_id, md5({_NORM}) AS d FROM documents
      WHERE doc_id % 7 != 0
    ),
    n AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0
                      THEN {_NORM} || ' amended'
                      ELSE {_NORM} END) AS d
      FROM documents
      WHERE doc_id % 5 != 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.d IS DISTINCT FROM n.d THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-based diff between two corpus versions (derived here from
    the fixture: the 'old' snapshot drops doc_id%7==0, the 'new' drops
    doc_id%5==0 and amends doc_id%11==0) — added/removed/changed/
    unchanged per id, one full outer join on fixed-width digests."""
    from mare_spark.operators.corpus import snapshot_diff

    docs = read_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" amended"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "text", "doc_id")


@register(
    "corpus_quality_funnel",
    category="llm",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, text, md5({_NORM}) AS d, {_WORDS} AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, d, len(w) AS n, length(text) AS n_chars,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               AS n_punct,
             length(replace({_NORM}, ' ', '')) / greatest(len(w), 1)
               AS avg_wl,
             len(list_filter(w, x -> list_contains({_STOPLIST}, x)))
               AS stop_hits,
             {_TOP_WORD} AS top
      FROM w
    ),
    g AS (
      SELECT source, d,
             CAST((n BETWEEN 25 AND 100000)
                  AND (avg_wl BETWEEN 2.0 AND 12.0)
                  AND (n_punct / greatest(n_chars, 1) <= 0.10)
                  AND (stop_hits >= 2)
                  AND (top / greatest(n, 1) <= 0.25) AS INT) AS kept
      FROM s
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_pass_gates,
           count(DISTINCT d) AS n_unique,
           count(DISTINCT CASE WHEN kept = 1 THEN d END) AS n_clean
    FROM g GROUP BY source
    """,
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cleaning funnel: raw documents → rule-gate survivors →
    unique (exact-dedup) documents → unique survivors — the one-page
    audit of where each source's data dies before training. Composes the
    quality_gates operator with the shared normalized digest; one keyed
    aggregate per source with conditional distinct counts."""
    from mare_spark.operators.corpus import quality_gates
    from mare_spark.operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "d", F.md5(normalize_text(F.col("text")))
    )
    # keep_cols ride the gate scan: ONE corpus scan + one per-source
    # aggregate — the previous shape re-scanned documents and exchanged
    # the whole corpus on doc_id just to reattach (source, digest)
    # (r8 review)
    gated = quality_gates(
        docs, "text", "doc_id", keep_cols=("source", "d")
    )
    return (
        gated
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_pass_gates"),
            F.countDistinct("d").alias("n_unique"),
            F.countDistinct(
                F.when(F.col("kept") == 1, F.col("d"))
            ).alias("n_clean"),
        )
    )


@register(
    "pipeline_clean_corpus_v3",
    category="llm",
    oracle=f"""
    WITH RECURSIVE w0 AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    c0 AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(
               w[(i*{_CHUNK_WORDS}+1):((i+1)*{_CHUNK_WORDS})], ' ') AS chunk
      FROM w0,
           unnest(range(CAST(ceil(len(w) / {_CHUNK_WORDS}.0) AS BIGINT)))
             AS t(i)
    ),
    f0 AS (SELECT md5(chunk) AS h, count(*) AS freq FROM c0 GROUP BY 1),
    scrub AS (
      SELECT doc_id,
             coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                        FILTER (freq <= {_MAX_FREQ}), '') AS text
      FROM c0 JOIN f0 ON md5(c0.chunk) = f0.h
      GROUP BY doc_id
    ),
    docs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len({_WORDS}) - 2, 0) + 1),
               i -> array_to_string(({_WORDS})[i:i+2], ' '))) AS sh
      FROM scrub
    ),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM docs),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
             count(*) AS common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
      HAVING (floor(common / (na + nb - common) * 1000000.0 + 0.5)
              / 1000000.0) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    {DUCK_EXACT_CC},
    q AS (SELECT doc_id, len({_WORDS}) AS n_tokens FROM scrub)
    SELECT d.doc_id, q.n_tokens
    FROM scrub d
    JOIN q ON q.doc_id = d.doc_id
    LEFT JOIN labels ON labels.node = d.doc_id
    WHERE q.n_tokens >= 30
      AND (labels.node IS NULL OR labels.label = d.doc_id)
    """,
)
def pipeline_clean_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone v3 — today's full cleaning recipe in one declarative
    plan: (1) chunk-level boilerplate scrub (corpus-frequent 8-word
    chunks removed), (2) length gate (≥30 surviving tokens), (3) 3-gram
    Jaccard near-dup on the SCRUBBED text (boilerplate no longer inflates
    similarity), (4) cluster resolution keeping the min-id
    representative. Proves the scrub composes with the near-dup stack —
    same stages a production pretraining pass chains, with the whole
    composition replayed in one SQL oracle."""
    from mare_spark.operators.corpus import repeated_chunk_scrub
    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from mare_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    scrub = repeated_chunk_scrub(
        docs, "text", "doc_id",
        chunk_words=_CHUNK_WORDS, max_freq=_MAX_FREQ,
    ).select("doc_id", F.col("clean_text").alias("text"))
    with cache_scope():
        pairs = ngram_jaccard_pairs(
            scrub, "text", "doc_id", n=3, threshold=0.8,
            # cap stated explicitly (registry doctrine) — cannot bind at the
            # sf0.01 gate (N=500 < 1000); see llm.py's jaccard call sites
            max_shingle_freq=1000,
        )
        clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("member") != F.col("cluster")).select(
        F.col("member").alias("doc_id")
    )
    return (
        scrub.withColumn("n_tokens", F.size(tokens(F.col("text"))))
        .filter(F.col("n_tokens") >= 30)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )
