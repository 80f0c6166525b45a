"""Corpus-audit queries (LLM family, round 3): heavy-hitter n-grams,
TF-IDF keywords, length histograms, duplicate-cluster statistics,
cross-source contamination, embedding-norm sanity stats, vocabulary
(Zipf-tail) stats, the language-agreement matrix, and the materialized
temperature-mixed sample — the measurement passes a pretraining pipeline
runs to understand a corpus before (and after) transforming it.

Every query carries a DuckDB oracle. Tokenization mirrors
mare_spark.queries.llm2 (`_NORM`/`_WORDS`) so all LLM-family oracles agree
on the word split; float outputs follow the hash-stable conventions of
queries/_decimal.py (single-division doubles, 6dp grids, decimal sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mare_spark.operators.analysis import (
    cross_source_overlap,
    dedup_cluster_stats,
    embedding_norm_stats,
    length_histogram,
    ngram_heavy_hitters,
    tfidf_keywords,
)
from mare_spark.operators.corpus import sql_temperature_pow
from mare_spark.queries.llm2 import _duck_ngrams, _NORM, _STOPLIST, _WORDS
from mare_spark.registry import register
from mare_spark.tables import read_table


@register(
    "corpus_ngram_heavy_hitters",
    category="llm",
    bench=True,
    oracle=f"""
    WITH w AS (SELECT {_WORDS} AS w FROM documents),
    g AS (SELECT unnest({_duck_ngrams(3)}) AS ngram FROM w)
    SELECT ngram, count(*) AS n_occurrences
    FROM g GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT 25
    """,
)
def corpus_ngram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25 most frequent word trigrams corpus-wide — the
    boilerplate detector (cookie banners, license headers) that motivates
    repetition-aware filtering. Explode -> map-side-combined hash
    aggregate -> TakeOrderedAndProject."""
    docs = read_table(spark, sf_dir, "documents")
    return ngram_heavy_hitters(docs, "text", n=3, k=25)


@register(
    "text_tfidf_keywords",
    category="llm",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    t AS (
      SELECT doc_id,
             unnest(list_filter(w, x -> length(x) >= 3
                    AND NOT list_contains({_STOPLIST}, x))) AS term
      FROM w
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.doc_freq,
             (floor(CAST(tf.tf * n.n_docs AS DOUBLE) / dfq.doc_freq
                    * 1000000.0 + 0.5) / 1000000.0)
               AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, doc_freq, tfidf, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (stopword-pruned terms of >= 3
    chars; score = tf * n_docs / doc_freq as one exact-integer double
    division — no libm log, so the value hash can't drift)."""
    docs = read_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, "text", "doc_id", k=3, min_term_len=3)


@register(
    "corpus_length_histogram",
    category="llm",
    oracle=f"""
    WITH s AS (SELECT lang, len(list_filter({_WORDS}, x -> x <> '')) AS n
               FROM documents),
    b AS (
      SELECT lang,
             CASE WHEN n >= 2048 THEN '2048+' WHEN n >= 512 THEN '0512+'
                  WHEN n >= 128 THEN '0128+' WHEN n >= 32 THEN '0032+'
                  ELSE '0000+' END AS length_bucket,
             n
      FROM s
    )
    SELECT lang, length_bucket, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           (floor(CAST(count(*) AS DOUBLE) /
                  CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE)
                  * 1000000.0 + 0.5) / 1000000.0)
             AS share_of_group
    FROM b GROUP BY lang, length_bucket
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language (integer-threshold buckets —
    engine-exact, unlike a log2/floor bucketing) with each bucket's share
    of its language; the packing-efficiency / curriculum audit."""
    docs = read_table(spark, sf_dir, "documents")
    return length_histogram(docs, "text", "lang")


@register(
    "dedup_cluster_stats",
    category="llm",
    oracle=f"""
    WITH w AS (
      SELECT md5({_NORM}) AS exact_digest,
             md5(array_to_string(({_WORDS})[1:8], ' ')) AS prefix_digest
      -- NULL text excluded in lockstep with the operator/exact_dedup:
      -- md5(NULL) groups into one phantom cluster on both engines
      FROM documents WHERE text IS NOT NULL
    ),
    ec AS (SELECT exact_digest, count(*) AS cluster_size FROM w
           GROUP BY exact_digest),
    pc AS (SELECT prefix_digest, count(*) AS cluster_size FROM w
           GROUP BY prefix_digest),
    eh AS (
      SELECT 'exact' AS key_kind, cluster_size, count(*) AS n_clusters
      FROM ec GROUP BY cluster_size
    ),
    ph AS (
      SELECT 'prefix8' AS key_kind, cluster_size, count(*) AS n_clusters
      FROM pc GROUP BY cluster_size
    ),
    u AS (SELECT * FROM eh UNION ALL SELECT * FROM ph)
    SELECT key_kind, cluster_size, n_clusters,
           cluster_size * n_clusters AS n_docs,
           (cluster_size - 1) * n_clusters AS n_redundant
    FROM u
    """,
)
def dedup_cluster_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram at two granularities (exact
    normalized text; first-8-words prefix) — the dedup-yield audit that
    sizes a cleaning pass without materializing survivors."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup_cluster_stats(docs, "text", prefix_words=8)


@register(
    "cross_source_contamination",
    category="llm",
    oracle=f"""
    WITH w AS (SELECT source, {_WORDS} AS w FROM documents),
    d AS (
      SELECT DISTINCT source AS src, g AS gram
      FROM (SELECT source, unnest({_duck_ngrams(5)}) AS g FROM w)
    )
    SELECT a.src AS source_a, b.src AS source_b,
           count(*) AS n_shared_ngrams
    FROM d a JOIN d b ON a.gram = b.gram AND a.src < b.src
    GROUP BY source_a, source_b
    """,
)
def cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shared word 5-grams per unordered source pair — the
    "did crawl B re-scrape crawl A" audit; n-gram granularity catches
    partial overlap (quotes, templates) that exact-text keys miss."""
    docs = read_table(spark, sf_dir, "documents")
    return cross_source_overlap(docs, "text", "source", n=5)


@register(
    "embedding_norm_stats",
    category="llm",
    oracle="""
    WITH n AS (
      SELECT label,
             (floor(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * 1000000.0 + 0.5) / 1000000.0) AS norm
      FROM embeddings
    )
    SELECT label, count(norm) AS n_vecs,
           (floor(CAST(sum(CAST(norm AS DECIMAL(18,6))) AS DOUBLE)
                  / count(norm) * 1000000.0 + 0.5) / 1000000.0) AS avg_norm,
           min(norm) AS min_norm, max(norm) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_norm_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm sanity stats over the embedding table — the
    pre-flight check before cosine dedup / ANN. Norms come from a
    scan-side left-fold bit-identical to DuckDB's list_sum (verified
    empirically); the mean sums 6dp-grid norms as DECIMAL(18,6), so it is
    partition-order independent."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_norm_stats(emb, "embedding", "label")


@register(
    "sample_apply_mixture",
    category="llm",
    # nat^0.7 via the operator's own grid-snapped exp(0.7·ln) fragment
    # (integer micros) — pow() has no pinned cross-engine convention
    oracle=f"""
    WITH g AS (SELECT lang, count(*) AS n FROM documents
           -- NULL strata are dropped BEFORE the rate table, like
           -- the operator: a NULL-lang count in the denominator
           -- would shift every real language's rate
           WHERE lang IS NOT NULL GROUP BY lang),
    n1 AS (SELECT lang, n, n / sum(n) OVER () AS nat FROM g),
    n2 AS (SELECT lang, n, nat,
           {sql_temperature_pow('nat', 0.7)} AS pm FROM n1),
    n3 AS (
      SELECT lang, (floor((CAST(pm AS DOUBLE)
                           / CAST(sum(pm) OVER () AS DOUBLE))
                   / nat * 1000000.0 + 0.5)
                   / 1000000.0) AS boost FROM n2
    ),
    r AS (SELECT lang, least(boost * 0.5, 1.0) AS rate FROM n3),
    u AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 AS u
      FROM documents
    )
    SELECT u.doc_id, u.lang, r.rate
    FROM u JOIN r USING (lang)
    WHERE u.u < r.rate
    """,
)
def sample_apply_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed sample materialized (alpha=0.7, base rate 0.5):
    per-language boosts become keep rates; membership is the deterministic
    md5-uniform of doc_id — the composed form of sample_temperature_rates
    + sample_stratified_by_lang that produces the actual upweighted
    corpus."""
    from mare_spark.operators.corpus import apply_mixture_sampling

    docs = read_table(spark, sf_dir, "documents")
    return apply_mixture_sampling(
        docs, "lang", "doc_id", alpha=0.7, base_rate=0.5
    )


@register(
    "corpus_vocab_stats",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT lang, unnest({_WORDS}) AS term FROM documents
    ),
    tf AS (SELECT lang, term, count(*) AS cnt FROM t
           WHERE term <> '' GROUP BY lang, term)
    SELECT lang,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CAST(cnt = 1 AS BIGINT)) AS BIGINT) AS n_hapax,
           (floor(CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS BIGINT)
                  * 1000000.0 + 0.5) / 1000000.0)
             AS type_token_ratio
    FROM tf GROUP BY lang
    """,
)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary stats (tokens, types, hapax legomena,
    type-token ratio) — the Zipf-tail audit that flags template-generated
    slices before any pairwise dedup."""
    from mare_spark.operators.analysis import vocab_stats

    docs = read_table(spark, sf_dir, "documents")
    return vocab_stats(docs, "text", "lang")


@register(
    "corpus_lang_confusion",
    category="llm",
    oracle=f"""
    WITH t AS (
      SELECT lang AS lang_label, {_WORDS} AS words FROM documents
    ),
    s AS (
      SELECT lang_label,
        len(list_intersect(words, ['the','a','of','and','to','is']))      AS score_en,
        len(list_intersect(words, ['el','la','de','que','y','es']))       AS score_es,
        len(list_intersect(words, ['der','die','und','das','ist','ein'])) AS score_de,
        len(list_intersect(words, ['le','la','les','et','des','est']))    AS score_fr
      FROM t
    ),
    p AS (
      SELECT lang_label,
        CASE
          -- NULL text: all scores NULL -> the operator predicts NULL
          -- (llm.py's text_lang_id oracle has the same guard)
          WHEN score_en IS NULL THEN NULL
          WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
          WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
          WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
          WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
          ELSE 'fr'
        END AS lang_pred
      FROM s
    )
    SELECT lang_label, lang_pred, count(*) AS n_docs
    FROM p GROUP BY lang_label, lang_pred
    """,
)
def corpus_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-heuristic language agreement matrix — the routing audit
    showing where the scan-side marker classifier disagrees with upstream
    metadata (prediction computed in the same scan as the label; no
    corpus self-join)."""
    from mare_spark.operators.analysis import lang_confusion_matrix

    docs = read_table(spark, sf_dir, "documents")
    return lang_confusion_matrix(docs, "text", "lang")


@register("dedup_crawl_vs_index", category="llm", oracle=None)
def dedup_crawl_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup join: even-id documents play the new
    crawl, odd-id documents the existing index; MinHash signatures built
    with the same seed on both sides, banded buckets joined ACROSS corpora
    only (within-corpus pairs are never generated), exact-Jaccard
    verified. Rows-only driver check (the MinHash signatures are not
    SQL-expressible); pytest proves the result equals the union-corpus LSH
    pair set restricted to cross pairs."""
    from mare_spark.operators.dedup import minhash_lsh_join
    from pyspark.sql import functions as FF

    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_join(
        docs.filter(FF.col("doc_id") % 2 == 0),
        docs.filter(FF.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        threshold=0.5,
        # caps are opt-in at the call site: a hot cross-corpus bucket is
        # |L|×|R| candidates no AQE split shrinks; >10k buckets are
        # verbatim duplication owned by the exact tier
        bucket_cap=10_000,
    )
