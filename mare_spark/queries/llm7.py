"""Round-6 registrations: DSIR-style importance resampling — scoring the
raw corpus against a target distribution over hashed n-gram features and
resampling proportionally to the weights, the published data-selection
method (Xie et al. 2023) a pretraining pipeline runs between quality
gating and sampling.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.queries.llm import (
    DUCK_EXACT_CC,
    _jaccard_edges_ctes,
    _sql_cosine,
)
from mare_spark.queries.llm2 import _duck_ngrams, _WORDS
from mare_spark.queries.llm5 import sql_split_case
from mare_spark.registry import register
from mare_spark.tables import read_table

_B = 4096  # feature buckets (DSIR hashes unigrams+bigrams into a fixed space)
_TARGET = "src0"  # the fixture's stand-in "high-quality" target source

# Shared oracle CTE chain ending in sc(doc_id, n_feats, log_weight): the
# importance weight of every raw (source != target) document.
_DSIR_WEIGHT_CTES = f"""
    WITH w AS (SELECT doc_id, source, {_WORDS} AS w FROM documents),
    g AS (
      SELECT doc_id, source,
             unnest(list_concat({_duck_ngrams(1)}, {_duck_ngrams(2)})) AS gram
      FROM w
    ),
    f AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % {_B}
               AS bucket
      FROM g
    ),
    tc AS (SELECT bucket, count(*) AS t_cnt FROM f
           WHERE source = '{_TARGET}' GROUP BY bucket),
    rc AS (SELECT bucket, count(*) AS r_cnt FROM f
           WHERE source <> '{_TARGET}' GROUP BY bucket),
    tt AS (SELECT count(*) AS t_tot FROM f WHERE source = '{_TARGET}'),
    rt AS (SELECT count(*) AS r_tot FROM f WHERE source <> '{_TARGET}'),
    lr AS (
      SELECT b.bucket,
             (floor(ln(
                CAST((COALESCE(t_cnt, 0) + 1) * (r_tot + {_B}) AS DOUBLE)
                / CAST((COALESCE(r_cnt, 0) + 1) * (t_tot + {_B}) AS DOUBLE)
              ) * 1000000.0 + 0.5) / 1000000.0) AS logratio
      FROM range({_B}) b(bucket)
      LEFT JOIN tc ON tc.bucket = b.bucket
      LEFT JOIN rc ON rc.bucket = b.bucket
      CROSS JOIN tt CROSS JOIN rt
    ),
    sc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             (floor(CAST(sum(CAST(lr.logratio AS DECIMAL(28,6))) AS DOUBLE)
                    * 1000000.0 + 0.5) / 1000000.0) AS log_weight
      FROM f JOIN lr ON f.bucket = lr.bucket
      WHERE f.source <> '{_TARGET}'
      GROUP BY doc_id
    )
"""


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights of every raw document (the Spark twin of the
    oracle's ``sc`` CTE)."""
    from mare_spark.operators.dsir import (
        dsir_importance_weights,
        dsir_logratios,
    )

    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == _TARGET)
    raw = docs.filter(F.col("source") != _TARGET)
    lr = dsir_logratios(raw, target, "text", num_buckets=_B)
    return dsir_importance_weights(raw, "text", "doc_id", lr, num_buckets=_B)


@register(
    "corpus_dsir_weights",
    category="llm",
    oracle=f"""
    {_DSIR_WEIGHT_CTES}
    SELECT doc_id, n_feats, log_weight
    FROM sc WHERE doc_id IS NOT NULL
    -- NULL ids excluded (engine in lockstep): the registry's limit
    -- tie-break contract needs a unique NON-NULL key — Spark ASC sorts
    -- NULLs first, DuckDB last, so a rank-100 tie would diverge
    ORDER BY log_weight DESC, doc_id LIMIT 100
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: the 100 raw documents (source != src0)
    whose hashed unigram+bigram features look most like the target
    source's distribution — ``log w = Σ_feats [log p_target − log p_raw]``
    with add-1 smoothing over md5 buckets.

    Plan: two map-side-combined bucket aggregates (≤4096 rows each, dense
    log-ratio table built over spark.range and BROADCAST into the scoring
    join), one explode + doc-keyed aggregate for the scores, TakeOrdered
    for the slice. Ties break on doc_id; every float is grid-snapped and
    the per-doc sum is DECIMAL (hash-stable by the registry conventions —
    the smoothed ratio is one division of two exact int64 products, so
    both engines ln() the identical double).
    """
    w = _dsir_weights(spark, sf_dir).filter(F.col("doc_id").isNotNull())
    return w.orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(100)


@register(
    "sample_dsir_gumbel",
    category="llm",
    oracle=f"""
    {_DSIR_WEIGHT_CTES},
    keyed AS (
      SELECT doc_id, n_feats, log_weight,
             log_weight + (floor(-ln(-least(
                 floor(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                || 'epoch0'), 1, 8))
                                AS BIGINT) + 0.5) / 4294967296.0)
                       * 1000000.0 + 0.5) / 1000000.0,
                 -0.000001
               )) * 1000000.0 + 0.5) / 1000000.0) AS gumbel_key
      -- NULL doc_ids excluded in lockstep with dsir_gumbel_topk (a NULL
      -- uniform would slip through least() to the clamp on both engines)
      FROM sc WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, n_feats, log_weight, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 50
    """,
)
def sample_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resampling step, driver-visible: 50 raw documents drawn
    WITHOUT replacement with probability ∝ importance weight via the
    Gumbel top-k trick (``key = log w − ln(−ln(u))``, u = md5-uniform of
    (doc_id, salt) — reproducible across runs/layouts/engines, new salt
    = fresh draw). Scan-side key arithmetic + TakeOrderedAndProject; the
    oracle replays the snapped double-ln chain bit-for-bit."""
    from mare_spark.operators.dsir import dsir_gumbel_topk

    w = _dsir_weights(spark, sf_dir)
    return dsir_gumbel_topk(w, "doc_id", 50, salt="epoch0")


@register(
    "multimodal_sniff_report",
    category="llm",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                WHEN 2 THEN 'image/bmp' WHEN 3 THEN 'image/jpeg'
                ELSE 'audio/wav' END AS mime,
           CASE WHEN doc_id % 5 <= 3
                THEN CAST(1 + doc_id % 64 AS INT) END AS width,
           CASE WHEN doc_id % 5 <= 3
                THEN CAST(1 + doc_id % 48 AS INT) END AS height,
           CAST(CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 4 WHEN 4 THEN 1 + doc_id % 2
                ELSE 3 END AS INT) AS channels,
           CASE WHEN doc_id % 5 = 4
                THEN CAST(8000 + (doc_id % 8) * 1000 AS INT)
                END AS sample_rate
    FROM documents
    """,
)
def multimodal_sniff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media-header parsing, hash-checked: every document gets a
    format-true synthetic payload (PNG/GIF/BMP/JPEG/WAV header by
    doc_id % 5, dimensions/rate derived from doc_id, md5 bytes as body —
    :func:`multimodal.synthesize_media_payload`), and the engine must
    recover the metadata by actually PARSING the bytes
    (:func:`multimodal.sniff_media_metadata` — magic-byte dispatch +
    struct header walks, no media libraries). The DuckDB oracle computes
    the expected values arithmetically from doc_id, so any drift in
    either the builder or the parser hash-fails.

    Scale shape: one Arrow-batched scan-side pass, zero shuffle — the
    metadata-first posture for routing/filtering a multimodal corpus
    before any decode hop."""
    import hashlib

    from mare_spark.operators.multimodal import (
        sniff_media_metadata,
        synthesize_media_payload,
    )

    kinds = ("png", "gif", "bmp", "jpeg", "wav")

    @F.pandas_udf("binary")
    def build(ids: pd.Series) -> pd.Series:
        def one(i):
            i = int(i)
            return synthesize_media_payload(
                kinds[i % 5],
                width=1 + i % 64, height=1 + i % 48,
                channels=1 + i % 2, sample_rate=8000 + (i % 8) * 1000,
                body=hashlib.md5(str(i).encode()).digest(),
            )

        return ids.map(one)

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", build(F.col("doc_id")))
    return sniff_media_metadata(payloads, "payload", "doc_id")


@register(
    "embedding_covariance",
    category="llm",
    oracle="""
    WITH e AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m2 AS (
      SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
             sum(CAST(floor(v[i + 1] * v[j + 1] * 1000000.0 + 0.5)
                      AS BIGINT)) AS s
      FROM e, range(64) ri(i), range(64) rj(j)
      WHERE i <= j GROUP BY 1, 2
    ),
    m1 AS (
      SELECT CAST(i AS INT) AS d,
             sum(CAST(floor(v[i + 1] * 1000000.0 + 0.5) AS BIGINT)) AS s
      FROM e, range(64) ri(i) GROUP BY 1
    ),
    nn AS (SELECT count(*) AS n FROM e)
    SELECT dim_i, dim_j,
           (floor(((m2.s / 1000000.0) / nn.n
                   - ((a.s / 1000000.0) / nn.n)
                     * ((b.s / 1000000.0) / nn.n)) * 1000000.0 + 0.5)
            / 1000000.0) AS cov
    FROM m2
    JOIN m1 a ON a.d = m2.dim_i
    JOIN m1 b ON b.d = m2.dim_j
    CROSS JOIN nn
    """,
)
def embedding_covariance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature covariance of the 64-dim embedding table (upper triangle,
    2080 rows) — the one-pass distributed moment estimate behind PCA and
    whitening. Hash-checked: per-row float64 products are snapped to
    integer micros and summed exactly (partition-order-independent), and
    the DuckDB oracle replays the identical arithmetic via a double
    unnest; the engine side ships O(partitions · dim²) partial rows
    regardless of corpus size (mapInArrow numpy fold → one keyed merge).
    """
    from mare_spark.operators.pca import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", 64)


@register("embedding_pca_variance", category="llm", oracle=None)
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal components of the embedding table: eigenvalue and
    explained-variance ratio per component — the embedding-hygiene audit
    (a near-rank-deficient or single-direction-dominated batch breaks
    every cosine threshold downstream). Rows-only by design:
    eigendecomposition is iterative and not SQL-expressible; the PCA tier
    is pinned by numpy differentials in tests/test_pca.py (projection
    equality, whitened-covariance ≈ identity, sign determinism), and its
    input covariance is the hash-checked embedding_covariance row."""
    from mare_spark.operators.pca import pca_fit

    emb = read_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", 64, k=8)
    ratios = model.explained_variance_ratio()
    rows = [
        (int(c), float(round(model.eigvals[c], 6)),
         float(round(ratios[c], 6)))
        for c in range(len(model.eigvals))
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, variance_ratio double"
    )


@register(
    "text_bigram_logprob",
    category="llm",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    tp AS (
      SELECT doc_id, w[i] AS a, w[i + 1] AS b
      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)
    ),
    big AS (SELECT a, b, count(*) AS cab FROM tp GROUP BY 1, 2),
    ctx AS (SELECT a, sum(cab) AS ca FROM big GROUP BY 1),
    uni AS (SELECT t AS b, count(*) AS cb
            FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens
            FROM (SELECT unnest(w) AS t FROM w)),
    lp AS (
      SELECT big.a, big.b,
             (floor(ln(0.9 * (cab / ca) + 0.1 * (cb / t_tokens))
                    * 1000000.0 + 0.5) / 1000000.0) AS lp
      FROM big JOIN ctx USING (a) JOIN uni USING (b) CROSS JOIN tot
    )
    SELECT tp.doc_id, count(*) AS n_bigrams,
           (floor(CAST(sum(CAST(lp.lp AS DECIMAL(28,6))) AS DOUBLE)
                  / count(*) * 1000000.0 + 0.5) / 1000000.0) AS avg_logprob
    FROM tp JOIN lp ON tp.a = lp.a AND tp.b = lp.b
    GROUP BY tp.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM fluency score per document (λ=0.9 bigram ML
    + 0.1 unigram ML, fit on the corpus itself) — the transition-aware
    step from text_unigram_logprob toward CCNet's KenLM filter: keyword-
    stuffed word salad scores high on unigrams but collapses here. All
    counts exact integers, interpolation association pinned on both
    engines, 6dp-snapped ln terms summed as DECIMAL (hash-stable)."""
    from mare_spark.operators.corpus import bigram_logprob

    docs = read_table(spark, sf_dir, "documents")
    # lam_unigram passed as the literal 0.1 so both engines multiply by
    # the exact double the oracle's `0.1` parses to (1.0 - 0.9 is one
    # ulp off).
    return bigram_logprob(docs, "text", "doc_id", lam=0.9, lam_unigram=0.1)


@register(
    "sim_hard_negatives",
    category="llm",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             {_sql_cosine("a.v", "b.v")} AS cosine
      FROM e a JOIN e b ON a.label <> b.label
    ),
    r AS (
      SELECT anchor_id, neg_id, cosine,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, neg_id) AS rnk
      FROM p
    )
    SELECT anchor_id, neg_id, cosine, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 1
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's
    single most-cosine-similar OTHER-label vector (the pair a contrastive
    loss learns most from). Exact tier, hash-checked against the full
    DuckDB all-pairs replay; the IVF-blocked scale tier (keyed equi-join
    through probed cells, no cartesian) is pinned to this one by recall
    tests in tests/test_llm_ops.py."""
    from mare_spark.operators.similarity import hard_negatives

    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, "embedding", "vec_id", "label", k=1)


@register(
    "dedup_split_leakage",
    category="llm",
    oracle=f"""
    WITH RECURSIVE {_jaccard_edges_ctes()},
    {DUCK_EXACT_CC},
    sp AS (
      SELECT l.node AS member, l.label AS cluster,
             {sql_split_case("l.node")} AS split
      FROM labels l
    )
    SELECT cluster, count(*) AS n_members,
           CAST(count(DISTINCT split) AS INT) AS n_splits,
           CAST(count(DISTINCT split) > 1 AS INT) AS is_leaky
    FROM sp GROUP BY cluster
    """,
)
def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate clusters (exact 3-gram Jaccard
    >= 0.8, connected components) crossed with the deterministic 98/1/1
    train/val/test assignment — a cluster whose members land in more
    than one split leaks train text into eval (the contamination bug a
    doc-level split cannot see; the fix is splitting by CLUSTER, not by
    document). Output: every near-dup cluster with its member count,
    split spread, and leak flag.

    Composes three hash-green building blocks (pair generation, CC
    resolution, the 60-bit split bucket), so the whole audit is itself
    oracle-checked. Plan: the near-dup stack's plans unchanged + one
    broadcast-free aggregate over the (member, cluster) labels — the
    audit adds no corpus-scale work beyond what dedup already ran."""
    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    with cache_scope():
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
        clusters = dedup_clusters(pairs)
    from mare_spark.queries.llm5 import split_assignment

    split = split_assignment("member")
    return (
        clusters.withColumn("split", split)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.countDistinct("split").cast("int").alias("n_splits"),
        )
        .withColumn(
            "is_leaky", (F.col("n_splits") > 1).cast("int")
        )
    )


@register(
    "text_nfc_report",
    category="llm",
    oracle="""
    SELECT count(*) AS n_docs,
           CAST(coalesce(sum(CAST(text <> nfc_normalize(text) AS BIGINT)), 0)
                AS BIGINT) AS n_changed,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_raw,
           CAST(count(DISTINCT md5(nfc_normalize(text))) AS BIGINT)
             AS n_distinct_nfc
    FROM documents
    """,
)
def text_nfc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization audit: how many documents change under NFC,
    and how many distinct content digests exist before vs after —
    ``n_distinct_raw > n_distinct_nfc`` means byte-different spellings of
    identical text are defeating every hash-keyed operator downstream
    (exact dedup, chunk scrub, md5 samplers) and the corpus needs
    :func:`text.normalize_nfc` before them. The oracle replays via
    DuckDB's ``nfc_normalize`` — engine NFC parity is pinned across
    scripts in tests (the fixture itself is ASCII, so n_changed = 0
    there; the operator's real behavior is exercised on crafted
    composed/decomposed twins)."""
    from mare_spark.operators.text import normalize_nfc

    docs = normalize_nfc(
        read_table(spark, sf_dir, "documents"), "text"
    )
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(
            F.sum((F.col("text") != F.col("text_nfc")).cast("bigint")),
            F.lit(0),
        ).alias("n_changed"),
        F.countDistinct(F.md5("text")).alias("n_distinct_raw"),
        F.countDistinct(F.md5("text_nfc")).alias("n_distinct_nfc"),
    )
