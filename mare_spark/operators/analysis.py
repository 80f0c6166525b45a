"""Corpus-analysis operators (round 3): the measurement passes a
pretraining-data pipeline runs to AUDIT a corpus rather than transform it —
heavy-hitter n-grams, per-document TF-IDF keywords, sequence-length
histograms, duplicate-cluster statistics, cross-source contamination, and
embedding-norm sanity stats.

Scale posture (each op notes its exact shuffle budget):
* ``ngram_heavy_hitters`` — explode is a narrow flatMap; the count is one
  hash aggregate with map-side partial combine (the gram key is
  high-cardinality but partials still collapse duplicates within a task's
  documents); top-k is TakeOrderedAndProject (no global sort). One shuffle.
* ``tfidf_keywords`` — two keyed aggregates (term-frequency per doc,
  document-frequency per term) + one join on the term key + one per-doc
  top-k window. The corpus-size scalar joins in as a 1-row broadcast
  (never a driver collect, never a global window).
* ``length_histogram`` — scan-side bucket expression + one tiny aggregate;
  the per-group share is a window over the already-aggregated (buckets x
  groups) result, which is O(100) rows at any corpus size.
* ``dedup_cluster_stats`` — two map-side-combinable aggregates per key
  granularity (digest -> cluster size -> histogram). The histogram is at
  most O(max cluster size) rows per granularity.
* ``cross_source_overlap`` — distinct (source, gram-hash) then a
  self-join on the hash. Sources are a small fixed set, so the join
  fan-out per gram is bounded by sources²; counts are exact integers.
* ``embedding_norm_stats`` — per-row norm is a scan-side left-fold
  (``F.aggregate``), rounded to a fixed 6dp grid and summed as
  DECIMAL(18,6) so the group average is order-independent (the same
  hash-stable convention as queries/_decimal.py).

No reference counterpart: MaRe (see /root/reference, README.md:21-25) has
no analytics surface; this family is part of the engine's declared
LLM-pipeline extension (SURVEY §2B).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mare_spark.operators.dedup import normalize_text
from mare_spark.operators.text import STOPWORDS, tokens
from mare_spark.numeric import fround

__all__ = [
    "column_profile",
    "word_ngrams",
    "ngram_partial_counts",
    "ngram_heavy_hitters",
    "tfidf_keywords",
    "length_histogram",
    "dedup_cluster_stats",
    "cross_source_overlap",
    "vocab_stats",
    "lang_confusion_matrix",
    "embedding_norm_stats",
    "ngram_novelty",
    "LENGTH_BUCKETS",
]


def word_ngrams(text_col: Column, n: int) -> Column:
    """Space-joined word ``n``-grams of the normalized text (same
    tokenization as every other text operator: ``normalize_text`` + split
    on single spaces, matching the oracles' ``string_split`` form).

    Documents shorter than ``n`` words yield an empty array — guarded
    explicitly because ``F.sequence(1, 0)`` would count DOWN (Spark infers
    step -1 when start > stop) and fabricate phantom grams.
    """
    w = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(w) >= n, grams).otherwise(empty)


def ngram_partial_counts(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Per-Arrow-batch partial n-gram counts: ``(ngram, cnt)`` with one
    row per DISTINCT gram per batch — a Python-side map combine.

    This is the heavy-hitter hot tier: one Counter pass per batch replaces
    the expression tier's interpreted higher-order lambda (measured 18x
    slower at sf0.1 — transform/slice/concat_ws are CodegenFallback, one
    tree interpretation per gram), and the explode never materializes:
    repeated grams collapse INSIDE the task before the shuffle, so the
    exchange carries (distinct-gram-per-batch, count) partials — exactly
    what Spark's own partial hash aggregate would ship, built at C speed.
    Tokenization mirrors ``normalize_text`` byte-for-byte (shared
    ``_WS_RE``/``_ASCII_WS`` contract from operators.dedup), so counts
    hash-match the ``string_split`` SQL oracles.
    """
    from itertools import chain

    import numpy as np
    import pandas as pd

    from mare_spark.operators import dedup as _dedup
    from mare_spark.operators.dedup import _fan_out, py_tokens

    # fan out a narrow scan (the fixture corpus is one 128 MB-split
    # partition, so the pass ran single-threaded — 2.4 s vs 1.5 s fanned
    # at sf0.1); no-op on an at-scale wide scan
    df = _fan_out(df)

    # Counting runs on the shared token-combine gram hashes
    # (dedup._gram_hashes over ONE flat per-batch array), with
    # np.unique(return_counts) as the per-batch combine; the gram STRING
    # is materialized only once per DISTINCT gram per batch, at its
    # first-occurrence window (Zipf: distinct ≈ 10% of total at n=3).
    # Identical partials to the Counter tier modulo 64-bit in-batch hash
    # collisions (~|batch grams|²/2⁶⁵ — the repo-standard negligible-
    # collision argument; the hash never leaves the batch, strings do).
    # Measured 1.5× on the pass single-threaded, differential-identical
    # on the full fixture corpus.

    def gen(batches):
        # the kernel is reached through the dedup MODULE so the pickled
        # closure uses the worker's one shared token cache, not a
        # per-task copy (dedup.py has the rationale)
        for pdf in batches:
            tok = []
            for t in pdf[text_col]:
                ws = py_tokens(t)
                if ws == [""]:
                    continue  # NULL/contentless docs have no grams
                    # (py_tokens(None) normalizes to [''] — without the
                    # guard n=1 counts a phantom '' gram, diverging from
                    # the expression tier and the string_split oracle)
                tok.append(ws)
            nwin = sum(len(ws) for ws in tok) - n + 1
            if not tok or nwin <= 0:
                yield pd.DataFrame(
                    {"ngram": pd.Series([], dtype="str"),
                     "cnt": pd.Series([], dtype="int64")}
                )
                continue
            lens = np.fromiter(
                (len(ws) for ws in tok), dtype=np.int64, count=len(tok)
            )
            G = _dedup._gram_hashes(list(chain.from_iterable(tok)), n)
            did = np.repeat(np.arange(len(tok)), lens)
            valid = did[:nwin] == did[n - 1 : n - 1 + nwin]
            pos = np.nonzero(valid)[0]
            uniq, first, counts = np.unique(
                G[valid], return_index=True, return_counts=True
            )
            starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
            docs_idx = did[pos[first]]
            locs = pos[first] - starts[docs_idx]
            yield pd.DataFrame(
                {
                    "ngram": [
                        " ".join(tok[d][loc : loc + n])
                        for d, loc in zip(docs_idx.tolist(), locs.tolist())
                    ],
                    "cnt": counts,
                }
            )

    return df.select(text_col).mapInPandas(gen, "ngram string, cnt long")


def ngram_heavy_hitters(
    df: DataFrame, text_col: str, n: int = 3, k: int = 25
) -> DataFrame:
    """Exact corpus-wide top-``k`` most frequent word ``n``-grams.

    The audit query behind repetition-aware filtering: boilerplate
    (cookie banners, license headers, navigation chrome) shows up as
    heavy-hitter n-grams long before any pairwise dedup finds it.

    Shape: Arrow-batched partial counts (``ngram_partial_counts`` — the
    per-batch Counter IS the map-side combine) -> one hash aggregate to
    merge partials -> TakeOrderedAndProject for the top-k (count desc,
    gram asc tie-break; no global sort materializes).
    """
    return (
        ngram_partial_counts(df, text_col, n)
        .groupBy("ngram")
        .agg(F.sum("cnt").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_term_len: int = 3,
) -> DataFrame:
    """Top-``k`` keywords per document by a deterministic TF-IDF score.

    Terms are normalized tokens of length >= ``min_term_len`` with
    stopwords removed. The score is ``tf * n_docs / df`` computed as ONE
    double division of exact integers (``round(tf * n_docs / df, 6)``) —
    both engines produce the identical IEEE double, so the value hash
    can't flip (a log-idf would re-introduce cross-engine libm drift).
    Ties break on the term string ascending.

    Shape: explode -> tf aggregate keyed (doc, term) -> df aggregate keyed
    term -> shuffle join on term -> per-doc top-k window. The corpus size
    ``n_docs`` enters as a 1-row broadcast (BroadcastNestedLoopJoin of a
    single row — the sanctioned scalar pattern, see tests/test_plans.py
    allowlist), so no driver action and no global window.
    """
    from pyspark.sql import Window

    # explode first, filter as ROW predicates: the explode generator and
    # plain length/IN predicates stay inside whole-stage codegen, where an
    # array-lambda filter (higher-order function) would be interpreted
    # per document.
    # No _fan_out here, by measurement: the sf0.1 profile shows ~1.4 s
    # CPU across single-task stages (narrow scan), but a 6-rep interleaved
    # A/B of `_fan_out(df)` vs plain came out SLOWER fanned (min 1.90 s /
    # med 2.30 vs min 1.16 / med 2.13): this pipeline is all codegen
    # (split+explode+hash-agg) with map-side partial aggregation, so the
    # added RoundRobin exchange of the full text column plus 32-task
    # overhead exceeds the parallelism win — unlike the Python-UDF
    # operators where _fan_out pays. The same A/B logic applies
    # at scale only to the narrow-scan case, which a wide corpus scan
    # never hits.
    terms = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .filter(F.length("term") >= min_term_len)
        .filter(~F.col("term").isin(list(STOPWORDS)))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            fround(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("doc_freq"),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "doc_freq", "tfidf", "rank")
    )


#: (label, inclusive lower bound) token-count buckets — integer comparisons
#: only, so bucket assignment is engine-exact (a log2/floor bucketing can
#: straddle a power-of-two boundary differently per libm).
LENGTH_BUCKETS: tuple[tuple[str, int], ...] = (
    ("0032+", 32),
    ("0128+", 128),
    ("0512+", 512),
    ("2048+", 2048),
)


def _length_bucket(n_tokens: Column) -> Column:
    expr = F.lit("0000+")
    for label, lo in LENGTH_BUCKETS:
        expr = F.when(n_tokens >= lo, F.lit(label)).otherwise(expr)
    return expr


def length_histogram(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Token-length histogram per group: doc counts, token totals, and each
    bucket's share of its group — the packing-efficiency / curriculum audit
    (how much of each language is short-tail vs long-form).

    Shape: scan-side token count + bucket CASE, one aggregate on
    (group, bucket), then the share via a window over the aggregated
    result — which is at most groups x buckets rows (O(100)) regardless of
    corpus size, so the window never sees big data.
    """
    from pyspark.sql import Window

    # count REAL tokens: contentless docs normalize to [''] and must
    # histogram as 0-token docs, not 1-token ones
    n = F.size(F.filter(tokens(F.col(text_col)), lambda w: w != ""))
    per_bucket = (
        df.select(
            F.col(group_col).alias("grp"),
            _length_bucket(n).alias("length_bucket"),
            n.alias("n_tokens"),
        )
        .groupBy("grp", "length_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    w = Window.partitionBy("grp")
    return per_bucket.withColumn(
        "share_of_group",
        fround(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ),
    ).select(
        F.col("grp").alias(group_col),
        "length_bucket",
        "n_docs",
        "total_tokens",
        "share_of_group",
    )


def _cluster_histogram(keys: DataFrame, kind: str) -> DataFrame:
    """digest column -> (key_kind, cluster_size, n_clusters, n_docs,
    n_redundant) histogram. Two map-side-combinable aggregates."""
    clusters = keys.groupBy("digest").agg(F.count("*").alias("cluster_size"))
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.lit(kind).alias("key_kind"),
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_redundant"
            ),
        )
    )


def dedup_cluster_stats(
    df: DataFrame, text_col: str, prefix_words: int = 8
) -> DataFrame:
    """Duplicate-cluster size histogram at two key granularities: exact
    normalized text, and the first ``prefix_words`` normalized words (the
    cheap shared-prefix family that catches templated boilerplate exact
    dedup misses). For each (granularity, cluster size): how many
    clusters, how many documents, how many redundant (size - 1 each).

    The audit companion to ``operators.dedup.exact_dedup``: it reports the
    dedup *yield* (what fraction of the corpus each pass would remove)
    without materializing survivors. Two map-side-combinable aggregates
    per granularity over one shared scan; the result is O(max cluster
    size) rows.
    """
    w = tokens(F.col(text_col))
    # NULL-text docs are EXCLUDED, in lockstep with exact_dedup (the
    # pass this audit sizes): md5(NULL) is NULL on both engines, and
    # both group NULLs, so unfiltered they'd form one phantom
    # "duplicate cluster" of every extraction failure, inflating the
    # reported yield over what the cleaning pass would remove (the
    # oracle filters in lockstep).
    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.md5(normalize_text(F.col(text_col))).alias("exact_digest"),
        F.when(
            F.col(text_col).isNotNull(),
            F.md5(F.concat_ws(" ", F.slice(w, 1, prefix_words))),
        ).alias("prefix_digest"),
    )
    exact = _cluster_histogram(
        keyed.select(F.col("exact_digest").alias("digest")), "exact"
    )
    prefix = _cluster_histogram(
        keyed.select(F.col("prefix_digest").alias("digest")),
        f"prefix{prefix_words}",
    )
    return exact.unionByName(prefix).orderBy("key_kind", "cluster_size")


def cross_source_overlap(
    df: DataFrame, text_col: str, source_col: str, n: int = 5
) -> DataFrame:
    """Pairwise cross-source contamination: for every unordered source
    pair, how many DISTINCT word ``n``-grams appear in both — the
    "did crawl B re-scrape crawl A" audit that decides whether sources can
    be mixed without a global dedup pass. N-gram granularity (vs whole
    documents) catches partial overlap: quoted passages, shared templates,
    re-crawled fragments.

    Shape: Arrow-batched per-batch-distinct (source, gram-hash) pairs (the
    same Python-side map-combine pattern as ``ngram_partial_counts`` —
    repeated grams collapse inside the task and the exchange carries
    fixed-width int64 keys: the per-document gram sets of
    ``dedup._doc_gram_hashes``, the shingle ids of every hashed tier) ->
    global distinct -> self-join on the hash with ``source_a < source_b``
    (each gram contributes at most sources²/2 pairs, and sources are a
    small fixed set) -> one count aggregate. Exact integer counts;
    deterministic — the oracle counts the distinct gram STRINGS, which
    matches as long as the 64-bit hash is injective on the observed gram
    set (the same collision contract every hashed-shingle join in
    operators.dedup runs under).
    """
    import numpy as np
    import pandas as pd

    from mare_spark.operators import dedup as _dedup

    def gen(batches):
        # module-attribute access to the kernel — see ngram_partial_counts
        for pdf in batches:
            by_src: dict = {}
            for src, h in zip(
                pdf[source_col], _dedup._doc_gram_hashes(pdf[text_col], n)
            ):
                if len(h):
                    by_src.setdefault(src, []).append(h)
            srcs: list = []
            grams = [np.empty(0, dtype=np.int64)]
            for src, hs in by_src.items():
                u = np.unique(np.concatenate(hs))
                srcs += [src] * len(u)
                grams.append(u)
            yield pd.DataFrame(
                {
                    "src": pd.Series(srcs, dtype=object),
                    "gram": np.concatenate(grams),
                }
            )

    d = (
        df.select(F.col(source_col), F.col(text_col))
        .mapInPandas(gen, "src string, gram long")
        .distinct()
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared_ngrams"))
        .orderBy("source_a", "source_b")
    )


def vocab_stats(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Per-group vocabulary statistics: token count, type (distinct-term)
    count, hapax count (terms occurring exactly once in the group), and
    type-token ratio — the Zipf-tail audit that flags template-generated
    or boilerplate-heavy slices (low TTR, thin hapax tail) before any
    pairwise dedup runs.

    Shape: one keyed aggregate to term frequencies (map-side combinable),
    one tiny per-group rollup. The TTR is a single double division of
    exact integers, rounded to the 6dp grid — engine-identical.
    """
    tf = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        # contentless docs normalize to [''] — the empty pseudo-token
        # must not count as a type/hapax (it would ADD diversity mass to
        # exactly the padded slices this audit exists to flag)
        .filter(F.col("term") != "")
        .groupBy("grp", "term")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        tf.groupBy("grp")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
        )
        .withColumn(
            "type_token_ratio",
            fround(F.col("n_types").cast("double") / F.col("n_tokens"), 6),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            "n_hapax",
            "type_token_ratio",
        )
        .orderBy(group_col)
    )


def lang_confusion_matrix(
    df: DataFrame, text_col: str, label_col: str
) -> DataFrame:
    """Agreement matrix between the labeled language column and the
    marker-word heuristic (:func:`mare_spark.operators.text.language_id`):
    (label, predicted, count) — the routing audit that shows where the
    cheap scan-side classifier disagrees with upstream metadata and a real
    classifier is worth the spend.

    Shape: the scan-side score expressions plus one aggregate over the
    (labels x predictions) key space — O(langs²) result rows. The
    prediction is computed in the same scan as the label (shared
    ``language_scores``/``language_pred`` expressions), never by joining
    the corpus back to itself on the id.
    """
    from mare_spark.operators.text import language_pred, language_scores

    return (
        df.select(
            F.col(label_col).alias("lang_label"),
            *language_scores(F.col(text_col)),
        )
        .select("lang_label", language_pred().alias("lang_pred"))
        .groupBy("lang_label", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_label", "lang_pred")
    )


def embedding_norm_stats(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """Per-label embedding-norm sanity stats: count, mean/min/max L2 norm.

    The pre-flight check before any cosine-based dedup or ANN pass —
    near-zero or wildly varying norms mean the embedding batch is broken
    and every similarity downstream is noise.

    Determinism: the per-row norm is a scan-side left-fold over the vector
    (``F.aggregate`` — bit-identical to DuckDB's ``list_sum`` left fold,
    verified empirically), rounded onto a fixed 6dp grid; the group MEAN
    sums those grid points as DECIMAL(18,6) — exact integer arithmetic, so
    the average is independent of partition order (queries/_decimal.py
    convention). Min/max of identical doubles are trivially stable.
    """
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    # EMPTY arrays score NULL, not 0.0: DuckDB's list_sum([]) is NULL, so
    # a Spark 0.0-norm row would be counted/averaged on one engine only;
    # a zero-LENGTH vector is a broken row either way and
    # belongs outside the stats, like NULL vectors
    sq = F.when(F.size(F.col(vec_col)) > 0, sq)
    norm = fround(F.sqrt(sq), 6)
    return (
        df.select(F.col(label_col).alias("label"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            # count NORMS, not rows: a NULL/broken vector must not
            # deflate the mean below the minimum (count(*) would divide
            # by rows that min/max/sum skip)
            F.count("norm").alias("n_vecs"),
            fround(
                F.sum(F.col("norm").cast("decimal(18,6)")).cast("double")
                / F.count("norm"),
                6,
            ).alias("avg_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document originality score: the fraction of a document's
    DISTINCT word ``n``-grams that appear in no other document. Novelty 1
    = wholly original content; low novelty without being anyone's
    near-duplicate = quilt-of-boilerplate — the doc-level signal that
    chunk-level scrubbing acts on, useful for ranking docs by how much
    unique information they contribute to the corpus.

    Returns ``(id, *keep_cols, n_distinct_ngrams, n_novel_ngrams,
    novelty)`` for documents with at least ``n`` words (shorter docs have
    no n-grams and drop, on both engines).

    Scale: grams travel as 64-bit hashes from the shared Arrow-batched
    shingle hasher (the interpreted higher-order ``word_ngrams`` pipeline
    and md5-string keys stay off this hot path — same swap
    decontaminate_ngrams documents); per-doc distinct is free (the hasher
    emits sorted distinct sets). Novelty needs only the per-gram
    predicate ``document frequency == 1``, so the SHARED grams (df ≥ 2 —
    the complement is what marks a gram novel) are derived by a
    partial-combined aggregate and left-joined back as a flag. A count
    window over the digest would be wrong at scale here: n-gram
    frequencies are Zipfian, and a hot boilerplate 8-gram would funnel
    its every row into one un-splittable window task, while the
    aggregate partial-combines hot digests map-side and the shuffled
    join-back is AQE-skew-splittable. The per-doc ratio is one groupBy
    on the id. Integer counts until a single division → 6dp fround, so
    the score is hash-stable.
    """
    from pyspark import StorageLevel

    from mare_spark.cache import materialize
    from mare_spark.operators.dedup import hashed_word_shingles

    # the Arrow shingle hasher is the dominant cost and feeds BOTH the
    # doc-frequency aggregate and the join-back — persist it once
    # (spillable) instead of hashing the corpus twice. Eager build
    # (materialize): the aggregate branch and the join probe launch
    # concurrently under AQE and would race the shingle UDF through
    # twice on a cold cache.
    ex = materialize(
        df.select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            F.explode(hashed_word_shingles(F.col(text_col), n)).alias("gh"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    shared = (
        ex.select("gh").groupBy("gh").agg(F.count("*").alias("gram_df"))
        .filter(F.col("gram_df") >= 2)
        .select("gh")
        .withColumn("_shared", F.lit(True))
    )
    ex = ex.join(shared, "gh", "left")
    per_doc = (
        ex.groupBy(id_col, *keep_cols)
        .agg(
            F.count("*").alias("n_distinct_ngrams"),
            F.sum(F.col("_shared").isNull().cast("long")).alias(
                "n_novel_ngrams"
            ),
        )
    )
    return per_doc.withColumn(
        "novelty",
        fround(
            F.col("n_novel_ngrams") / F.col("n_distinct_ngrams").cast("double"),
            6,
        ),
    )


def column_profile(
    df: DataFrame,
    cols: tuple[str, ...],
    *,
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """ANALYZE-style column statistics in ONE pass: for each named column,
    ``(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)``
    — the table profile that tells a planner (or a human) which join side
    broadcasts, which key buckets, and which column partitions, before
    anyone runs the 100 TB query. Values are profiled as strings so the
    schema is column-type-independent and min/max are engine-identical.

    Plan: one scan-side explode of a k-struct array (k = len(cols), so the
    exchange carries k·rows thin (name, value) pairs) into a single keyed
    aggregate — NOT k separate jobs over the table. ``approx=True`` swaps
    the exact distinct count for HyperLogLog at relative error ``rsd``
    (approx_count_distinct), the right tier when the profile itself must
    not shuffle a 100 TB table's distinct sets; the default stays exact
    (and oracle-checkable).
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("v"),
                # numeric bounds ride the same pass: try_cast gives NULL
                # for non-numeric columns (lexicographic string min/max
                # would report min '10' > max '9' for an int column)
                F.expr(
                    f"try_cast(`{c.replace('`', '``')}` as double)"
                ).alias("num"),
            )
            for c in cols
        ]
    )
    n_distinct = (
        F.approx_count_distinct("v", rsd) if approx else F.countDistinct("v")
    )
    return (
        df.select(F.explode(entries).alias("e"))
        .select("e.column_name", "e.v", "e.num")
        .groupBy("column_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").isNull().cast("bigint")).alias("n_nulls"),
            n_distinct.alias("n_distinct"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
            F.min("num").alias("min_numeric"),
            F.max("num").alias("max_numeric"),
        )
    )
