"""Corpus-preparation operators for LLM training-data pipelines:
repetition statistics, rule-based quality gates, PII scrubbing, eval-set
decontamination, and sequence packing.

These extend the text-analysis family (operators.text) with the
filter/transform passes a production pretraining pipeline runs between raw
ingestion and tokenization — the C4/Gopher-style rule filters, the
"remove anything that overlaps the benchmark" decontamination join, and the
concatenate-and-cut packing step that turns documents into fixed-length
training sequences.

Scale posture:
* repetition/gates/PII are scan-side single-pass ops (no shuffle): regex
  and length signals are JVM expression code; per-document token counting
  runs as one Arrow-batched Counter pass (the expression-code alternative
  is an interpreted higher-order transform, O(distinct·n) per row).
* decontamination is an inverted-index semi-join on n-gram hashes: the eval
  side of the join is an eval *set* (benchmarks are MBs, not TBs), so it is
  broadcast — the 100 TB corpus is never shuffled, only scanned.
* packing shuffles once on the group key and runs one windowed cumulative
  sum per group — the same cost as any keyed window; parallelism = number
  of groups, so callers shard hot groups (the ``group_col`` can be a
  composite like ``(lang, doc_id % 64)``) when one group dominates.

No reference counterpart: MaRe (see /root/reference) has no text analytics;
users would express these as shell commands inside containers
(README.md:21-25). This family is part of the engine's declared LLM-pipeline
extension (SURVEY §2B).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mare_spark.operators.text import tokens
from mare_spark.numeric import fround

__all__ = [
    "repetition_stats",
    "quality_gates",
    "pii_scrub",
    "decontaminate_ngrams",
    "pack_sequences",
    "write_packed_corpus",
    "unigram_logprob",
    "temperature_rates",
    "sql_temperature_pow",
    "apply_mixture_sampling",
    "repeated_chunk_scrub",
    "repeated_chunk_scrub_cms",
    "hashed_quality_classifier",
    "group_fixed_k_sample",
    "token_budget_sample",
    "snapshot_diff",
    "ngram_overlap_report",
    "bigram_logprob",
    "epoch_shuffle",
    "pack_token_tape",
    "intra_doc_chunk_dedup",
    "curriculum_order",
    "PII_PATTERNS",
]


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals per document.

    * ``distinct_word_ratio`` — |distinct words| / |words|; low = repetitive.
    * ``top_word_frac``       — occurrences of the most frequent word / |words|.
    * ``dup_bigram_frac``     — fraction of word bigrams that are repeats
      (1 - |distinct bigrams| / |bigrams|).

    Token statistics come from one Arrow-batched Counter pass per document
    (:func:`mare_spark.operators.text.doc_token_stats_udf`) — the
    expression-code most-frequent-word transform is O(distinct·n) per row
    and interpreted (higher-order functions are CodegenFallback). Ratios
    and rounding stay JVM-side so the SQL oracle hash-matches. Still one
    scan, zero shuffle.
    """
    from mare_spark.operators.text import doc_token_stats_udf

    d = df.select(F.col(id_col), doc_token_stats_udf()(F.col(text_col)).alias("_s"))
    n = F.col("_s.n")
    nbg = F.col("_s.nbg")
    return d.select(
        F.col(id_col),
        n.alias("n_tokens"),
        fround(F.col("_s.nd") / F.greatest(n, F.lit(1)), 6).alias(
            "distinct_word_ratio"
        ),
        fround(F.col("_s.top") / F.greatest(n, F.lit(1)), 6).alias(
            "top_word_frac"
        ),
        fround(
            (nbg - F.col("_s.nbgd")) / F.greatest(nbg, F.lit(1)).cast("double"),
            6,
        ).alias("dup_bigram_frac"),
    )


def quality_gates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_tokens: int = 25,
    max_tokens: int = 100_000,
    min_avg_word_len: float = 2.0,
    max_avg_word_len: float = 12.0,
    max_punct_ratio: float = 0.10,
    min_stopword_hits: int = 2,
    max_top_word_frac: float = 0.25,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rule-based quality filter (C4/Gopher-style): one boolean gate per
    rule plus the conjunction, emitted as 0/1 ints so downstream reporting
    can aggregate pass rates per rule. Returns every document (filtering is
    the caller's ``.filter("kept = 1")`` — keeping the gates visible is the
    point: at corpus scale you audit *why* documents die before you drop
    them)."""
    from mare_spark.operators.text import doc_token_stats_udf

    d = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(text_col),
        doc_token_stats_udf()(F.col(text_col)).alias("_s"),
    )
    n = F.col("_s.n")
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    avg_wl = F.col("_s.alpha_len") / F.greatest(n, F.lit(1))
    stop_hits = F.col("_s.stop_hits")
    top = F.col("_s.top")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))

    g_len = (n >= min_tokens) & (n <= max_tokens)
    g_wl = (avg_wl >= min_avg_word_len) & (avg_wl <= max_avg_word_len)
    g_punct = punct_ratio <= max_punct_ratio
    g_stop = stop_hits >= min_stopword_hits
    g_rep = (top / F.greatest(n, F.lit(1))) <= max_top_word_frac
    gates = {
        "gate_len": g_len,
        "gate_word_len": g_wl,
        "gate_punct": g_punct,
        "gate_stopwords": g_stop,
        "gate_repetition": g_rep,
    }
    kept = None
    for g in gates.values():
        kept = g if kept is None else (kept & g)
    # keep_cols ride the single scan (r8 review: the quality funnel paid
    # a second corpus scan + a corpus-wide doc_id shuffle join just to
    # reattach source/digest — the convention every sibling operator
    # already follows)
    return d.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[v.cast("int").alias(k) for k, v in gates.items()],
        kept.cast("int").alias("kept"),
    )


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): literal classes, bounded repeats, \d.
# Replacement order matters (applied top to bottom); tokens are uppercase so
# a scrubbed corpus is greppable for redaction density.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
)


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact PII spans (emails, IPv4s, SSN-shaped ids) and count them.

    Output: id, one ``n_<kind>`` count per pattern, and the scrubbed text.
    Pure regexp expression code — the 100 TB cost is one scan. The pattern
    list is deliberately conservative (high precision); recall-critical
    deployments chain a model-based pass afterwards on the
    ``n_* > 0`` subset, which this pass has already shrunk.
    """
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))).alias(
                f"n_{kind}"
            )
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(F.col(id_col), *counts, scrubbed.alias("scrubbed_text"))


def decontaminate_ngrams(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    eval_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing any word
    ``n``-gram with the eval corpus (the standard 8–13-gram overlap rule
    used for pretraining-set hygiene).

    Plan shape: both sides shingle scan-side; eval n-grams are distinct-ed
    and **broadcast** (eval sets are MBs — benchmarks, not corpora), so the
    training side is a single scan + broadcast semi-join per document id,
    then one anti-join. The corpus is never shuffled; there is no all-pairs
    comparison anywhere. Hashing the grams (xxhash64) keeps the broadcast
    table fixed-width regardless of gram length.
    """
    from mare_spark.operators.dedup import _fan_out, hashed_word_shingles

    eval_text_col = eval_text_col or text_col
    # n-grams via the shared Arrow-batched shingle hasher (sorted distinct
    # 64-bit hashes): overlap semantics are set-level, so the dedupe is
    # free, and the interpreted-eval higher-order transform/slice pipeline
    # (_word_ngrams) stays off this hot path. The gram side fans out a
    # narrow scan first (r9: the fixture corpus is one scan partition, so
    # the 8-gram UDF ran single-threaded); no-op on an at-scale wide scan,
    # and the returned anti-join still keys on the ORIGINAL df.
    train_grams = _fan_out(df).select(
        F.col(id_col),
        F.explode(hashed_word_shingles(F.col(text_col), n)).alias("_g"),
    )
    eval_grams = (
        eval_df.select(
            F.explode(hashed_word_shingles(F.col(eval_text_col), n)).alias("_g")
        )
        .distinct()
    )
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "_g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(contaminated, id_col, "left_anti")


def ngram_overlap_report(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    eval_text_col: str | None = None,
    n: int = 8,
    min_frac: float = 0.0,
) -> DataFrame:
    """Graded contamination report — the fraction-threshold companion to
    :func:`decontaminate_ngrams`'s any-overlap rule: for every training
    document sharing at least one word ``n``-gram with the eval corpus,
    report how MUCH overlaps. Production hygiene policies are typically
    fractional ("drop if ≥ X% of a doc's n-grams appear in any
    benchmark"), with the report reviewed before choosing X.

    Returns ``(id, n_grams, n_matched, overlap_frac)`` for documents with
    ``n_matched ≥ 1`` and ``overlap_frac ≥ min_frac``, where ``n_grams``
    is the document's DISTINCT n-gram count and ``overlap_frac`` their
    matched fraction (6dp — hash-stable). Documents too short to have an
    n-gram produce no row (0/0 is undefined, same contract as the shingle
    tiers).

    Plan shape: identical to decontaminate_ngrams — shingles scan-side,
    eval grams distinct-ed and broadcast, per-doc counts are one groupBy
    on the id. The per-doc gram sets are already distinct (sorted-set
    hasher), so ``count(*)`` after the match IS the distinct matched
    count; the corpus is never shuffled except by its own id.
    """
    from mare_spark.operators.dedup import _fan_out, hashed_word_shingles

    eval_text_col = eval_text_col or text_col
    # same narrow-scan fan-out rationale as decontaminate_ngrams
    train_grams = _fan_out(df).select(
        F.col(id_col),
        F.explode(hashed_word_shingles(F.col(text_col), n)).alias("_g"),
    )
    eval_grams = (
        eval_df.select(
            F.explode(hashed_word_shingles(F.col(eval_text_col), n)).alias("_g")
        )
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    per_doc = (
        train_grams.join(F.broadcast(eval_grams), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("_hit").isNotNull().cast("long")).alias("n_matched"),
        )
        .filter(F.col("n_matched") >= 1)
        .withColumn(
            "overlap_frac",
            fround(F.col("n_matched") / F.col("n_grams").cast("double"), 6),
        )
    )
    if min_frac > 0.0:
        per_doc = per_doc.filter(F.col("overlap_frac") >= min_frac)
    return per_doc


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str,
    *,
    group_col: str | None = None,
    max_len: int = 2048,
    shards: int | None = None,
) -> DataFrame:
    """Concatenate-and-cut sequence packing: documents, taken in ``id_col``
    order within each group, are laid end-to-end on a token tape that is cut
    every ``max_len`` tokens (documents may straddle cuts — the standard
    GPT-style pretraining packing; pad-free).

    Output per document: the sequence index its first token lands in
    (``seq_id``) and its offset within that sequence (``seq_offset``) —
    enough for a writer to materialize shards deterministically.

    One shuffle (by the group keys) + one windowed running sum. Parallelism
    equals the number of groups. ``shards=N`` adds a deterministic salt key
    ``pack_shard = pmod(xxhash64(id_col), N)`` so each of the N tapes packs
    independently (per group, if ``group_col`` is also given) — THE scale
    path for a corpus-wide pack. With neither ``group_col`` nor ``shards``
    the entire input serializes through ONE window partition — a silent
    single-task tape at scale — so that call emits a RuntimeWarning.
    """
    import warnings

    from pyspark.sql.window import Window

    if group_col is None and shards is None:
        warnings.warn(
            "pack_sequences(group_col=None, shards=None) packs the whole "
            "input through a single window partition — one task, no "
            "parallelism. Pass group_col and/or shards=N at scale.",
            RuntimeWarning,
            stacklevel=2,
        )
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    reserved = {"n_tokens", "seq_id", "seq_offset"} | (
        {"pack_shard"} if shards is not None else set()
    )
    clash = reserved.intersection(
        {id_col, token_col} | ({group_col} if group_col else set())
    ) - {token_col if token_col == "n_tokens" else ""}
    # (token_col == "n_tokens" is the one benign case: it is re-aliased to
    # that exact name, producing no duplicate)
    if clash:
        raise ValueError(
            f"column names clash with pack_sequences output columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )
    keys = [group_col] if group_col else []
    shard_key = None
    if shards is not None:
        if shards < 1:
            raise ValueError(f"shards must be >= 1, got {shards}")
        shard_key = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).alias(
            "pack_shard"
        )
        df = df.withColumn("pack_shard", shard_key)
        keys.append("pack_shard")
    # explicit ROWS frame: the orderBy default is RANGE, under which rows
    # tied on id_col would share one cumulative sum and overlap on the tape
    w = (
        Window.partitionBy(*keys)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(token_col).over(w) - F.col(token_col)
    out = [F.col(id_col)] + ([F.col(group_col)] if group_col else [])
    if shards is not None:
        out.append(F.col("pack_shard"))
    return df.select(
        *out,
        F.col(token_col).alias("n_tokens"),
        F.floor(start / max_len).alias("seq_id"),
        (start % max_len).alias("seq_offset"),
    )


def pack_token_tape(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    *,
    group_col: str | None = None,
    max_len: int = 2048,
    shards: int | None = None,
    boundaries: bool = False,
) -> DataFrame:
    """Materialize the packed training sequences themselves: documents'
    token-id arrays (``tokens_col``, e.g. ``bpe_encode_ids`` output), laid
    end-to-end in ``id_col`` order per tape and cut every ``max_len``
    tokens, are returned as one row PER SEQUENCE —
    ``(group…, [pack_shard,] seq_id, token_ids, n_tokens)``. This is the
    step after :func:`pack_sequences` (which only computes placements):
    what a dataloader actually consumes. Documents straddle cuts (pad-free
    GPT-style packing); every sequence is exactly ``max_len`` tokens except
    each tape's final tail. Empty and NULL token arrays contribute nothing
    to the tape and are dropped.

    Plan — expression code only, no UDF, no per-token explode:
    1. the same single windowed cumulative sum as :func:`pack_sequences`
       gives each document its tape ``start``;
    2. each document explodes into the 1 + ``n div max_len``-ish sequences
       it overlaps (almost always 1-2 rows), each carrying an
       ``F.slice`` of its token array — the shuffle payload stays one
       row per (document, sequence) pair, never one row per token;
    3. one keyed aggregate per ``(tape, seq_id)`` sorts the pieces by tape
       position and flattens them.
    ONE keyed exchange total (plan-pinned): the window's partitioning on
    the tape keys already co-locates the aggregate's (tape, seq_id) key
    (subset-key partitioning satisfies the superset clustering), so
    Catalyst reuses it and sequence assembly adds no second shuffle.
    ``shards=N`` is the corpus-wide scale path, exactly as in
    :func:`pack_sequences`; with neither ``group_col`` nor ``shards`` the
    single-tape RuntimeWarning applies.

    ``boundaries=True`` adds ``doc_starts``: the 0-based offsets WITHIN
    each sequence where a new document begins (same aggregate, no extra
    shuffle) — what a dataloader needs to build per-document attention
    masks over packed sequences. A sequence that only continues a
    straddling document has an empty ``doc_starts``.
    """
    import warnings

    from pyspark.sql.window import Window

    if group_col is None and shards is None:
        warnings.warn(
            "pack_token_tape(group_col=None, shards=None) packs the whole "
            "input through a single window partition — one task, no "
            "parallelism. Pass group_col and/or shards=N at scale.",
            RuntimeWarning,
            stacklevel=2,
        )
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    reserved = (
        {"n_tokens", "seq_id", "token_ids"}
        | ({"pack_shard"} if shards is not None else set())
        | ({"doc_starts"} if boundaries else set())
    )
    clash = reserved.intersection(
        {id_col, tokens_col} | ({group_col} if group_col else set())
    ) - ({tokens_col} if tokens_col == "token_ids" else set())
    # (tokens_col == "token_ids" is the one benign case — the encode
    # output feeding the tape directly; the input column is consumed and
    # re-emitted under that exact name, producing no duplicate)
    if clash:
        raise ValueError(
            f"column names clash with pack_token_tape output columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )
    keys = [group_col] if group_col else []
    if shards is not None:
        if shards < 1:
            raise ValueError(f"shards must be >= 1, got {shards}")
        df = df.withColumn(
            "pack_shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
        )
        keys.append("pack_shard")
    toks = F.col(tokens_col)
    n = F.size(toks).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = (
        df.filter(toks.isNotNull() & (F.size(toks) > 0))
        .select(
            *keys,
            toks.alias("_toks"),
            n.alias("_n"),
            (F.sum(n).over(w) - n).alias("_start"),
        )
    )
    L = F.lit(int(max_len)).cast("long")
    start, nn = F.col("_start"), F.col("_n")
    first_seq = F.expr(f"_start div {int(max_len)}")
    last_seq = F.expr(f"(_start + _n - 1) div {int(max_len)}")
    q = F.col("seq_id")
    piece_lo = F.greatest(start, q * L)  # global tape position, 0-based
    piece_hi = F.least(start + nn, (q + 1) * L)  # exclusive
    pieces = placed.select(
        *keys,
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
        "_toks", "_start", "_n",
    ).select(
        *keys,
        "seq_id",
        piece_lo.alias("_piece_start"),
        F.slice(
            F.col("_toks"),
            (piece_lo - start + 1).cast("int"),
            (piece_hi - piece_lo).cast("int"),
        ).alias("_piece"),
        # a piece opens a NEW document in this sequence iff it begins at
        # the document's own tape start (not at the sequence cut)
        (piece_lo == start).alias("_opens_doc"),
        (piece_lo - q * L).cast("int").alias("_local"),
    )
    assembled = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("_piece_start"), F.col("_piece"),
                F.col("_opens_doc"), F.col("_local"),
            )
        )
    )
    flat = F.flatten(F.transform(assembled, lambda s: s["_piece"]))
    aggs = [flat.alias("token_ids")]
    extra = []
    if boundaries:
        aggs.append(
            F.transform(
                F.filter(assembled, lambda s: s["_opens_doc"]),
                lambda s: s["_local"],
            ).alias("doc_starts")
        )
        extra = ["doc_starts"]
    return (
        pieces.groupBy(*keys, "seq_id")
        .agg(*aggs)
        .select(
            *keys, "seq_id", "token_ids",
            F.size("token_ids").alias("n_tokens"),
            *extra,
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    lam: float = 0.9,
    lam_unigram: float | None = None,
) -> DataFrame:
    """Corpus-adaptive BIGRAM fluency score: each document's mean
    interpolated bigram log-probability under the corpus' own statistics
    — one rung up from :func:`unigram_logprob` toward the CCNet-style
    KenLM perplexity filter: word-salad documents whose words are all
    individually common (spam keyword stuffing) score high on unigrams
    but collapse here, because their TRANSITIONS are rare.

    ``p(b|a) = λ·c(ab)/c(a·) + (1−λ)·c(b)/T`` — maximum-likelihood bigram
    interpolated with the unigram distribution (the standard Jelinek-
    Mercer backoff; unseen corpus bigrams can't occur since the model is
    fit on the same corpus, but the interpolation still damps one-off
    transitions). ``c(a·)`` is the left-context total (= Σ_b c(ab)),
    derived from the bigram table itself, not a second corpus pass.

    Shape: one bigram-keyed aggregate over the corpus (the corpus-scale
    shuffle; Zipf-hot pairs are AQE's problem, same posture as the
    unigram pass), a context rollup and the unigram table (both
    vocabulary-sized), a probability table re-joined to the exploded
    bigrams (NOT hint-broadcast — a web-scale bigram vocabulary outgrows
    any threshold; AQE broadcasts it while it measures small), and one
    doc-keyed aggregate. Documents under 2 tokens have no transitions
    and drop from the output (pinned by test).

    Hash-stable: every count is an exact integer, the interpolation is
    evaluated with identical association on both engines, ln of the
    identical double is within 1 ulp cross-engine (absorbed by the 6dp
    snap away from grid boundaries — margin canary-checked in
    tests/test_queries_oracle.py), each term snaps to the 6dp grid, and
    the per-document mean sums the grid points as DECIMAL.

    ``lam_unigram`` is the unigram interpolation weight as an EXPLICIT
    double (default ``1.0 - lam`` computed in Python). An oracle that
    writes the complement as a literal (``0.1``) must pass the same
    literal here: ``1.0 - 0.9`` is ``0.09999999999999998``, one ulp off
    the literal ``0.1``, and the two doubles feed ``ln()`` — a
    grid-boundary landing would hash-diverge.
    """
    if lam_unigram is None:
        lam_unigram = 1.0 - lam
    pairs = F.expr(
        "CASE WHEN size(_w) > 1 THEN "
        "transform(sequence(1, size(_w) - 1), "
        "i -> struct(_w[i - 1] AS a, _w[i] AS b)) "
        "ELSE array() END"
    )
    tp = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
        .select(F.col(id_col), F.explode(pairs).alias("_p"))
        .select(F.col(id_col), F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )
    big = tp.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ctx = big.groupBy("a").agg(F.sum("cab").alias("ca"))
    uni = (
        df.select(F.explode(tokens(F.col(text_col))).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cb"))
    )
    tot = uni.agg(F.sum("cb").alias("t_tokens"))
    p = (
        F.lit(lam) * (F.col("cab") / F.col("ca"))
        + F.lit(lam_unigram) * (F.col("cb") / F.col("t_tokens"))
    )
    lp = big.join(ctx, "a").join(uni, "b").join(F.broadcast(tot)).select(
        "a", "b", fround(F.log(p), 6).alias("_lp")
    )
    lp6 = F.col("_lp").cast("decimal(28,6)")
    return (
        tp.join(lp, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(lp6).cast("double").alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            fround(F.col("_s") / F.col("n_bigrams"), 6).alias("avg_logprob"),
        )
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-adaptive fluency score: each document's mean unigram
    log-probability under the corpus' own empirical word distribution —
    the cheap stand-in for the LM-perplexity filters (CCNet-style) used to
    rank pretraining text. Low scores = rare-word soup / gibberish;
    suspiciously high = boilerplate.

    Two passes, honestly: (1) global word frequencies (one shuffle on the
    word — vocabulary-sized output, Zipf-bounded), normalized by a 1-row
    total joined as a broadcast; (2) tokens re-joined to the frequency
    table and re-aggregated per document (one shuffle on the id). The
    frequency-table join is deliberately NOT hint-broadcast: a 10M-type
    vocabulary is ~100 MB and AQE will broadcast it from its measured
    runtime size, but a web-scale vocabulary (typos, URLs, code
    identifiers) grows without bound — when it outgrows the threshold the
    join degrades to a shuffled join whose Zipf-hot words ("the") AQE
    skew-splits, instead of a forced-broadcast driver OOM.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_w"))
    freq = tok.groupBy("_w").agg(F.count("*").alias("_cnt"))
    # total-token normalizer: a 1-row aggregate broadcast onto the freq
    # table (a global window would funnel the whole vocabulary through a
    # single window task just to repeat one number)
    total = freq.agg(F.sum("_cnt").alias("_total"))
    freq = freq.join(F.broadcast(total))
    scored = tok.join(
        freq.withColumn("_logp", F.log(F.col("_cnt") / F.col("_total"))),
        "_w",
    )
    # avg of raw doubles is partition-order-dependent; snap each token's
    # logp onto the 6dp grid (fround — ln of the same double is within
    # 1 ulp cross-engine, which the snap absorbs away from grid
    # boundaries; margin canary-checked in tests/test_queries_oracle.py),
    # sum exactly as DECIMAL, divide once, snap again.
    lp6 = fround("_logp", 6).cast("decimal(28,6)")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(lp6).cast("double").alias("_lpsum"),
        )
        .select(
            id_col,
            "n_tokens",
            fround(F.col("_lpsum") / F.col("n_tokens"), 6).alias("avg_logprob"),
        )
    )


def sql_temperature_pow(nat_expr: str, alpha: float) -> str:
    """DuckDB fragment replaying :func:`temperature_rates`'s grid-snapped
    ``nat^alpha`` chain in INTEGER MICROS — generated from the same alpha
    the operator computes with, so the two derivations cannot fork
    silently (single-definition rule; see the pow-parity comment in
    temperature_rates for why pow() itself is never called)."""
    a = repr(float(alpha))
    return (
        f"CAST(floor(exp({a} * (floor(ln({nat_expr}) * 1000000.0 + 0.5)"
        f" / 1000000.0)) * 1000000.0 + 0.5) AS BIGINT)"
    )


def temperature_rates(
    df: DataFrame, strata_col: str, alpha: float = 0.7
) -> DataFrame:
    """Temperature-scaled sampling shares per stratum — the standard
    multilingual mixing rule: sampling share ∝ (natural share)^alpha, so
    alpha < 1 upweights low-resource strata and alpha = 1 keeps natural
    proportions. Output per stratum: count, natural share, temperature
    share, and the boost factor a sampler should apply
    (feed ``boost × base_rate`` into :func:`stratified_sample
    <mare_spark.operators.text.stratified_sample>`).

    One groupBy over the corpus; every window below runs over the
    stratum-sized grouped table, not the corpus."""
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    g = df.groupBy(strata_col).agg(F.count("*").alias("n"))
    nat = F.col("n") / F.sum("n").over(w)
    # pow-parity convention (r9): Java Math.pow is 1-ulp, not correctly
    # rounded, and DuckDB's pow has no pinned relationship to it — so
    # nat^alpha is computed as the grid-snapped exp(alpha·ln(nat)) chain
    # instead. Each libm call (ln, exp) is followed by a 6dp snap that
    # absorbs 1-ulp cross-engine drift (margin canary-checked in
    # tests/test_queries_oracle.py); every other step is single IEEE ops
    # on bit-identical inputs. The snapped exp lands in INTEGER MICROS
    # (floor → long) so the share denominator is an exact integer sum —
    # order-independent with no decimal→double double-rounding hazard.
    # The oracle replays the identical chain via sql_temperature_pow().
    ln_nat = fround(F.ln(nat), 6)
    p_micro = F.floor(
        F.exp(F.lit(float(alpha)) * ln_nat) * F.lit(1e6) + F.lit(0.5)
    )
    temp = p_micro.cast("double") / F.sum(p_micro).over(w).cast("double")
    return g.select(
        F.col(strata_col),
        F.col("n"),
        fround(nat, 6).alias("natural_share"),
        fround(temp, 6).alias("temperature_share"),
        fround(temp / nat, 6).alias("boost"),
    )


def apply_mixture_sampling(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.7,
    base_rate: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Materialize a temperature-mixed sample: compute per-stratum
    temperature boosts (:func:`temperature_rates`), turn them into keep
    rates (``min(boost * base_rate, 1)``), and keep each row iff its
    deterministic md5-uniform (:func:`mare_spark.operators.text.
    deterministic_uniform`) falls under its stratum's rate. The composed
    form of the two primitives — the step that actually produces the
    upweighted multilingual corpus.

    Scale/determinism: two scans of the corpus (one count aggregate for
    the rates, one sampling scan), never a shuffle of the data — the rate
    table is strata-sized and broadcast. Membership is a pure function of
    (key, salt, rates); rates use the 6dp-rounded boost so both engines
    compare the same grid value and the sampled set is oracle-checkable
    and re-derivable months later.

    NULL strata are dropped BEFORE the rate computation: a non-null-safe
    join would drop their rows from the output anyway, but leaving them
    in the denominator would silently down-weight every real stratum by
    a phantom share (label your unknowns explicitly to keep them).
    """
    from mare_spark.operators.text import deterministic_uniform

    df = df.filter(F.col(strata_col).isNotNull())
    rates = temperature_rates(df, strata_col, alpha).select(
        strata_col,
        F.least(F.col("boost") * F.lit(float(base_rate)), F.lit(1.0)).alias(
            "rate"
        ),
    )
    u = deterministic_uniform(F.col(key_col), salt)
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(u < F.col("rate"))
        .select(key_col, strata_col, "rate")
    )


def write_packed_corpus(
    df: DataFrame,
    path: str,
    text_col: str,
    token_col: str,
    id_col: str,
    *,
    group_col: str | None = None,
    max_len: int = 2048,
    seqs_per_shard: int = 1024,
) -> None:
    """Materialize a training corpus as packed parquet shards: documents
    get their :func:`pack_sequences` tape position, then land in files
    partitioned by ``shard = seq_id // seqs_per_shard`` (and the group) —
    so a trainer streams shard directories in order and every shard holds
    a contiguous, deterministic slice of the token tape.

    The write itself shuffles nothing beyond packing's single group-key
    exchange; partition pruning on ``shard`` gives resumable training —
    with one boundary caveat: a document STRADDLING a shard boundary is
    stored under the shard of its FIRST token, so resuming at shard k
    must also read the final document row of shard k-1 to reconstruct
    shard k's opening sequence (one extra row per boundary, not a scan);
    materialized tapes (`pack_token_tape` + `export_token_tapes`) avoid
    the caveat entirely because sequences, not documents, are the rows.
    """
    reserved = {"shard", "n_tokens", "seq_id", "seq_offset"}
    clash = reserved.intersection(
        {text_col, token_col, id_col} | ({group_col} if group_col else set())
    ) - {token_col if token_col == "n_tokens" else ""}
    if clash:
        raise ValueError(
            f"column names clash with write_packed_corpus output columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )
    packed = pack_sequences(
        df, token_col, id_col, group_col=group_col, max_len=max_len
    )
    keys = [group_col] if group_col else []
    out = (
        packed.join(df.select(id_col, text_col), id_col)
        .withColumn("shard", (F.col("seq_id") / seqs_per_shard).cast("long"))
        .select(*keys, "shard", id_col, "n_tokens", "seq_id", "seq_offset",
                text_col)
    )
    out.write.mode("overwrite").partitionBy(*keys, "shard").parquet(path)


def _check_scrub_columns(
    op: str, id_col: str, text_col: str, keep_cols: tuple[str, ...]
) -> None:
    reserved = {
        "clean_text", "n_chunks", "n_chunks_removed",
        "chunk", "chunk_idx", "chunk_h",
    }
    clash = reserved.intersection({id_col, text_col, *keep_cols})
    if clash:
        raise ValueError(
            f"column names clash with {op} output/internal columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )


def repeated_chunk_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_words: int = 8,
    max_freq: int = 2,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-level boilerplate removal, the chunk analog of CCNet /
    RefinedWeb line-wise dedup: split every document into non-overlapping
    ``chunk_words``-word chunks, count each chunk's corpus-wide frequency
    (by md5 — fixed-width keys, never chunk text), drop every chunk that
    appears more than ``max_freq`` times anywhere in the corpus, and
    reassemble the surviving chunks in document order.

    This removes the *shared* boilerplate (cookie banners, license
    headers, navigation chrome) that document-level near-dup passes keep:
    two documents that each embed the same banner are not near-duplicates
    of each other, but the banner chunk itself is corpus-frequent.

    Returns one row per input document (documents whose every chunk is
    boilerplate survive with ``clean_text = ''``):
    ``(id, *keep_cols, clean_text, n_chunks, n_chunks_removed)``.

    Scale: explode is a narrow flatMap; the corpus-wide chunk frequency
    is a partial-combined aggregate over the 128-bit digest, whose
    ``> max_freq`` HEAD — exactly the boilerplate set, and the Zipf head
    of the digest distribution — left-joins back as a per-chunk flag (AQE
    broadcasts it when it fits, skew-splits the probe otherwise);
    reassembly is one groupBy on the document id. Repeated chunks are by
    definition frequency outliers, so anything that funnels a hot
    digest's rows into one task (e.g. a count window over the digest)
    would bottleneck on precisely the chunks this operator exists to
    remove. No text comparison ever happens — chunk equality is digest
    equality, exactly like exact_dedup; nothing is collected.

    Documents with NULL text tokenize to NULL and drop on both engines
    (same contract as the digest/fingerprint ops).
    """
    from mare_spark.operators.dedup import _fan_out

    _check_scrub_columns("repeated_chunk_scrub", id_col, text_col, keep_cols)
    # fan out a narrow scan before the (CodegenFallback, interpreted)
    # chunk transform — it feeds BOTH the frequency branch and the join
    # probe (r9 measured: 1.24 s single-partition vs 0.57 s fanned at
    # sf0.1); no-op on an at-scale wide scan
    ex = _chunk_explode(_fan_out(df), text_col, id_col, chunk_words, keep_cols)
    ex = ex.withColumn("chunk_h", F.md5("chunk"))
    # Boilerplate flagging via the hot-digest HEAD set: repeated chunks
    # are BY DEFINITION the Zipf head (a newsletter footer repeated 10M
    # times), so a count window over chunk_h would funnel all 10M rows —
    # chunk text included — into one un-splittable task. Instead the
    # frequency aggregate partial-combines hot digests map-side, the
    # >max_freq head (exactly the boilerplate set, ≤ N/max_freq digests)
    # left-joins back as a flag — AQE broadcasts it when it fits, skew-
    # splits the probe otherwise — and reassembly stays the one groupBy on
    # the document id. The exploded table is never exchanged on the digest
    # at all when the head broadcasts: one wide shuffle total (the
    # reassembly), vs two for the window form.
    hot = (
        ex.select("chunk_h").groupBy("chunk_h")
        .agg(F.count("*").alias("chunk_freq"))
        .filter(F.col("chunk_freq") > max_freq)
        .withColumn("_hot", F.lit(True))
    )
    ex = ex.join(hot, "chunk_h", "left")
    keep = F.col("_hot").isNull()
    return _chunk_reassemble(ex, id_col, keep_cols, keep)


def _chunk_explode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_words: int,
    keep_cols: tuple[str, ...],
) -> DataFrame:
    """(id, *keep_cols, chunk_idx, chunk) — non-overlapping aligned
    ``chunk_words``-word chunks, shared by both scrub tiers.

    Expression tier KEPT deliberately (r9 optimization pass): an
    Arrow-batched pandas-UDF chunker was built and interleave-benched
    against this shape — the UDF variant was ~0.4 s/invocation SLOWER on
    the noop-sink bench (old 1.28 s vs new 1.79 s min-of-6, persist
    variants worse still): the chunk strings are corpus-sized, so the
    JVM→Python→JVM Arrow round-trip of text-out/chunks-back (twice — the
    explode feeds both the frequency branch and the reassembly join)
    costs more than the interpreted higher-order eval it replaced. The
    earlier "39.5 s summed executor time" reading that motivated the UDF
    was executorRunTime under host contention (wait, not CPU) — the
    §1.4/§1.1 lesson: trust the interleaved A/B, not a loaded-host
    stage profile.
    """
    w = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(w, i * chunk_words + 1, chunk_words)
        ),
    )
    # size(w) >= 1 always for non-NULL text (split('') = ['']), so the
    # sequence never runs start > stop (which would count DOWN and
    # fabricate phantom chunks — same guard rationale as word_ngrams).
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )


def _chunk_reassemble(
    flagged: DataFrame,
    id_col: str,
    keep_cols: tuple[str, ...],
    keep: Column,
) -> DataFrame:
    """Reassemble surviving chunks in document order; one groupBy on the
    document id (shared by both scrub tiers)."""
    return flagged.groupBy(id_col, *keep_cols).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    # collect_list skips NULLs: removed chunks simply
                    # don't enter the reassembly array.
                    F.collect_list(
                        F.when(keep, F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_chunks"),
        F.sum((~keep).cast("long")).alias("n_chunks_removed"),
    )


def repeated_chunk_scrub_cms(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_words: int = 8,
    max_freq: int = 2,
    width_bits: int = 16,
    depth: int = 4,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sketch-tier boilerplate scrub — :func:`repeated_chunk_scrub` with
    the chunk-frequency question answered by a count-min sketch instead
    of an aggregate + join. The exact tier's frequency table is as large
    as the corpus' distinct-chunk set and costs two keyed exchanges; this
    tier's frequency state is a fixed (depth × 2^width_bits) counter
    table built with ZERO shuffles (per-partition partials merged on the
    driver, broadcast back for an Arrow-batched probe), so the only
    remaining exchange is the per-document reassembly.

    Semantics: CMS estimates never underestimate, so a corpus-frequent
    chunk can NEVER survive; a rare chunk may (with probability
    ≈ (1/2)^depth at adequate width) collide upward and be scrubbed too
    eagerly. Removals are therefore a superset of the exact tier's —
    equal whenever the sketch is wide relative to the distinct-chunk
    count. Size the width at ~2× expected distinct chunks per 1 count of
    acceptable error (see operators.sketches).
    """
    from pyspark import StorageLevel

    from mare_spark.cache import persist
    from mare_spark.operators.sketches import build_cms, cms_probe_expr

    _check_scrub_columns(
        "repeated_chunk_scrub_cms", id_col, text_col, keep_cols
    )
    from mare_spark.operators.dedup import _fan_out

    # same narrow-scan fan-out rationale as repeated_chunk_scrub
    ex = _chunk_explode(_fan_out(df), text_col, id_col, chunk_words, keep_cols)
    # the expansion feeds TWO jobs (sketch build, then probe/reassembly);
    # without the persist the full tokenize+chunk+hash scan runs twice
    ex = persist(
        ex.withColumn("chunk_h", F.xxhash64("chunk")),
        StorageLevel.MEMORY_AND_DISK,
    )
    sketch = build_cms(ex, "chunk_h", width_bits=width_bits, depth=depth)
    flagged = ex.withColumn(
        "chunk_freq_est", cms_probe_expr(F.col("chunk_h"), sketch)
    )
    keep = F.col("chunk_freq_est") <= max_freq
    # the sketch broadcast lives in the caller's cache scope like the
    # expansion — repeated scrubs in one session must not accumulate
    # pinned 2+ MB sketch copies
    persist(sketch.spark_broadcast(df.sparkSession))
    return _chunk_reassemble(flagged, id_col, keep_cols, keep)


# Knuth multiplicative constant for the hashed classifier's synthetic
# weights — ONE definition shared by the classifier and the SQL fragment
# generator below, so the oracle carries no hand-copied twin.
_KNUTH = 2654435761


def sql_classifier_weight(token_expr: str, *, buckets: int,
                          weight_scale: int) -> str:
    """DuckDB fragment replaying hashed_quality_classifier's per-token
    weight — generated from the same constants the operator computes
    with, so the derivations cannot fork silently."""
    return (
        f"((CAST(('0x' || substring(md5({token_expr}), 1, 8)) AS BIGINT)"
        f" % {buckets}) * {_KNUTH})"
        f" % {2 * weight_scale + 1} - {weight_scale}"
    )


def hashed_quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    keep_cols: tuple[str, ...] = (),
    buckets: int = 4096,
    weight_scale: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Model-based quality scoring: a hashed bag-of-words linear
    classifier — the fastText-style stand-in that completes the quality
    triad (rule gates = quality_gates, LM score = unigram_logprob,
    classifier = this). A real deployment broadcasts trained weights; the
    container has no model artifacts, so weights come from a deterministic
    integer hash of the bucket id — the *plumbing* (hash → bucket →
    weight lookup → mean → gate) is the production shape, and the scoring
    is engine-exact so the oracle can replay it.

    Per token: ``bucket = md5_32(token) % buckets`` (the established
    md5→int parity pattern, see text.stratified_sample), ``weight =
    (bucket * 2654435761) % (2*scale+1) - scale`` — integers in
    [-scale, scale], Knuth-multiplicative so neighboring buckets get
    uncorrelated signs. Document score = integer weight sum / (scale ·
    n_tokens) as ONE double division, 6dp grid-snapped (fround) —
    order-independent and hash-stable. ``keep_flag`` = score >= threshold
    (0/1 int).

    Scale: zero shuffle, zero shuffle-side Python — a single pass over
    whatever scan precedes it. The scoring Project itself runs
    INTERPRETED (``F.aggregate`` and every higher-order function is
    CodegenFallback in Spark, so it cannot join a WholeStageCodegen
    stage — plan-pinned in tests/test_plans.py).
    The weight sum is a left fold (F.aggregate) in exact int64: |sum| <=
    scale · n_tokens, overflow needs a 9-petatoken document.
    """
    w = tokens(F.col(text_col))
    modulus = 2 * weight_scale + 1

    def weight(tok: Column) -> Column:
        b = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % buckets
        return (b * F.lit(_KNUTH)) % modulus - weight_scale

    score_int = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, t: acc + weight(t)
    )
    n = F.size(w)
    score = fround(
        score_int.cast("double") / (F.lit(float(weight_scale)) * n), 6
    )
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        n.alias("n_tokens"),
        score.alias("quality_score"),
        (score >= threshold).cast("int").alias("keep_flag"),
    )


def group_fixed_k_sample(
    df: DataFrame,
    id_col: str,
    *,
    group_col: str,
    k: int,
    salt: str = "",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic fixed-size sample: exactly min(k, group size) rows
    per group, chosen by md5 order of the key — the eval-subset /
    per-language-probe primitive. Unlike rate-based sampling
    (stratified_sample) the output SIZE is exact, and unlike
    ``df.sample`` the membership is a pure function of (key, salt):
    reproducible across runs, clusters, and engines.

    Scale: one shuffle on the group key + a per-group top-k window; rank
    order is the md5 hex string (unique keys → tie-free), so both
    engines agree on the exact row set. The ``row_number() <= k`` filter
    triggers Catalyst's two-phase ``WindowGroupLimit`` (CI-pinned): every
    map task keeps at most k rows per group BEFORE the exchange, so the
    shuffle carries ≤ k·tasks rows per group and the final window task
    never sees a whole group — a corpus-sized language is NOT a
    single-task sort here.
    """
    from pyspark.sql import Window

    if "sample_rank" in {id_col, group_col, *keep_cols}:
        raise ValueError(
            "column names clash with group_fixed_k_sample's output "
            "column 'sample_rank'"
        )
    ordkey = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(ordkey)
    return (
        df.select(
            id_col, group_col, *keep_cols,
            F.row_number().over(w).alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= k)
    )


def token_budget_sample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    group_col: str,
    budget_tokens: int,
    salt: str = "",
    shards: int | None = None,
) -> DataFrame:
    """Exact-budget subset builder: walk each group's documents in
    deterministic md5 order, accumulating token counts, and keep every
    document that STARTS before the budget is exhausted — the "give me a
    10B-token mix at these proportions" primitive behind every
    pretraining data recipe. The kept set is deterministic, join-stable,
    and slightly overshoots the budget by at most one document per group
    (the standard contract — trainers truncate the tape, samplers
    shouldn't split documents).

    Returns ``(id, group, n_tokens, cum_tokens)`` for kept documents,
    where ``cum_tokens`` is the running total INCLUDING the row.

    Scale: one shuffle on the group key + one windowed cumulative sum —
    identical cost to pack_sequences. A cumulative sum cannot be
    group-limited the way the fixed-k sampler's ``row_number() <= k``
    can, so each group IS one window task; for corpus-sized groups pass
    ``shards=N`` (the same scale dial as pack_sequences): documents
    split deterministically into N md5-keyed shards, each walking
    ``budget/N`` tokens independently — N-way parallel, still a pure
    function of (key, salt), total ≈ budget with overshoot ≤ one
    document per (group, shard). The sharded KEPT SET differs from the
    unsharded one (N independent prefixes, not one global prefix) —
    both are valid deterministic samples; pick per pipeline and keep it.
    """
    from pyspark.sql import Window

    from mare_spark.operators.text import token_count

    ordkey = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    t = df.select(
        id_col, group_col,
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    part_cols: list = [group_col]
    budget_per_walk = budget_tokens
    if shards is not None:
        if shards < 1:
            raise ValueError("shards must be >= 1")
        t = t.withColumn(
            "budget_shard", F.pmod(F.xxhash64(F.col(id_col), F.lit(salt)), F.lit(shards))
        )
        part_cols.append("budget_shard")
        budget_per_walk = budget_tokens / shards
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(ordkey)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return c.filter(
        F.col("cum_tokens") - F.col("n_tokens") < F.lit(budget_per_walk)
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dataset-version diff: classify every document id across two corpus
    snapshots as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    comparing normalized-text digests — the audit a team runs between
    iterative dataset builds before retraining ("what actually moved?").

    Returns ``(id, change)``; join back to either snapshot for the
    payloads of a given class.

    Scale: each side reduces to (id, 128-bit digest) scan-side; the diff
    is ONE full outer join on the id — fixed-width keys, no text ever
    shuffles. Compare-by-digest makes the 100 TB diff cost two scans plus
    one keyed exchange, the same shape as exact_dedup.
    """
    from mare_spark.operators.dedup import normalize_text

    # presence is decided by ID membership, not digest nullity — a doc with
    # NULL text (NULL digest) present in both snapshots must classify by
    # the null-safe digest comparison, not masquerade as added/removed
    o = old_df.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("_od"),
        F.lit(1).alias("_op"),
    )
    n = new_df.select(
        F.col(id_col),
        F.md5(normalize_text(F.col(text_col))).alias("_nd"),
        F.lit(1).alias("_np"),
    )
    j = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("_op").isNull(), F.lit("added"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        .when(~F.col("_od").eqNullSafe(F.col("_nd")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(id_col), change.alias("change"))


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: int,
    epoch: int = 0,
    salt: str = "",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global training-order assignment: every row gets a
    ``(shard, position)`` such that reading shards in order, each sorted
    by position, replays one full epoch in a pseudo-random order that is
    a pure function of ``(key, epoch, salt)`` — the reproducible
    corpus-shuffle primitive a training pipeline needs per epoch.
    ``rand()``-based shuffles can't give this: their draw depends on
    partition layout, so a re-materialized corpus trains in a different
    order (and resuming mid-epoch becomes unreplayable).

    Mechanics: ``ord = md5(key:epoch:salt)`` (engine-identical lowercase
    hex, the registry-wide sampler convention); the shard is the first 15
    hex digits (60 bits — a 4-digit prefix would fold the keyspace to
    65536 values, a ~17% shard-size spread at 10k shards and empty shards
    above 65536) taken mod ``n_shards`` — so shard membership ALSO
    reshuffles every epoch, keeping any shard-level parallel reader
    balanced — and the position is ``row_number()`` over the shard
    ordered by the full hash (key appended as a tie-guard: full-hash
    ties are broken by the unique key).

    Scale: one hash exchange on shard + an independent per-shard sort —
    embarrassingly parallel across shards, so pick ``n_shards`` at least
    the cluster's task width (a 100 TB corpus at 10k shards sorts ~10 GB
    per task). The full-corpus total order nobody can afford is exactly
    what this avoids: training readers only ever need per-shard order.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    reserved = {"_ord", "shard", "position"}
    clash = reserved.intersection({id_col, *keep_cols})
    if clash:
        raise ValueError(
            f"id_col/keep_cols clash with epoch_shuffle output columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )
    ordkey = F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"),
                    F.lit(str(epoch)), F.lit(salt))
    )
    shard = F.pmod(
        F.conv(F.substring(ordkey, 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        # NULL ids are EXCLUDED: a row without a key has no replayable
        # training-order address (concat_ws would silently hash the bare
        # 'epoch:salt' string for every such row — colliding orders and
        # diverging from NULL-propagating SQL replays; r8 review)
        df.filter(F.col(id_col).isNotNull())
        .select(
            id_col, *keep_cols,
            ordkey.alias("_ord"), shard.alias("shard"),
        )
        .withColumn("position", F.row_number().over(w))
        .drop("_ord")
    )


def intra_doc_chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_words: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """WITHIN-document repetition removal, the per-doc complement of
    :func:`repeated_chunk_scrub`: split each document into the same
    non-overlapping aligned ``chunk_words``-word chunks and keep only the
    FIRST occurrence of each distinct chunk inside that document
    (generated/scraped text repeats its own paragraphs; corpus-level
    frequency never sees a chunk that is unique globally but repeated
    locally). Returns one row per NON-NULL-text document:
    ``(id, *keep_cols, clean_text, n_chunks, n_chunks_removed)`` — the
    same contract as the corpus-level scrub tiers, including the
    NULL-text drop (the scrub tiers' posexplode silently drops those
    rows; this op filters them explicitly so tier swaps conserve rows).

    Scale: a pure per-row expression (transform + indexed filter +
    array_position) — zero shuffle, zero UDF, fuses into the scan. The
    first-occurrence test is O(chunks²) per document, bounded by the
    document length itself (a 10k-word doc is ~1.2k chunks), not by the
    corpus.
    """
    from mare_spark.operators.text import tokens

    w = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(w, i * chunk_words + 1, chunk_words)
        ),
    )
    kept = F.filter(
        chunks,
        lambda c, i: F.array_position(chunks, c) == i + 1,
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(chunks).alias("n_chunks"),
        (F.size(chunks) - F.size(kept)).alias("n_chunks_removed"),
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str,
    *,
    breaks: tuple[float, ...],
    n_shards: int,
    epoch: int = 0,
    salt: str = "",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Curriculum training order: documents are staged by quality score
    against FIXED ``breaks`` (stage = how many breaks the score clears,
    ascending — a loader reads stage 0 first, the highest stage last),
    and WITHIN each stage the order is the deterministic epoch shuffle
    (md5(key:epoch:salt), 60-bit shard, per-shard positions). Output:
    ``(id, *keep_cols, stage, shard, position)`` — replay stage-major,
    then shard, then position.

    Fixed breaks, not percentiles, on purpose: percentile boundaries
    move as the corpus grows (and engines interpolate them differently),
    while literal thresholds keep the stage a pure function of the row —
    reproducible, resumable, and SQL-replayable. Compute breaks once
    from `analysis`/`quantile_sketch_table` reads and pin them in the
    pipeline config.

    Scale: stage assignment is scan-side arithmetic; the only exchange
    is epoch_shuffle's hash exchange, keyed on (stage, shard) — per-task
    work is one shard of one stage, never a stage-wide sort.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not breaks:
        raise ValueError(
            "breaks must be non-empty — a curriculum with no stage "
            "boundary is epoch_shuffle; call that directly"
        )
    if list(breaks) != sorted(breaks):
        raise ValueError(f"breaks must be ascending, got {breaks}")
    reserved = {"_ord", "stage", "shard", "position"}
    clash = reserved.intersection({id_col, score_col, *keep_cols})
    if clash:
        raise ValueError(
            f"columns clash with curriculum_order output columns: "
            f"{sorted(clash)} (reserved: {sorted(reserved)})"
        )
    stage = sum(
        (F.col(score_col) >= F.lit(float(b))).cast("int") for b in breaks
    )
    ordkey = F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"),
                    F.lit(str(epoch)), F.lit(salt))
    )
    shard = F.pmod(
        F.conv(F.substring(ordkey, 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    w = Window.partitionBy("stage", "shard").orderBy("_ord", id_col)
    return (
        df.select(
            id_col, *keep_cols,
            stage.alias("stage"),
            ordkey.alias("_ord"), shard.alias("shard"),
        )
        .withColumn("position", F.row_number().over(w))
        .drop("_ord")
    )
