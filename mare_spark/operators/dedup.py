"""Deduplication operators for large text corpora.

Five tiers, all shuffle-disciplined for the 100 TB case:

* :func:`exact_dedup` — hash-groupBy on a normalized digest. One shuffle on
  the digest; no row ever meets a non-identical row.
* :func:`ngram_jaccard_pairs` — exact Jaccard over word n-gram shingles via
  an inverted-index self-join (explode → join on shingle → count). Cost is
  bounded by shingle-bucket sizes, not |corpus|²; a frequency cap drops
  stop-shingles that would create quadratic buckets.
* :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH. The scale
  path: candidate generation touches only same-band-bucket pairs; signature
  math is one Arrow-batched numpy pass (the shared token-combine shingle
  hashes of :func:`_doc_gram_hashes` + universal hashing).
* :func:`simhash_pairs` — 64-bit SimHash with chunk-banding for candidate
  generation + popcount verify (Hamming ≤ k).
* :func:`embedding_cosine_pairs` — near-dup by embedding cosine; brute
  self-join above a threshold (exact, for modest N) — the LSH-bucketed scale
  variant lives in :mod:`mare_spark.operators.similarity`.

ANSI-mode note (Spark 4 default): all hash arithmetic is constructed to fit
in 63 bits (31-bit hashes × 31-bit multipliers, MinHash permutations mod the
universe-sized prime 2^31-1), so no overflow errors and no need to disable
ANSI.
"""

from __future__ import annotations

import logging
import random
import re
from functools import lru_cache, reduce

# whitespace-run collapse shared by the UDF shingle path — must mirror
# normalize_text EXACTLY: Java \s (Spark) and RE2 \s (DuckDB oracle) are
# ASCII-only, while Python \s is Unicode by default — re.ASCII restricts
# it to [ \t\n\r\f\v], the same set Java matches. A non-breaking space
# must stay inside a token on every engine or the UDF tiers' shingle sets
# diverge from the expression tier and the oracles.
_WS_RE = re.compile(r"\s+", re.ASCII)
_ASCII_WS = " \t\n\r\f\v"

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_log = logging.getLogger("mare_spark.dedup")

from mare_spark.cache import materialize, release_caches  # noqa: F401
from mare_spark.numeric import fround

# Mersenne prime 2^31 - 1 — the MinHash permutation modulus. It must match
# the 31-bit base-hash universe: with a modulus far above the universe
# (2^61-1 was used initially), a*h+b wraps at most once, so for every
# a < 2^30 the "permutation" is monotone in h and deterministically picks
# the smallest base hash — half the permutations carry no randomness and
# signature agreement collapses below the Jaccard it should estimate.
_MERSENNE31 = (1 << 31) - 1


def py_tokens(t):
    """THE Python-side tokenizer — the single implementation every
    UDF-tier consumer must call (shingle hashing, MinHash, token stats,
    n-gram counting). Mirrors :func:`normalize_text` byte-for-byte:
    ASCII-whitespace collapse + strip + lower + split on single spaces,
    so UDF-tier counts hash-match the ``string_split`` SQL oracles."""
    return _WS_RE.sub(" ", (t or "").strip(_ASCII_WS).lower()).split(" ")


# The per-WORKER token hash cache behind every Python-side gram hash
# (:func:`_gram_hashes`). A dict carried in a UDF closure is deserialized
# per task, so each task would restart its warm-up from zero and several
# operators in one pipeline would each hold their own copy. UDF bodies
# therefore reach the kernels as ATTRIBUTES of the imported module
# (``import mare_spark.operators.dedup as _D; _D._doc_gram_hashes``), NOT
# as bare globals: cloudpickle pickles a nested function's bare-global
# dict references by VALUE, giving every task its own snapshot copy,
# while the module import resolves to the worker process's ONE dict. A
# reused Python worker (``spark.python.worker.reuse``, default true) thus
# keeps one warm cache across batches, tasks, operators and queries.
# Overflow evicts the oldest HALF (insertion order ≈ first-seen order;
# the Zipf head re-enters on the next batch) instead of clear()ing.
# Values are pure functions of the key, so staleness cannot exist.
_TOKEN_HASH_CACHE: dict = {}  # token -> blake2b-8 ("big", unsigned)

# Cache entry cap. ~200 B/entry (short-token key + int + dict slot),
# so 1M entries bound the cache near ~200 MB per worker — sized for the
# default spark.executor.pyspark/memoryOverhead headroom.
_HASH_CACHE_CAP = 1_000_000

# Cell budget for the MinHash affine signature grid (num_perm × grams
# uint64 — see _minhash_base_udf): 32M cells ≈ 256 MB per in-flight
# grid per worker. Arrow's maxRecordsPerBatch caps rows, not grams/row,
# so without this a batch of long documents can demand a multi-GB grid.
_MH_GRID_ELEMS = 32_000_000


def _hash_cache_room(cache: dict) -> None:
    """Bound ``cache`` to ``_HASH_CACHE_CAP`` entries by evicting the
    OLDEST half on overflow (dicts preserve insertion order) — the warm
    Zipf head survives, unlike the old full ``clear()``."""
    if len(cache) > _HASH_CACHE_CAP:
        from itertools import islice

        for k in list(islice(iter(cache), len(cache) // 2)):
            del cache[k]


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread expression-heavy per-row work across all cores when the scan
    produced fewer partitions than the cluster has slots (small files →
    1 task → single-threaded shingling). No-op when the input is already
    wide — never adds a shuffle to an at-scale corpus scan.

    The width question is answered from the scan-size hint read_table
    attaches (one stat/scandir — bytes AND file count, so
    directory-shaped tables are sized by their part files, not the ~4 KB
    directory inode) when present: ``df.rdd.getNumPartitions()`` costs a
    throwaway physical-planning pass (~130 ms per fresh DataFrame,
    measured) that the bench paid once per operator invocation. The
    estimate reproduces Spark's own FilePartition packing (each file
    additionally charged ``openCostInBytes``; split size capped at
    ``maxPartitionBytes`` but floored at bytes-per-core), so a
    many-small-files scan that is already wide is NOT re-shuffled (a
    raw byte threshold would add a RoundRobin there). DataFrames without
    the hint (filtered/derived) keep the exact probe."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    scan_bytes = getattr(df, "_mare_scan_bytes", None)
    if scan_bytes is not None:
        conf = df.sparkSession.conf
        raw = conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
        try:
            max_pb = int(raw)
            open_cost = int(
                conf.get("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
            )
        except ValueError:
            max_pb = None  # "128m"-style value: fall through to the probe
        if max_pb is not None:
            n_files = getattr(df, "_mare_scan_files", 1)
            padded = scan_bytes + n_files * open_cost
            split = min(max_pb, max(open_cost, padded // max(target, 1)))
            est_splits = -(-padded // max(split, 1))  # ceil
            if est_splits < target:
                return df.repartition(target)
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _candidate_shingles(
    base: DataFrame, cand: DataFrame, ids: tuple[str, ...] = ("doc_a", "doc_b")
) -> DataFrame:
    """``base``'s (doc, shingles) rows restricted to the docs named in
    ``cand``'s ``ids`` columns.

    The verify stage only needs shingles for candidate docs — a small
    fraction of the corpus at any sane threshold. Semi-joining the shingle
    table down first means the two subsequent pair-joins shuffle only the
    candidate subset; AQE broadcasts the tiny candidate-doc list into the
    semi-join, so the full corpus is never shuffled for verification at all.
    """
    docs = [cand.select(F.col(c).alias("doc")) for c in ids]
    cand_docs = reduce(DataFrame.union, docs).distinct()
    return base.select("doc", "shingles").join(cand_docs, "doc", "left_semi")


def _verified_jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard of two DISTINCT-element shingle arrays, for the LSH
    verify stages: ``|a∩b| / (|a| + |b| − |a∩b|)``.

    Every verify input is a sorted-distinct hash array by construction
    (``np.unique`` in :func:`_doc_gram_hashes`, so a 64-bit collision
    merges two grams rather than duplicating a hash), so
    ``|a∪b| = |a| + |b| − |a∩b|`` exactly — including the empty/empty
    case (0, the same NULL-on-0/0 division). That replaces ``array_union``'s per-pair
    materialization (a hash-set build plus an ``|a|+|b|``-element array
    allocated only to be counted) with two integer subtractions;
    ``array_intersect`` still runs once per pair (codegen subexpression
    elimination covers its two textual uses). Same integer operands →
    bit-identical division and rounding; the verify stage is the largest
    CPU slice of the jaccard/pipeline invocations.
    """
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return fround(inter / union, 6)


def _jaccard_verify(
    base: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Verify candidate pairs ``cand`` (doc_a, doc_b) by exact Jaccard
    over ``base``'s (doc, shingles) sets: (doc_a, doc_b, jaccard) with
    jaccard ≥ ``threshold``.

    ``cand`` is materialized first: it feeds both verify joins and the
    :func:`_candidate_shingles` semi-join, and unpersisted the expensive
    candidate generation would run once per consumer."""
    cand = materialize(cand, StorageLevel.MEMORY_AND_DISK)
    sh = _candidate_shingles(base, cand)
    return (
        cand.join(sh.withColumnsRenamed({"doc": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn("jaccard", _verified_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form shared by every dedup tier (and the SQL oracles):
    lowercase, trim, collapse whitespace runs."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of every exact (normalized) duplicate
    group. Returns (id, digest, group size).

    Scale: one shuffle on the 128-bit digest (uniform keys — no skew);
    partial aggregation map-side. At 100 TB this is the cheapest possible
    exact dedup: no text comparison ever happens, only digest equality.

    NULL-text rows are excluded: md5(NULL) is NULL and groupBy would
    collect every extraction failure into ONE phantom "duplicate" group,
    discarding unrelated documents on the keep-representative pass.
    """
    digest = F.md5(normalize_text(F.col(text_col))).alias("digest")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), digest)
        .groupBy("digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "digest", "n_copies")
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (JVM-side:
    split → sequence → transform → array_distinct; no UDF).

    The transform is gated on ``size >= n``: Spark's ``sequence(1, k)``
    generates a *descending* ``[1, 0]`` when k = 0, and ``slice(_, 0, n)``
    then throws INVALID_PARAMETER_VALUE.START — short docs must yield an
    empty shingle set, not a job abort."""
    words = F.split(normalize_text(text_col), " ")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    has_content = ~(
        (F.size(words) == 1) & (F.element_at(words, 1) == "")
    )  # contentless docs normalize to [''] — no shingles at ANY n,
    # matching hashed_word_shingles' ws == [''] guard
    return F.when(
        (F.size(words) >= n) & has_content, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


@lru_cache(maxsize=None)
def _gram_coeffs(n: int):
    """Per-position odd 64-bit combination constants for the token-combine
    gram hash (deterministic: derived from blake2b of the position label, so
    every worker/run agrees without shipping state)."""
    import hashlib

    import numpy as np

    return [
        np.uint64(
            int.from_bytes(
                hashlib.blake2b(
                    b"mare-shingle-coef-%d" % i, digest_size=8
                ).digest(),
                "big",
            )
            | 1
        )
        for i in range(n)
    ]


def _mix64(x):
    """splitmix64 finalizer, vectorized over a uint64 ndarray — full-width
    bit diffusion for the linear-combination gram hash (the combination
    alone is linear in the token hashes; downstream consumers treat the
    value as an opaque uniform 64-bit id)."""
    import numpy as np

    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return x


def _gram_hashes(flat: list, n: int):
    """uint64 hash of every ``n``-token window of ``flat`` — one Arrow
    batch's tokens, all documents concatenated — as a numpy array of
    ``len(flat) - n + 1`` entries (empty when shorter than ``n``).
    Windows that straddle a document boundary are hashed too; callers
    slice out their per-document windows.

    Scheme (token-combine): each DISTINCT token is blake2b-8-hashed
    ("big", unsigned) once per worker via ``_TOKEN_HASH_CACHE`` (Zipf
    token reuse makes hashlib calls rare), and a gram's hash is
    ``mix64(Σ_i C_i · t_{j+i} mod 2⁶⁴)`` with fixed odd per-position
    constants, so a batch costs three numpy vector ops per position
    instead of one hashlib call per gram (measured 2.2× faster end to end
    on the fixture corpus). Position-distinct constants keep the
    combination order-sensitive: gram equality ↔ token-tuple equality,
    up to 64-bit collisions. UDF bodies must call this as
    ``_D._gram_hashes`` so the worker's one shared cache is used (see
    the cache note above)."""
    import hashlib

    import numpy as np

    cache = _TOKEN_HASH_CACHE
    gi = cache.__getitem__
    try:
        TH = np.fromiter(map(gi, flat), dtype=np.uint64, count=len(flat))
    except KeyError:
        _hash_cache_room(cache)
        for w in flat:
            if w not in cache:
                cache[w] = int.from_bytes(
                    hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(),
                    "big",
                )
        TH = np.fromiter(map(gi, flat), dtype=np.uint64, count=len(flat))
    nwin = len(flat) - n + 1
    if nwin <= 0:
        return np.empty(0, dtype=np.uint64)
    C = _gram_coeffs(n)
    ACC = C[0] * TH[:nwin]
    for i in range(1, n):
        ACC = ACC + C[i] * TH[i : i + nwin]
    return _mix64(ACC)


def _doc_gram_hashes(texts, n: int) -> list:
    """Per document of ``texts``, the sorted distinct int64 hashes of its
    word ``n``-grams, from ONE :func:`_gram_hashes` call over the whole
    batch (windows straddling two documents are never sliced out). A
    NULL, contentless or shorter-than-``n`` document gets an empty array:
    contentless text normalizes to ``['']``, and without the guard every
    such document would share one phantom 1-gram.

    The one gram-set source of the Python tiers — the exact tier's
    shingles, the MinHash and SimHash signatures and the cross-source
    overlap — so their shingle ids are the same values. In-document dedup
    and signed-order sort are one ``np.unique`` over the int64 view, so a
    64-bit collision merges two grams rather than duplicating a hash. UDF
    bodies call it as ``_D._doc_gram_hashes`` (see the cache note above).
    """
    from itertools import chain

    import numpy as np

    tok = [py_tokens(t) for t in texts]
    G = _gram_hashes(list(chain.from_iterable(tok)), n).view(np.int64)
    out = []
    pos = 0
    for ws in tok:
        m = len(ws) - n + 1
        if ws == [""] or m <= 0:
            out.append(np.empty(0, dtype=np.int64))
        else:
            out.append(np.unique(G[pos : pos + m]))
        pos += len(ws)
    return out


def hashed_word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes (sorted), via an
    Arrow-batched pandas UDF over :func:`_doc_gram_hashes`.

    Two deliberate choices:
    * **Longs, not strings** — every downstream consumer (explode,
      frequency groupBy, self-join, intersect/union verify) works on
      fixed-width longs: smaller shuffles, cheaper compares, identical set
      semantics (a 64-bit collision inside one corpus' shingle space is
      ~|S|²/2⁶⁵ — negligible against the threshold decision).
    * **pandas UDF, not expression code** — Spark's higher-order array
      functions (``transform``/``filter`` lambdas) are CodegenFallback:
      they evaluate on the interpreted path row-at-a-time, measured ~2 ms
      per document for the shingle pipeline. The Arrow-batched Python
      loop is ~50× faster and scales per-core.

    No output or oracle observes the hash values: oracles compare string
    grams / verified Jaccard values, both invariant under any
    injective-modulo-collisions hash.
    """
    import pandas as pd

    def shingle_batch(texts):
        import mare_spark.operators.dedup as _D

        return pd.Series(_D._doc_gram_hashes(texts, n))

    shingle_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(shingle_batch, "array<bigint>")(text_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index self-join.

    Plan: explode shingles → (optionally drop shingles shared by more than
    ``max_shingle_freq`` docs — they generate quadratic candidate blowup and
    carry no discriminative signal) → self-join on shingle → count common
    shingles per pair → Jaccard = common / (|a| + |b| - common).

    Scale: the join key is the shingle, so work is Σ bucket², bounded by the
    frequency cap — never |corpus|². This is also precisely the candidate
    set: pairs sharing zero shingles are never materialized. Shingles are
    carried as 64-bit token-combine hashes end-to-end (fixed-width join
    keys and set elements — see :func:`hashed_word_shingles`); the PPJoin
    prefix, length, and position filters prune the
    candidate set before the distinct — all three are exact (no true pair
    at the threshold can be dropped).
    """
    from pyspark.sql import Window as W

    base = materialize(
        _fan_out(df).select(
            F.col(id_col).alias("doc"),
            hashed_word_shingles(F.col(text_col), n).alias("shingles"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )

    inv = base.select("doc", F.size("shingles").alias("n_sh"),
                      F.explode("shingles").alias("shingle"))
    # Document frequency, Zipf-skew-safe. Natural-language shingle
    # frequencies are Zipfian: the hottest shingle in a web-scale corpus
    # appears in ~every boilerplate page, so a bare count WINDOW over the
    # shingle would funnel ALL of a hot key's rows into one un-splittable
    # window task (WindowExec cannot be skew-split by AQE; a count
    # aggregate CAN partial-combine map-side and a shuffled join CAN be
    # AQE-skew-split). Shape: (1) the frequency aggregate partial-combines
    # hot keys map-side; (2) the >cap HEAD of the distribution — at most
    # N/cap keys, Zipf-concentrated far below that in practice — is
    # anti-joined away (AQE picks broadcast when it fits, skew-splits the
    # probe otherwise); (3) the df annotation for the PPJoin rarest-first
    # order is a window over the SURVIVORS, whose groups are ≤ cap by
    # construction — bounded tasks, no skew possible. The agg branch
    # re-reads `base`, which is persisted above.
    freq = inv.groupBy("shingle").agg(F.count("*").alias("df_freq"))
    if max_shingle_freq is not None:
        # One inner join against the ≤cap-frequency survivors both DROPS
        # the hot head and DELIVERS the df annotation (anti-joining the
        # >cap head and re-counting survivors with a count window over
        # the shingle would pay a second shingle exchange plus a window
        # sort for a number the aggregate already knows). Join groups
        # are ≤ cap by construction, so no skew is possible; AQE
        # broadcasts the kept set when it fits and skew-splits the probe
        # otherwise.
        inv = inv.join(freq.filter(F.col("df_freq") <= max_shingle_freq),
                       "shingle")
    else:
        # uncapped: annotate via the partial-combined aggregate +
        # AQE-skew-splittable join (a count window over an unbounded
        # shingle group would funnel a Zipf-hot key into one task)
        inv = inv.join(freq, "shingle")

    # PPJoin-style prefix filter (exact): under a global shingle order
    # (rarest first), two sets with Jaccard ≥ t MUST share a shingle within
    # each one's first |s| - ceil(t*|s|) + 1 entries. Indexing only those
    # prefixes shrinks the self-join by ~(1-t)² while remaining exact —
    # the difference between Σ bucket² over all shingles and over rare ones.
    w = W.partitionBy("doc").orderBy(F.asc("df_freq"), F.asc("shingle"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    # Persist the prefix index: it feeds BOTH sides of the candidate
    # self-join, and without a materialization point the whole chain above
    # (explode + frequency annotation + two window sorts) executes twice.
    # The prefix is the SMALL end of the index — ~(1-t) of the exploded
    # shingles — and disk-backed, so this is the standard "index once,
    # probe twice" materialization, not a corpus-sized cache.
    prefix = materialize(
        inv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("shingle", "doc", "n_sh", "rn"),
        StorageLevel.MEMORY_AND_DISK,
    )

    # Jaccard ≥ t additionally implies (both exact, cheap row predicates):
    # * length filter — min(|a|,|b|) ≥ t · max(|a|,|b|);
    # * position filter — the common shingles number ≥ t·(|a|+|b|)/(1+t),
    #   but at the matched prefix positions at most
    #   min(|a|-rn_a, |b|-rn_b) + 1 common shingles remain (the global
    #   rarity order is shared, so everything before rn on either side is
    #   disjoint for THIS match).
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    alpha = F.lit(threshold / (1.0 + threshold)) * (na + nb)
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(
            (F.col("a.doc") < F.col("b.doc"))
            & (F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb))
            & (F.least(na - F.col("a.rn"), nb - F.col("b.rn")) + 1 >= alpha)
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return _jaccard_verify(base, cand, threshold)


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31, 2), rng.randrange(0, 1 << 31))
        for _ in range(num_perm)
    ]


def _minhash_base_udf(num_perm: int, shingle_n: int, seed: int):
    """Arrow-batched UDF: per document, the sorted distinct 64-bit shingle
    hashes AND the ``num_perm`` MinHash signature, in one pass.

    Shingles are :func:`_doc_gram_hashes` — exactly the
    :func:`hashed_word_shingles` column. Signature base: the hash's top 31
    bits (keeps the affine ``a*h + b`` under 2^62); per-permutation
    universal hash ``(a*h + b) mod (2^31-1)`` (modulus at the universe
    size — see ``_MERSENNE31``), minimized over shingles. The
    (num_perm × grams) affine grid is one numpy broadcast per group of
    documents, with per-document minima via ``minimum.reduceat`` at the
    document offsets.
    """
    import numpy as np
    import pandas as pd

    coeffs = _perm_coeffs(num_perm, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
    M = np.uint64(_MERSENNE31)
    empty_sig = [int(b % M) for b in B[:, 0]]

    def mh_batch(texts):
        import mare_spark.operators.dedup as _D

        shingles_out = _D._doc_gram_hashes(texts, shingle_n)
        offs = [0]
        for hs in shingles_out:
            offs.append(offs[-1] + len(hs))
        h31 = np.concatenate(
            [np.empty(0, dtype=np.int64), *shingles_out]
        ).view(np.uint64) >> np.uint64(33)
        # empty docs contribute zero elements to `h31`, so consecutive
        # non-empty docs' segments abut — reduceat over non-empty starts
        # reduces exactly one document per segment.
        #
        # The affine grid is (num_perm × grams) uint64 — UNBOUNDED by
        # maxRecordsPerBatch, which caps ROWS not grams/row: a 10k-row
        # batch of long documents can demand a multi-GB grid (measured:
        # a 50k-doc single-partition batch at 64 perms churned ~256 MB
        # grids into 4-40× run-time variance from allocator/GC pressure).
        # Process DOC-ALIGNED groups whose gram total keeps the grid
        # ≤ _MH_GRID_ELEMS cells (~256 MB at 8 B/cell): per-doc minima
        # never cross a group boundary, so outputs are bit-identical to
        # the one-shot grid (pinned by
        # test_minhash_grid_chunking_is_bit_identical).
        nonempty = [d for d in range(len(shingles_out)) if offs[d + 1] > offs[d]]
        sig_out: list = [None] * len(shingles_out)
        max_grams = max(_MH_GRID_ELEMS // max(len(A), 1), 1)
        lo = 0
        while lo < len(nonempty):
            hi = lo
            g0 = offs[nonempty[lo]]
            # extend the group while it stays under the gram budget;
            # always take at least one doc (a single huge doc pays its
            # own grid — unavoidable)
            while (
                hi + 1 < len(nonempty)
                and offs[nonempty[hi + 1] + 1] - g0 <= max_grams
            ):
                hi += 1
            g1 = offs[nonempty[hi] + 1]
            SIG = (A * h31[None, g0:g1] + B) % M
            starts = np.array(
                [offs[d] - g0 for d in nonempty[lo : hi + 1]], dtype=np.int64
            )
            MINS = np.minimum.reduceat(SIG, starts, axis=1)
            for j, d in enumerate(nonempty[lo : hi + 1]):
                sig_out[d] = MINS[:, j].tolist()
            lo = hi + 1
        for d in range(len(shingles_out)):
            if sig_out[d] is None:
                sig_out[d] = list(empty_sig)
        return pd.DataFrame({"shingles": shingles_out, "sig": sig_out})

    mh_batch.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(
        mh_batch, "struct<shingles: array<bigint>, sig: array<bigint>>"
    )


def _mh_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """Persisted (doc, shingles, sig) signature table — the shared
    materialization point of the LSH tiers (see the plan discussion in
    :func:`minhash_lsh_pairs`). Built eagerly (see
    :func:`mare_spark.cache.materialize`): the band-bucket self-join's two
    exchange sides launch concurrently and would otherwise race the
    signature UDF through twice."""
    return materialize(
        _fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            _minhash_base_udf(num_perm, shingle_n, seed)(
                F.col(text_col)
            ).alias("mh"),
        )
        .select(
            "doc",
            F.col("mh.shingles").alias("shingles"),
            F.col("mh.sig").alias("sig"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )


def _mh_buckets(base: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc, band_idx, band_hash) bucket table.

    Band hash = xxhash64 of the band's signature slice — slice/xxhash64
    are plain (codegen'd) expressions, no lambdas. Docs with NO shingles
    (null/empty/shorter-than-n text) all carry the same constant empty
    signature: they would band-collide with each other and then 0/0 in
    the Jaccard verify (an ANSI divide-by-zero error, not a null) — by
    definition they share no content, so they never enter bucketing."""
    band_cols = [
        F.xxhash64(F.slice("sig", i * r + 1, r)) for i in range(bands)
    ]
    return base.filter(F.size("shingles") > 0).select(
        "doc", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )


def _drop_over_full_buckets(
    buckets: DataFrame, cap: int, keys: tuple[str, ...] = ("band_idx", "band_hash")
) -> DataFrame:
    """Drop every bucket (keyed by ``keys``) holding more than ``cap``
    rows — the quadratic-candidate guard for every bucketed self-join, in
    the hot-head shape: partial-combined count (hot keys combine
    map-side, skew-immune), tiny >cap head (at most rows/cap keys),
    anti-join that AQE broadcasts when small and skew-splits otherwise.
    Never a count window: WindowExec would put a hot bucket's every row
    into one un-splittable task just to count and discard it. Buckets
    left are ≤ cap by construction."""
    over_full = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return buckets.join(over_full, list(keys), "left_anti")


def _bucket_self_join(
    buckets: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    cap: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct pairs of ``buckets`` rows sharing a bucket ``keys`` with
    ``x.<id_col> < y.<id_col>``: columns ``<id_col>_a, <id_col>_b``, then
    ``<c>_a, <c>_b`` for each ``carry`` column. ``cap`` first drops
    buckets over ``cap`` rows (:func:`_drop_over_full_buckets`).

    The (post-cap) bucket table is materialized before the join because
    exchange reuse does not fire across the two sides of a deduplicated
    self-join (forced-SMJ plans show one hash-partitioning exchange per
    side and no ReusedExchange): unpersisted, each side recomputes the
    whole bucket subtree — band projection, any signature UDF behind it,
    and the cap aggregate with its anti-join. A bucket table is a few
    fixed-width columns, cheap to encode; on the minhash path at sf0.1
    the persist cut invocation CPU from 9.7-10.0 s to 7.1-7.8 s for one
    barrier job."""
    if cap is not None:
        buckets = _drop_over_full_buckets(buckets, cap, keys)
    buckets = materialize(buckets, StorageLevel.MEMORY_AND_DISK)
    on = [F.col(f"x.{k}") == F.col(f"y.{k}") for k in keys]
    on.append(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
    cols = [
        F.col(f"{side}.{c}").alias(f"{c}_{suffix}")
        for c in (id_col, *carry)
        for side, suffix in (("x", "a"), ("y", "b"))
    ]
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), reduce(Column.__and__, on))
        .select(*cols)
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    Jaccard over the shingle sets.

    Plan (the standard scale recipe):
      1. signature: ``num_perm`` minhashes per doc (map-only).
      2. banding: split into ``bands`` rows-per-band groups, hash each band,
         posexplode → (band_idx, band_hash) — docs agreeing on ANY band
         become candidates.
      3. bucket self-join on (band_idx, band_hash) with id< id — only
         same-bucket pairs are ever compared (never a cross join).
      4. verify candidates with exact Jaccard and filter by ``threshold``.

    At 100 TB: stage 1 is embarrassingly parallel; stage 3's shuffle is on
    band hashes (uniform for distinct content); stage 4 touches only the
    candidate set. The hazard AQE can NOT fix is a mass-duplicate bucket:
    k identical documents agree on every band, so one bucket emits k²/2
    candidate pairs — splitting the partition redistributes the work but
    the quadratic OUTPUT remains. ``bucket_cap`` drops (band_idx,
    band_hash) buckets holding more than that many docs, via the same
    hot-head shape as the shingle frequency cap (partial-combined count →
    tiny >cap head → broadcast anti-join; never a count window). Docs in
    a dropped bucket still pair through their other ``bands - 1`` bands
    unless those are over-full too — and a group that saturates EVERY
    band is verbatim mass duplication, which belongs to (and is caught
    by) the exact-dedup tier run before any near-dup pass. The cap is
    OPT-IN (default ``None``, like ``embedding_lsh_pairs``): a default
    cap would silently drop pairs that only agree in over-full buckets
    with no runtime signal, so corpus-scale callers state the cap at the
    call site (the registered scale queries pass ``bucket_cap=10_000``).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    # Materialize (doc, shingle set, full signature) ONCE, in a single
    # Arrow-batched numpy UDF. Expression-code signatures were tried first
    # and abandoned twice over: (a) without a materialization point,
    # CollapseProject inlines the shingle pipeline into every permutation
    # (num_perm × recompute, measured 100×+ slowdown); (b) even
    # materialized, the per-permutation ``array_min(transform(...))``
    # lambdas are higher-order functions — CodegenFallback, interpreted
    # row-at-a-time (the same trap hashed_word_shingles documents). The
    # numpy path computes the whole (num_perm × |shingles|) affine-min in
    # one vectorized op per document. At corpus scale this persist is the
    # standard "signature table" materialization point (disk-backed so it
    # spills instead of OOMing).
    base = _mh_base(df, text_col, id_col, num_perm, shingle_n, seed)
    cand = _bucket_self_join(
        _mh_buckets(base, bands, r), ("band_idx", "band_hash"), "doc", bucket_cap
    )
    return _jaccard_verify(base, cand, threshold)


def minhash_lsh_join(
    df_left: DataFrame,
    df_right: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the incremental-ingest
    dedup: find which documents of a NEW crawl (left) near-duplicate an
    EXISTING corpus (right) without recomputing anything pairwise inside
    either side and without concatenating them into one table.

    ``bucket_cap`` caps each side's (band_idx, band_hash) buckets exactly
    as in :func:`minhash_lsh_pairs` — the cross join of a hot bucket is
    |left bucket| × |right bucket| candidates, which no partition split
    can shrink. Opt-in (default ``None``): drops are silent, so the cap
    belongs at the call site where the scale trade-off is visible.

    Same recipe as :func:`minhash_lsh_pairs` (identical UDF, permutations,
    and banding — same ``seed`` makes signatures comparable across calls),
    but the bucket join is left-buckets x right-buckets on
    (band_idx, band_hash): candidates are only cross-corpus collisions, so
    within-corpus duplicates are never generated, and the verify stage
    fetches each side's shingles from its own signature table. Returns
    (id_left, id_right, jaccard >= threshold).

    At 100 TB the right side's signature/bucket tables are the "index":
    persist or write them once per corpus epoch and only the (smaller) new
    crawl pays signature compute per ingest.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    base_l = _mh_base(df_left, text_col, id_col, num_perm, shingle_n, seed)
    base_r = _mh_base(df_right, text_col, id_col, num_perm, shingle_n, seed)
    buckets_l = _mh_buckets(base_l, bands, r)
    buckets_r = _mh_buckets(base_r, bands, r)
    if bucket_cap is not None:
        buckets_l = _drop_over_full_buckets(buckets_l, bucket_cap)
        buckets_r = _drop_over_full_buckets(buckets_r, bucket_cap)
    cand = (
        buckets_l
        .alias("x")
        .join(
            buckets_r.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc").alias("id_left"), F.col("y.doc").alias("id_right")
        )
        .distinct()
    )
    # materialized for the same reason as in _jaccard_verify; each side's
    # verify set is restricted to its own candidate docs
    cand = materialize(cand, StorageLevel.MEMORY_AND_DISK)
    sh_l = _candidate_shingles(base_l, cand, ("id_left",)).withColumnsRenamed(
        {"doc": "id_left", "shingles": "sh_l"}
    )
    sh_r = _candidate_shingles(base_r, cand, ("id_right",)).withColumnsRenamed(
        {"doc": "id_right", "shingles": "sh_r"}
    )
    return (
        cand.join(sh_l, "id_left")
        .join(sh_r, "id_right")
        .withColumn("jaccard", _verified_jaccard("sh_l", "sh_r"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_left", "id_right", "jaccard")
    )


def _simhash_pudf(shingle_n: int):
    """Arrow-batched SimHash over :func:`_doc_gram_hashes`: 64-wide bit
    votes vectorized in numpy, sign bits packed into one int64. Docs
    with NO grams (NULL/contentless, or shorter than the shingle) emit
    NULL — a zero signature would make every such doc a Hamming-0
    "duplicate" of every other; simhash_pairs filters them out before
    bucketing (the same guard as the MinHash tier)."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def simhash_batch(texts):
        import mare_spark.operators.dedup as _D

        out = np.full(len(texts), None, dtype=object)
        for row, h in enumerate(_D._doc_gram_hashes(texts, shingle_n)):
            if len(h):
                bits = (h.view(np.uint64)[:, None] >> shifts) & np.uint64(1)
                votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(h)
                out[row] = int(
                    np.packbits(votes > 0, bitorder="little").view("<i8")[0]
                )
        return pd.Series(out)

    simhash_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(simhash_batch, "long")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation (pigeonhole-complete): split the 64-bit hash into
    ``max_hamming + 1`` chunks — any pair within the Hamming bound must
    agree on at least one chunk, so an equi-join per chunk finds ALL
    qualifying pairs without a cross join. Verify with popcount on XOR.
    Smaller bounds ⇒ fewer/wider chunks ⇒ fewer candidates — the standard
    recall/cost dial.

    ``bucket_cap`` bounds the quadratic hazard the chunk join shares with
    every bucketed candidate generator: a (chunk_idx, chunk) bucket of k
    docs emits k²/2 candidates, and AQE partition-splitting cannot shrink
    that OUTPUT. Over-full buckets (mass duplication, or chunk-value
    saturation when the corpus outgrows a chunk's bit width) drop via the
    hot-head shape — partial-combined count, tiny >cap head, broadcast
    anti-join. Pairs in a dropped bucket still qualify through any other
    agreeing chunk; a pair agreeing ONLY in saturated buckets is the
    verbatim-duplication case owned by the exact-dedup tier. The cap is
    OPT-IN (default ``None``): the default contract stays strict
    pigeonhole completeness — a silent default cap would revoke the
    "finds ALL qualifying pairs" guarantee with no runtime signal, so
    corpus-scale callers state it explicitly.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    # chunk bit-boundaries: spread 64 bits as evenly as possible
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    # Signature via a vectorized numpy pandas UDF. The expression-code
    # alternative (64 bit-vote aggregates over the shingle array) exceeds
    # janino's 64 KB codegen limit, falls back to interpreted eval and
    # runs ~10× slower; the 64×n bit-vote matrix is exactly the shape
    # numpy is good at. This is the sanctioned UDF case: built-ins can't
    # express it fast. Eager (see materialize): the chunk self-join's two
    # exchange sides launch concurrently and would race the simhash UDF
    # twice
    base = materialize(
        _fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            _simhash_pudf(shingle_n)(F.col(text_col)).alias("sh"),
        )
        # gram-less docs (NULL signature) never enter bucketing — the
        # same contract as the MinHash tier's size(shingles) > 0 filter
        .filter(F.col("sh").isNotNull()),
        StorageLevel.MEMORY_AND_DISK,
    )
    chunk_cols = [
        # a 64-bit-wide chunk (max_hamming=0) IS the signature: the full
        # mask literal (2^64-1) would overflow LongType
        F.col("sh")
        if bounds[i + 1] - bounds[i] == 64
        else F.shiftrightunsigned(F.col("sh"), bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(n_chunks)
    ]
    chunks = base.select(
        "doc",
        "sh",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk"),
    )
    cand = _bucket_self_join(
        chunks, ("chunk_idx", "chunk"), "doc", bucket_cap, carry=("sh",)
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _dedup_clusters_driver(directed: DataFrame) -> DataFrame:
    """In-memory exact union-find over a collected (src, dst) edge list —
    min-id representative per component, identical semantics to the
    distributed propagation (pinned by test)."""
    from pyspark.sql.types import StructField, StructType

    rows = directed.collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            # attach the larger root under the smaller: the root stays
            # the component minimum throughout, so find() IS the label
            parent[max(ra, rb)] = min(ra, rb)
    dt = directed.schema[0].dataType
    schema = StructType(
        [StructField("member", dt, True), StructField("cluster", dt, True)]
    )
    data = [(n, find(n)) for n in parent]
    return directed.sparkSession.createDataFrame(data, schema)


def _edge_sample_row_bytes(rows) -> int:
    """Mean Python-heap bytes of a collected (src, dst) edge row — the
    driver union-find holds exactly these objects, so the routing gate
    must price the ACTUAL id type (a 64-char sha string costs ~10× a
    long), not assume fixed-width rows."""
    import sys

    if not rows:
        return 1
    total = sum(
        sys.getsizeof(r[0]) + sys.getsizeof(r[1]) + 64  # dict-entry slack
        for r in rows
    )
    return max(1, total // len(rows))


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    driver_edges_limit: int | None = 1_000_000,
    driver_bytes_limit: int | None = 256 << 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS via connected
    components (iterative min-label propagation), returning
    (member, cluster) where cluster = min id in the component — i.e. the
    canonical representative to KEEP per duplicate group.

    Plan: labels start as each node's own id; each round every node takes
    the min of its own and its neighbors' labels (join on edges both
    directions + groupBy-min); stop when a round changes nothing. Rounds ≤
    graph diameter — near-dup components are tiny (pairs/triples), so this
    converges in 2-3 rounds regardless of corpus size; each round is one
    join + one aggregate on the EDGE set, never the corpus.

    Cost tiers — resolution is proportional to the EDGE set, which a
    thresholded near-dup pass keeps orders of magnitude below the corpus:

    * edges ≤ ``driver_edges_limit`` AND estimated driver heap ≤
      ``driver_bytes_limit`` (the common case; 1M long-id (src, dst)
      rows is ~tens of MB of driver heap — but string doc ids cost ~10×
      a long, so the byte gate prices a 256-row sample's ACTUAL row
      width, never row count alone): the materialized edges are
      collected ONCE and resolved by exact in-memory union-find (the
      same bounded-driver tier as ``learn_bpe_merges``). What this buys
      is NOT local wall-clock (measured parity with the distributed
      loop at sf0.1 on local[32], where a round costs ~0.1 s) but
      (a) diameter-independence — min-label propagation needs one JOB
      per graph-diameter hop, so a pathological duplicate chain of
      depth 200 costs 200 scheduled rounds distributed and nothing
      here — and (b) on a real cluster, removing d shuffle round-trips
      plus d checkpoint materializations of scheduler latency. The
      edge count is an Observation on the one job that checkpoints the
      edges, so routing adds no job of its own. The engaged tier and the
      byte estimate are logged (``mare_spark.dedup`` at INFO) so the
      routing is observable in production driver logs.
    * above the limit (a mass-duplicate corpus at 100 TB): the
      distributed loop below, unchanged — one job per round,
      Observation-fused convergence, lineage-truncating checkpoints.

    Both tiers produce identical labels (pinned by test); pass
    ``driver_edges_limit=None`` to force the distributed path.
    """
    # Iterative plans nest: round k's logical plan would embed round k-1's
    # (twice — the join and the convergence check), which itself embeds the
    # upstream pair-generation plan. Without lineage truncation Catalyst
    # re-analyzes an exponentially growing tree every round and compile time
    # dwarfs execution. localCheckpoint (eager) materializes the rows AND
    # cuts the lineage, keeping every round's plan constant-size — on a real
    # cluster swap in reliable checkpoint() for executor-loss tolerance.
    # Materialize the (typically expensive) pair set ONCE, then mirror the
    # checkpointed rows for bidirectional edges. Unioning the two directions
    # BEFORE materializing would run the upstream pair-generation plan twice
    # inside one job (exchange reuse across differently-projected branches
    # is not guaranteed under AQE).
    # The routing probe rides INSIDE the checkpoint job as an Observation,
    # so routing costs no scheduler round-trip of its own: the edge count
    # is observed during the one materializing job, the byte gate prices
    # a 256-row local fetch (it must run BEFORE any full collect, that is
    # its purpose), and the union-find tier's collect doubles as the final
    # pull.
    obs = Observation()
    directed = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .observe(obs, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint(eager=True)
    )
    if driver_edges_limit is not None:
        probe = obs.get["n_edges"] or 0
        if probe <= driver_edges_limit:
            row_bytes = _edge_sample_row_bytes(directed.head(256))
            est = probe * row_bytes
            if driver_bytes_limit is None or est <= driver_bytes_limit:
                _log.info(
                    "dedup_clusters: driver union-find tier engaged "
                    "(%d edges, ~%d bytes est at %d B/row)",
                    probe, est, row_bytes,
                )
                return _dedup_clusters_driver(directed)
            _log.info(
                "dedup_clusters: %d edges within the row limit but "
                "~%d bytes est > driver_bytes_limit=%d — distributed "
                "tier engaged",
                probe, est, driver_bytes_limit,
            )
        else:
            _log.info(
                "dedup_clusters: > %d edges — distributed tier engaged",
                driver_edges_limit,
            )
    edges = directed.union(directed.select(F.col("dst"), F.col("src")))

    # Seed labels with the first propagation round fused into initialization:
    # label₀(n) = min({n} ∪ neighbors(n)). Every node appears as a src (edges
    # are bidirectional), so this is one aggregate over the edge set — and
    # pair/triple components (the near-dup norm) then converge in a single
    # verify iteration instead of two. Deliberately NOT checkpointed: the
    # seed is one aggregate over the already-checkpointed edges, round 1
    # references it twice (the neighbor join and the merge) but both
    # branches share the identical agg subtree so the exchange is reused,
    # and skipping the eager materialization saves one whole job — i.e.
    # one full pass over the edge set — per invocation. Rounds still
    # checkpoint (that is where lineage would otherwise nest).
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.col("src"), F.min("dst")).alias("label")
    )

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Convergence check fused into the materializing action: an
        # Observation on a _changed flag is collected DURING the eager
        # localCheckpoint job, so each round costs exactly one job (a
        # separate join/limit/count job per round would pay one extra full
        # pass over the label set every iteration).
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label"))
                .cast("long")
                .alias("_changed"),
            )
            .observe(obs, F.sum("_changed").alias("n_changed"))
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if (obs.get["n_changed"] or 0) == 0:
            converged = True
            break

    if not converged:
        # Components whose diameter exceeds the cap would keep partially
        # propagated labels — merged clusters would silently be wrong.
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            "iterations — a duplicate chain is longer than the cap; raise "
            "max_iterations"
        )

    return labels.select(F.col("node").alias("member"), F.col("label").alias("cluster"))


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    exact_max_rows: int | None = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold.

    Guarded routing: below ``exact_max_rows`` this is the *exact* tier — an
    all-pairs theta self-join (O(N²) BroadcastNestedLoop, fine for modest N,
    zero false negatives). Above it, the O(N²) plan would not survive, so
    inputs route through the banded-LSH scale tier
    (:func:`mare_spark.operators.similarity.embedding_lsh_pairs`), whose
    candidates are exact-cosine verified — no false positives, recall
    tunable via its banding. The size probe is ``limit(N+1).count()``
    (bounded — never a full count of a 100 TB corpus). Pass
    ``exact_max_rows=None`` to force the exact tier.
    """
    if exact_max_rows is not None:
        n_probe = df.select(id_col).limit(exact_max_rows + 1).count()
        if n_probe > exact_max_rows:
            from mare_spark.operators.similarity import embedding_lsh_pairs

            if dim is None and "dim" not in (df.schema[vec_col].metadata or {}):
                # neither passed nor tagged (with_dim_metadata): one
                # bounded fetch of the first NON-NULL vector's length
                # beats failing the scale-tier handoff
                dim = len(
                    df.select(vec_col)
                    .filter(F.col(vec_col).isNotNull())
                    .limit(1)
                    .collect()[0][0]
                )
            return embedding_lsh_pairs(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold, dim=dim
            )
    from mare_spark.operators.similarity import pairwise_cosine

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    a = base.withColumnsRenamed({"vid": "id_a", "v": "v_a"})
    b = base.withColumnsRenamed({"vid": "id_b", "v": "v_b"})
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", fround(pairwise_cosine(F.col("v_a"), F.col("v_b")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def substring_overlap_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 12,
    keep: int = 8,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Candidate pairs for cross-document substring overlap, via shared
    winnowing fingerprints — the bucketed approximation of suffix-array
    substring dedup (exact suffix arrays don't distribute; shared
    rolling-hash picks of ``window``-char runs do).

    Each document keeps its ``keep`` smallest rolling-hash values
    (:func:`mare_spark.operators.text.rolling_hash_fingerprint` — a
    bottom-k sketch of its character ``window``-grams); documents sharing
    at least ``min_shared`` picks very likely share verbatim character
    runs (boilerplate headers, license blocks, quoted passages) even when
    their word-level Jaccard is low. Downstream: route candidates to exact
    verification or strip the common run.

    Scale: explode is ``keep`` rows/doc (constant), the self-join key is
    the fingerprint value (bucketed — Σ bucket², capped by
    ``max_fp_freq`` exactly like the shingle index), never all-pairs.
    """
    from mare_spark.operators.text import rolling_hash_fingerprint

    fp = rolling_hash_fingerprint(
        df, text_col, id_col, window=window, keep=keep
    )
    # The fingerprint table is narrow (id + ``keep`` hashes per doc) but
    # its UDF is the expensive part; it feeds the frequency aggregate and
    # both sides of the self-join, so persist it rather than recompute —
    # cheap at any scale precisely because it is k hashes per document,
    # not the exploded index. Eager (see materialize): the self-join's
    # exchange sides launch concurrently and would race the UDF through
    # once per side on a cold cache.
    fp = materialize(fp, StorageLevel.MEMORY_AND_DISK)
    inv = fp.select(F.col(id_col).alias("doc"), F.explode("fingerprint").alias("fp"))
    if max_fp_freq is not None:
        # boilerplate fingerprints are Zipf-hot: cap them in the hot-head
        # shape, so the self-join's buckets are ≤ cap
        inv = _drop_over_full_buckets(inv, max_fp_freq, keys=("fp",))
    return (
        inv.alias("a")
        .join(inv.alias("b"), "fp")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    prefix_words: int = 8,
    max_dist: int = 50,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Edit-distance near-dup verification: candidate pairs share their
    first-``prefix_words`` digest (the prefix-8 granularity
    dedup_cluster_stats already audits), verified by full Levenshtein
    distance ≤ ``max_dist`` on the normalized text — the character-level
    verify kernel for templated/near-identical documents where set-based
    Jaccard under-weights small ordered edits.

    Candidate contract: prefix-bucket blocking (recall = near-dups that
    agree on their opening words — the templated-document case this tier
    targets; swap in an LSH candidate table for general recall). Buckets
    over ``bucket_cap`` docs are dropped whole — the same frequency-cap
    guard as the shingle inverted index, so one degenerate prefix (an
    empty-ish boilerplate opening shared by millions of docs at 100 TB)
    cannot quadratically explode the join. Join key is the 128-bit
    digest: fixed-width, uniform, freq-capped — Σ bucket², never
    all-pairs.

    Returns ``(doc_a, doc_b, edit_dist)``, doc_a < doc_b.
    """
    s = normalize_text(F.col(text_col))
    # NULL text keeps a NULL prefix key (concat_ws never returns NULL, so
    # a bare md5 would bucket NULL-text docs under md5('') TOGETHER with
    # genuinely-empty docs — the phantom-bucket class fp_sorted guards
    # against): NULL keys drop out of the equi-join, matching the SQL
    # oracle's NULL pk, and cannot push the empty-text bucket over the
    # cap on one engine only.
    pk = F.when(
        F.col(text_col).isNotNull(),
        F.md5(F.concat_ws(" ", F.slice(F.split(s, " "), 1, prefix_words))),
    )
    # _fan_out: a small-file scan yields one partition, serializing the
    # O(len²) Levenshtein verify on a single core — same spread as the
    # shingling tiers
    t = _fan_out(df).select(
        F.col(id_col).alias("_id"), s.alias("_s"), pk.alias("_pk")
    )
    # a hot prefix digest (templated openings) is capped in the hot-head
    # shape; the count branch projects the digest only, no text moves
    t = _drop_over_full_buckets(t, bucket_cap, keys=("_pk",))
    a = t.select(
        F.col("_pk"), F.col("_id").alias("doc_a"), F.col("_s").alias("_sa")
    )
    b = t.select(
        F.col("_pk"), F.col("_id").alias("doc_b"), F.col("_s").alias("_sb")
    )
    # Threshold form: levenshtein(l, r, t) early-exits at O(len·t) per
    # pair instead of the full O(len²) DP, returning -1 above the bound —
    # on long documents inside a near-cap bucket the DP is the dominant
    # cost, so this bounds the verify kernel itself, not just the output.
    # BETWEEN 0 AND max_dist filters exactly the rows the unbounded form
    # would have filtered (the -1 sentinel rows are precisely the
    # > max_dist ones), so the oracle still hash-matches.
    return (
        a.join(b, "_pk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "edit_dist", F.levenshtein("_sa", "_sb", max_dist)
        )
        .filter(F.col("edit_dist").between(0, max_dist))
        .select("doc_a", "doc_b", "edit_dist")
    )
