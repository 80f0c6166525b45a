"""Byte-pair-encoding (BPE) subword learning and segmentation.

The tokenizer-training half of a corpus pipeline: learn a merge table
from corpus statistics, then segment documents with it. The reference
has no subword layer (its per-record logic lives in user containers,
``MaRe.scala:63-100``); this extends the engine's text-analysis family
the same way the samplers and the quality classifier do.

Scale design — the part that matters at 100 TB:

* Learning NEVER iterates over the corpus. The only corpus-scale work is
  ONE word-count aggregation (``word_counts``: explode whitespace words →
  map-side-combined groupBy). Every merge round then runs against the
  persisted ``(word, cnt, syms)`` VOCABULARY table — its row count is the
  distinct-word vocabulary (millions of rows when the corpus is 100 TB,
  i.e. 4-6 orders of magnitude smaller than the corpus) — with exactly
  one best-pair row of driver traffic per round. This is the shape
  production BPE trainers use: count words once, learn on the count
  table.
* Pair counting per round is a keyed aggregate over the vocab (map-side
  partials; the pair key space is tiny), never a window.
* Merge application rewrites the symbol arrays with an Arrow-batched
  pandas UDF — the sanctioned UDF case: greedy left-to-right pair
  rewriting is a per-row loop no built-in expresses, and Spark's
  higher-order ``aggregate``/``transform`` lambdas are CodegenFallback
  (interpreted) anyway, as the MinHash signature path documents.
* Segmentation (`bpe_segment`) is scan-side only — broadcast merge
  ranks, zero shuffle — with a per-batch word memo so each DISTINCT word
  in an Arrow batch is segmented once (Zipf makes this the dominant
  saving: the top few thousand words cover most tokens).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """``(word, cnt)`` over whitespace-split words — the single
    corpus-scale aggregation BPE learning needs (registry convention:
    single-space split, empty tokens dropped)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def char_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Adjacent character-pair frequencies across the corpus, weighted by
    word occurrence — the statistic the FIRST BPE merge maximizes, as an
    oracle-checkable standalone view (no end-of-word marker, so both
    engines replay it with plain substring arithmetic).

    Plan: word-count aggregate (the corpus-scale shuffle), then a pure
    expression-code bigram explode over the VOCAB (sequence/substring —
    codegen, no UDF) and a second tiny keyed aggregate on the pair.
    Returns ``(a, b, pair_count)``.
    """
    wc = word_counts(df, text_col)
    bigrams = F.expr(
        "CASE WHEN length(word) > 1 THEN "
        "transform(sequence(1, length(word) - 1), "
        "i -> substring(word, i, 2)) ELSE array() END"
    )
    return (
        wc.select(F.explode(bigrams).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .select(
            F.substring("pair", 1, 1).alias("a"),
            F.substring("pair", 2, 1).alias("b"),
            "pair_count",
        )
    )


def _merge_pair_udf(a: str, b: str):
    """Arrow-batched wrapper around :func:`_rewrite` — ONE copy of the
    convention-critical greedy rewrite (``"aaa"`` with merge ``(a,a)`` →
    ``[aa, a]``, pinned by test) shared by the UDF path, segmentation,
    and the driver learning loop, so the convention cannot silently
    diverge between tiers."""

    @F.pandas_udf("array<string>")
    def merge(syms: pd.Series) -> pd.Series:
        return syms.map(lambda s: _rewrite(list(s), a, b))

    return merge


_ADJ_PAIRS = (
    "CASE WHEN size(syms) > 1 THEN "
    "transform(sequence(1, size(syms) - 1), "
    "i -> struct(syms[i - 1] AS a, syms[i] AS b)) "
    "ELSE array() END"
)


def _rewrite(syms: list, a: str, b: str) -> list:
    """Greedy left-to-right rewrite of adjacent ``(a, b)`` into ``a+b``
    (pure-Python twin of :func:`_merge_pair_udf`, shared by the driver
    learning loop and segmentation)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_bpe_driver(
    vocab_rows: list[tuple[str, int, list]],
    num_merges: int,
    min_count: int,
) -> list[tuple[str, str]]:
    """In-memory merge loop over a collected ``(word, cnt, syms)`` vocab.

    Incremental: a lazy max-heap over pair counts plus a pair→word-set
    index, so each round touches only the words that actually contain
    the merged pair — O(affected words) per round instead of O(vocab).
    This is what makes production merge counts (tens of thousands)
    viable: the distributed loop pays one full Spark job per merge,
    ~100-200 ms of scheduling floor each, i.e. 30+ min for 10k merges
    regardless of data size, while this loop does 10k merges on a 1M-word
    vocab in seconds. Semantics are pinned equal to the distributed loop
    (same max-count, same lexicographic ``(a, b)`` tie-break) by test.
    """
    import heapq

    words: list[list] = []  # mutable [syms, cnt]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set] = {}
    for _w, cnt, syms in vocab_rows:
        idx = len(words)
        words.append([list(syms), cnt])
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_words.setdefault(p, set()).add(idx)
    # heap entries are (-count, a, b); stale entries (count changed since
    # push) are skipped on pop — every current count has a live entry
    # because counts are (re)pushed whenever they change
    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        best = None
        while heap:
            negn, a, b = heap[0]
            if pair_counts.get((a, b), 0) != -negn or negn == 0:
                heapq.heappop(heap)  # stale
                continue
            best = (a, b, -negn)
            break
        if best is None or best[2] < min_count:
            break
        a, b, _n = best
        merges.append((a, b))
        changed: set = set()
        for idx in sorted(pair_words.get((a, b), ())):
            syms, cnt = words[idx]
            old = [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]
            new_syms = _rewrite(syms, a, b)
            new = [(new_syms[i], new_syms[i + 1])
                   for i in range(len(new_syms) - 1)]
            for p in old:
                pair_counts[p] -= cnt
                changed.add(p)
            for p in new:
                pair_counts[p] = pair_counts.get(p, 0) + cnt
                changed.add(p)
            olds, news = set(old), set(new)
            for p in olds - news:
                pair_words[p].discard(idx)
            for p in news - olds:
                pair_words.setdefault(p, set()).add(idx)
            words[idx][0] = new_syms
        for p in changed:
            n = pair_counts.get(p, 0)
            if n > 0:
                heapq.heappush(heap, (-n, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
    return merges


# learn_bpe_merges' tiers: vocabularies up to _DRIVER_VOCAB_LIMIT distinct
# words learn in driver memory; larger ones take the distributed loop,
# which localCheckpoints the vocab every _CHECKPOINT_EVERY rounds.
_DRIVER_VOCAB_LIMIT = 2_000_000
_CHECKPOINT_EVERY = 25


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    *,
    end_marker: str = "</w>",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges (Sennrich-style: words split
    to characters plus a terminal ``end_marker`` symbol; each round
    merges the globally most frequent adjacent symbol pair).

    Deterministic: ties on count break lexicographically on ``(a, b)``
    — partition-layout-independent, so the learned table is reproducible
    across runs and cluster shapes (pinned against a pure-Python
    reference in tests). Stops early when no pair reaches ``min_count``.

    Cost model — the corpus is scanned exactly ONCE (by
    :func:`word_counts`); everything after runs on the distinct-word
    vocabulary, which Zipf keeps 4-6 orders of magnitude smaller:

    * vocab ≤ ``_DRIVER_VOCAB_LIMIT`` rows (the common case — even a
      100 TB web corpus has a vocabulary in the tens of millions, and
      2M rows of (word, cnt, syms) is ~200 MB of driver heap): the
      vocab is collected once and the merge loop runs in driver memory
      with an incremental pair-count index — tens of thousands of
      merges in seconds, zero per-round Spark jobs.
    * vocab above the limit: the distributed fallback — per round, one
      keyed pair-aggregate over the persisted vocab, a 1-row best-pair
      fetch, and one Arrow-batched rewrite. Each round is a Spark job
      (~0.1-0.2 s scheduling floor), so this path is for bounding
      driver memory, not speed.
      Every ``_CHECKPOINT_EVERY`` rounds the vocab is localCheckpoint-ed
      so executor loss or cache eviction replays at most that many
      rewrite rounds instead of the whole merge history back to the
      corpus scan.

    Both paths produce the identical merge list (pinned by test).
    """
    chars = F.split(F.col("word"), "")
    syms = (
        F.concat(chars, F.array(F.lit(end_marker)))
        if end_marker
        else chars
    )
    wc = (
        word_counts(df, text_col)
        .select("word", "cnt", syms.alias("syms"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_vocab = wc.count()
    if n_vocab <= _DRIVER_VOCAB_LIMIT:
        try:
            rows = [(r["word"], r["cnt"], r["syms"]) for r in wc.collect()]
        finally:
            wc.unpersist()
        return _learn_bpe_driver(rows, num_merges, min_count)
    merges: list[tuple[str, str]] = []
    try:
        for round_no in range(num_merges):
            best = (
                wc.select(F.explode(F.expr(_ADJ_PAIRS)).alias("p"), "cnt")
                .groupBy("p.a", "p.b")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.desc("n"), "a", "b")
                .limit(1)
                .collect()
            )
            if not best or best[0]["n"] < min_count:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            nxt = wc.withColumn(
                "syms", _merge_pair_udf(a, b)(F.col("syms"))
            )
            if (round_no + 1) % _CHECKPOINT_EVERY == 0:
                # truncate lineage: persist alone leaves each round's
                # cache depending on the previous round's (evictable)
                # cache, so a lost executor replays every merge UDF back
                # to the corpus scan; a localCheckpoint bounds the replay
                # to _CHECKPOINT_EVERY rounds
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    nxt.count()  # materialize before dropping prev round
                except BaseException:
                    # a failure mid-materialization must not leave the
                    # new round's cache pinned for the session lifetime
                    # (the finally below only unpersists wc)
                    nxt.unpersist()
                    raise
            wc.unpersist()
            wc = nxt
    finally:
        wc.unpersist()
    return merges


def _segment_word(word: str, ranks: dict[tuple[str, str], int],
                  pairs: list[tuple[str, str]], end_marker: str) -> list[str]:
    """Segment one word by repeatedly applying the LOWEST-rank adjacent
    merge present (the standard BPE inference order — merge priority is
    learning order, not left-to-right position; within one merge the
    rewrite is the same greedy left-to-right pass as training)."""
    s = list(word) + ([end_marker] if end_marker else [])
    while len(s) > 1:
        r = min(
            (ranks[(s[i], s[i + 1])]
             for i in range(len(s) - 1) if (s[i], s[i + 1]) in ranks),
            default=None,
        )
        if r is None:
            break
        a, b = pairs[r]
        s = _rewrite(s, a, b)
    return s


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: Iterable[tuple[str, str]],
    *,
    end_marker: str = "</w>",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the document's BPE tokens under the learned
    ``merges`` (words segmented independently, results concatenated in
    word order).

    Scan-side only — the merge-rank table rides the UDF closure
    (broadcast with the task binary; a merge table is KBs), zero
    shuffle. A per-batch memo segments each DISTINCT word once per Arrow
    batch — under Zipf that collapses most of the work.
    """
    pairs = [tuple(p) for p in merges]
    ranks = {p: i for i, p in enumerate(pairs)}

    @F.pandas_udf("array<string>")
    def seg(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def apply(t):
            if t is None:
                return None
            out: list[str] = []
            for w in t.split(" "):
                if not w:
                    continue
                if w not in memo:
                    memo[w] = _segment_word(w, ranks, pairs, end_marker)
                out.extend(memo[w])
            return out

        return texts.map(apply)

    return df.withColumn(out_col, seg(F.col(text_col)))


def corpus_alphabet(df: DataFrame, text_col: str) -> list[str]:
    """The corpus' base symbol set: every distinct character appearing in
    any whitespace word, sorted — the bounded driver fetch that seeds
    :func:`build_vocab` (an alphabet is hundreds of rows for one script,
    tens of thousands for a full-Unicode web corpus; either is a trivial
    collect).

    One corpus scan: the word-count aggregate already needed by learning,
    then a character explode over the VOCAB (distinct words), never the
    corpus.
    """
    rows = (
        word_counts(df, text_col)
        .select(F.explode(F.split("word", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted(r["ch"] for r in rows)


def build_vocab(
    alphabet: Iterable[str],
    merges: Iterable[tuple[str, str]],
    *,
    end_marker: str = "</w>",
    specials: tuple[str, ...] = ("<unk>",),
) -> list[str]:
    """Deterministic token→id table: ``specials`` first, then the sorted
    base alphabet (plus ``end_marker``), then each merge's output token in
    learning order — the standard BPE id layout (ids are stable under
    corpus growth as long as the merge table is, because nothing here
    depends on token frequency). First occurrence wins when a merge
    reproduces an existing token.
    """
    seen: dict[str, int] = {}
    out: list[str] = []
    base = sorted(set(alphabet) | ({end_marker} if end_marker else set()))
    for tok in (*specials, *base, *(a + b for a, b in merges)):
        if tok not in seen:
            seen[tok] = len(out)
            out.append(tok)
    return out


def bpe_encode_ids(
    df: DataFrame,
    text_col: str,
    merges: Iterable[tuple[str, str]],
    vocab: list[str],
    *,
    end_marker: str = "</w>",
    unk: str = "<unk>",
    out_col: str = "token_ids",
) -> DataFrame:
    """Append ``out_col``: the document's token ids — BPE segmentation
    under ``merges`` followed by the ``vocab`` lookup (symbols outside the
    vocab map to ``unk``; NULL text stays NULL). The encode half of the
    tokenizer round trip; :func:`decode_ids` is the inverse.

    Same scale shape as :func:`bpe_segment`: scan-side only, the
    merge-rank and id tables ride the UDF closure (KBs–MBs), zero
    shuffle, per-batch distinct-word memo. Output is ``array<int>`` —
    feed it to ``pack_token_tape`` to materialize training sequences.
    """
    pairs = [tuple(p) for p in merges]
    ranks = {p: i for i, p in enumerate(pairs)}
    ids = {t: i for i, t in enumerate(vocab)}
    if len(ids) != len(vocab):
        raise ValueError("vocab contains duplicate tokens")
    if unk not in ids:
        raise ValueError(f"unk token {unk!r} is not in the vocab")
    unk_id = ids[unk]

    @F.pandas_udf("array<int>")
    def enc(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[int]] = {}

        def apply(t):
            if t is None:
                return None
            out: list[int] = []
            for w in t.split(" "):
                if not w:
                    continue
                if w not in memo:
                    memo[w] = [
                        ids.get(s, unk_id)
                        for s in _segment_word(w, ranks, pairs, end_marker)
                    ]
                out.extend(memo[w])
            return out

        return texts.map(apply)

    return df.withColumn(out_col, enc(F.col(text_col)))


def decode_ids(
    token_ids: Iterable[int],
    vocab: list[str],
    *,
    end_marker: str = "</w>",
) -> str:
    """Inverse of :func:`bpe_encode_ids` for loader-side spot checks:
    concatenate tokens, turn each ``end_marker`` back into a word break.
    Lossless for any document whose characters are all in the vocab AND
    whose text does not itself contain the ``end_marker`` string
    (single-space word separation, the registry's token convention).
    The marker caveat is inherent to the concat-then-split decode: a
    literal ``'</w>'`` run inside a word is indistinguishable from a
    word boundary after tokens are joined (e.g. scraped tokenizer docs)
    — pick a marker outside the corpus alphabet, or pre-escape, when
    round-tripping such text matters."""
    s = "".join(vocab[i] for i in token_ids)
    if end_marker:
        s = s.replace(end_marker, " ")
    return s.strip()
