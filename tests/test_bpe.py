"""BPE learning/segmentation vs a pure-Python reference, plus the
deterministic epoch-shuffle contract.

The reference implements classic Sennrich BPE directly on a word-count
dict; the Spark tier must produce the IDENTICAL merge list (same
max-count/lexicographic tie-break) and identical segmentations —
partition-layout independence included (learning on a repartitioned
corpus may not change a single merge).
"""

from collections import Counter

import pytest


# --- pure-Python reference -------------------------------------------------

def py_word_counts(texts):
    c = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return c


def py_learn_bpe(texts, num_merges, end_marker="</w>", min_count=2):
    wc = py_word_counts(texts)
    vocab = {w: list(w) + ([end_marker] if end_marker else [])
             for w in wc}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        for w, syms in vocab.items():
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def py_segment_word(word, merges, end_marker="</w>"):
    ranks = {p: i for i, p in enumerate(merges)}
    s = list(word) + ([end_marker] if end_marker else [])
    while len(s) > 1:
        cand = [(ranks[(s[i], s[i + 1])], i)
                for i in range(len(s) - 1) if (s[i], s[i + 1]) in ranks]
        if not cand:
            break
        a, b = merges[min(cand)[0]]
        out, i, n = [], 0, len(s)
        while i < n:
            if i + 1 < n and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "low lower lowest low low",
    "newer newest new new new",
    "the the the cat cat",
    "",
    "a b c aa bb aaa",
]


# --- learning --------------------------------------------------------------

def test_learn_matches_python_reference(spark):
    from mare_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = learn_bpe_merges(df, "text", 12)
    want = py_learn_bpe(CORPUS, 12)
    assert got == want
    assert len(got) == 12  # this corpus supports at least 12 merges


def test_learn_is_partition_layout_independent(spark):
    """Repartitioning the corpus may not change a single learned merge —
    the determinism property rand()-seeded trainers lack."""
    from mare_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    a = learn_bpe_merges(df, "text", 8)
    b = learn_bpe_merges(df.repartition(7), "text", 8)
    assert a == b


def test_learn_stops_when_no_pair_reaches_min_count(spark):
    from mare_spark.operators.bpe import learn_bpe_merges

    # every word appears once and shares no letters -> all pair counts 1
    df = spark.createDataFrame([("ab cd ef",)], "text string")
    assert learn_bpe_merges(df, "text", 10, min_count=2) == []


def test_learn_without_end_marker(spark):
    from mare_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = learn_bpe_merges(df, "text", 6, end_marker="")
    want = py_learn_bpe(CORPUS, 6, end_marker="")
    assert got == want


def test_greedy_left_to_right_merge_convention(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] (and 'aaa' ->
    [aa, a]): the training rewrite is greedy left-to-right, pinned here
    because both engines' tiers must share it."""
    from mare_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame(
        [("aaaa aaaa aaa",)], "text string"
    )
    merges = learn_bpe_merges(df, "text", 2, end_marker="")
    # (a,a) is the only possible first merge; after rewriting, 'aaaa'
    # is [aa,aa] (count 2 per word) so (aa,aa) is the next merge
    assert merges == [("a", "a"), ("aa", "aa")]


def test_char_pair_counts_match_reference(spark):
    from mare_spark.operators.bpe import char_pair_counts

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = {
        (r.a, r.b): r.pair_count for r in char_pair_counts(df, "text").collect()
    }
    wc = py_word_counts(CORPUS)
    want = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            want[(w[i], w[i + 1])] += c
    assert got == dict(want)


# --- segmentation ----------------------------------------------------------

def test_segment_matches_python_reference(spark):
    from mare_spark.operators.bpe import bpe_segment, learn_bpe_merges

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "id long, text string"
    )
    merges = learn_bpe_merges(df, "text", 10)
    out = {
        r.id: r.bpe_tokens
        for r in bpe_segment(df, "text", merges).collect()
    }
    for i, t in enumerate(CORPUS):
        want = []
        for w in t.split(" "):
            if w:
                want.extend(py_segment_word(w, merges))
        assert out[i] == want, (i, t)


def test_segment_null_and_unknown_words(spark):
    from mare_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame(
        [(1, None), (2, "zzz qqq"), (3, "")],
        "id long, text string",
    )
    out = {r.id: r.bpe_tokens for r in
           bpe_segment(df, "text", [("a", "b")]).collect()}
    assert out[1] is None
    # unknown words fall back to chars + end marker
    assert out[2] == ["z", "z", "z", "</w>", "q", "q", "q", "</w>"]
    assert out[3] == []


def test_segment_roundtrip_reconstructs_text(spark):
    """Stripping the end markers and joining must reconstruct the
    original words — segmentation is lossless."""
    from mare_spark.operators.bpe import bpe_segment, learn_bpe_merges

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS) if t], "id long, text string"
    )
    merges = learn_bpe_merges(df, "text", 10)
    for r in bpe_segment(df, "text", merges).collect():
        words, cur = [], ""
        for tok in r.bpe_tokens:
            if tok.endswith("</w>"):
                words.append(cur + tok[: -len("</w>")])
                cur = ""
            else:
                cur += tok
        assert cur == ""
        assert words == [w for w in CORPUS[r.id].split(" ") if w]


# --- epoch shuffle ---------------------------------------------------------

def test_epoch_shuffle_is_a_permutation(spark):
    from mare_spark.operators.corpus import epoch_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = epoch_shuffle(df, "doc_id", n_shards=8).collect()
    assert sorted(r.doc_id for r in out) == list(range(500))
    # positions are contiguous 1..len within each shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_epoch_shuffle_deterministic_and_epoch_sensitive(spark):
    from mare_spark.operators.corpus import epoch_shuffle

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")

    def order(epoch, d=df):
        rows = epoch_shuffle(d, "doc_id", n_shards=4, epoch=epoch).collect()
        return sorted((r.shard, r.position, r.doc_id) for r in rows)

    assert order(0) == order(0)
    # partition-layout independence
    assert order(0) == order(0, df.repartition(13))
    # a new epoch is a genuinely different order AND different sharding
    e0, e1 = order(0), order(1)
    assert e0 != e1
    assert {t[2] for t in e0} == {t[2] for t in e1}


def test_epoch_shuffle_validates_shards(spark):
    from mare_spark.operators.corpus import epoch_shuffle

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(df, "doc_id", n_shards=0)


# --- driver-path learning (bounded vocab) -----------------------------------

def test_driver_and_distributed_learning_agree(spark, monkeypatch):
    """Both learn_bpe_merges paths — driver in-memory loop (vocab within
    _DRIVER_VOCAB_LIMIT) and distributed per-round jobs (a limit of 0
    forces the fallback) — must produce the identical merge table."""
    import mare_spark.operators.bpe as B
    from mare_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    fast = learn_bpe_merges(df, "text", 12)
    monkeypatch.setattr(B, "_DRIVER_VOCAB_LIMIT", 0)
    slow = learn_bpe_merges(df, "text", 12)
    want = py_learn_bpe(CORPUS, 12)
    assert fast == slow == want


def test_distributed_checkpoint_rounds_agree(spark, monkeypatch):
    """A checkpoint interval that fires mid-run (lineage truncation via
    localCheckpoint) may not change a single merge."""
    import mare_spark.operators.bpe as B
    from mare_spark.operators.bpe import learn_bpe_merges

    monkeypatch.setattr(B, "_DRIVER_VOCAB_LIMIT", 0)
    monkeypatch.setattr(B, "_CHECKPOINT_EVERY", 3)
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = learn_bpe_merges(df, "text", 8)
    assert got == py_learn_bpe(CORPUS, 8)


def test_driver_loop_learns_1k_merges_fast(spark):
    """Production merge counts are viable: ≥1000 merges learned with full
    merge-table equality to the pure-Python reference, in seconds (the
    incremental driver loop does the 1000 rounds in well under a second;
    the distributed fallback would pay 1000 Spark jobs)."""
    import random
    import time

    from mare_spark.operators.bpe import learn_bpe_merges

    rng = random.Random(42)
    alpha = "abcdefghij"
    words = sorted({"".join(rng.choice(alpha) for _ in range(12))
                    for _ in range(400)})
    corpus = [" ".join(words)]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    t0 = time.time()
    got = learn_bpe_merges(df, "text", 1000, min_count=1)
    elapsed = time.time() - t0
    assert got == py_learn_bpe(corpus, 1000, min_count=1)
    assert len(got) == 1000
    assert elapsed < 60  # driver loop: ~1 Spark job + in-memory rounds


def test_epoch_shuffle_rejects_reserved_column_names(spark):
    from mare_spark.operators.corpus import epoch_shuffle

    df = spark.range(3).withColumnRenamed("id", "shard")
    with pytest.raises(ValueError, match="reserved"):
        epoch_shuffle(df, "shard", n_shards=2)
    from pyspark.sql import functions as F

    df2 = (spark.range(3).withColumnRenamed("id", "doc_id")
           .withColumn("position", F.lit(0)))
    with pytest.raises(ValueError, match="reserved"):
        epoch_shuffle(df2, "doc_id", n_shards=2, keep_cols=("position",))


def test_epoch_shuffle_shard_width_unbiased(spark):
    """Shard assignment uses 60 hash bits, not 16: with n_shards above
    65536 every shard must still be reachable (the old 4-hex-digit
    prefix left shards ≥65536 permanently empty)."""
    from mare_spark.operators.corpus import epoch_shuffle

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    shards = {r.shard for r in
              epoch_shuffle(df, "doc_id", n_shards=100_000).collect()}
    assert max(shards) > 65536  # 16-bit prefix could never reach these
    assert min(shards) >= 0


# --- encode-to-ids ----------------------------------------------------------

def test_encode_ids_matches_segment_plus_lookup(spark):
    """bpe_encode_ids == bpe_segment composed with the vocab lookup, and
    the id table layout is specials + sorted alphabet + merges in order."""
    from mare_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_segment,
        build_vocab,
        corpus_alphabet,
        learn_bpe_merges,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "id long, text string"
    )
    merges = learn_bpe_merges(df, "text", 10)
    alphabet = corpus_alphabet(df, "text")
    assert alphabet == sorted(set("".join(CORPUS).replace(" ", "")))
    vocab = build_vocab(alphabet, merges)
    assert vocab[0] == "<unk>"
    assert vocab[1 : 1 + len(alphabet) + 1] == sorted([*alphabet, "</w>"])
    assert vocab[1 + len(alphabet) + 1 :] == [a + b for a, b in merges]

    ids = {t: i for i, t in enumerate(vocab)}
    seg = {r.id: r.bpe_tokens
           for r in bpe_segment(df, "text", merges).collect()}
    got = {r.id: r.token_ids
           for r in bpe_encode_ids(df, "text", merges, vocab).collect()}
    for i in seg:
        assert got[i] == [ids[t] for t in seg[i]]


def test_encode_decode_roundtrip(spark):
    """encode -> decode reconstructs every document up to single-space
    word separation (the registry token convention)."""
    from mare_spark.operators.bpe import (
        bpe_encode_ids,
        build_vocab,
        corpus_alphabet,
        decode_ids,
        learn_bpe_merges,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "id long, text string"
    )
    merges = learn_bpe_merges(df, "text", 12)
    vocab = build_vocab(corpus_alphabet(df, "text"), merges)
    got = {r.id: r.token_ids
           for r in bpe_encode_ids(df, "text", merges, vocab).collect()}
    for i, t in enumerate(CORPUS):
        normalized = " ".join(w for w in t.split(" ") if w)
        assert decode_ids(got[i], vocab) == normalized


def test_encode_ids_unknown_symbol_and_null(spark):
    """Symbols outside the vocab map to the unk id; NULL text stays NULL.
    Unknowns are WORD-level after segmentation: an unseen character makes
    unknown SYMBOLS, known characters around it still encode."""
    from mare_spark.operators.bpe import (
        bpe_encode_ids,
        build_vocab,
        corpus_alphabet,
        learn_bpe_merges,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "id long, text string"
    )
    merges = learn_bpe_merges(df, "text", 6)
    vocab = build_vocab(corpus_alphabet(df, "text"), merges)
    probe = spark.createDataFrame(
        [(0, "cat Zat"), (1, None)], "id long, text string"
    )
    rows = {r.id: r.token_ids
            for r in bpe_encode_ids(probe, "text", merges, vocab).collect()}
    assert rows[1] is None
    assert 0 in rows[0]  # "Z" is not in the training alphabet -> unk id 0
    known = [i for i in rows[0] if i != 0]
    assert known  # the surrounding known characters still encode


def test_encode_ids_validates_vocab(spark):
    from mare_spark.operators.bpe import bpe_encode_ids

    df = spark.createDataFrame([(0, "a")], "id long, text string")
    with pytest.raises(ValueError, match="unk"):
        bpe_encode_ids(df, "text", [], ["a", "b"])
    with pytest.raises(ValueError, match="duplicate"):
        bpe_encode_ids(df, "text", [], ["<unk>", "a", "a"])


def test_build_vocab_dedups_first_wins():
    """A merge that reproduces an existing token (or a special) must not
    create a second id for it."""
    from mare_spark.operators.bpe import build_vocab

    vocab = build_vocab(["a", "b"], [("a", "b"), ("a", "b")])
    assert vocab.count("ab") == 1
    assert vocab == ["<unk>", "</w>", "a", "b", "ab"]
