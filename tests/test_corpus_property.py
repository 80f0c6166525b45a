"""Property-based tests (hypothesis) for the corpus-preparation operators:
Spark results are checked against independent pure-Python models on
arbitrary generated corpora. A single shared SparkSession drives many
hypothesis examples per test, so each property runs one Spark job over a
batch of generated documents rather than one job per example.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# ASCII word soup: the operators' tokenization contract is ASCII-\s
# (mirroring Java/RE2); property inputs stay in that regime on purpose —
# the Unicode-whitespace divergence is pinned by a dedicated example test.
_word = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
_doc = st.lists(_word, min_size=0, max_size=40).map(" ".join)


def _norm_words(t: str) -> list[str]:
    return re.sub(r"\s+", " ", t.strip().lower(), flags=re.ASCII).split(" ")


@settings(max_examples=12, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=12))
def test_pack_sequences_property(spark, docs):
    """For any corpus: per-group tape offsets are gapless, in-range, and
    equal to the running token total of every earlier doc in id order."""
    from mare_spark.operators.corpus import pack_sequences

    rows = [(i, "g", max(1, len(_norm_words(d)))) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n long")
    out = (
        pack_sequences(df, "n", "doc_id", group_col="grp", max_len=7)
        .orderBy("doc_id")
        .collect()
    )
    tape = 0
    for r in out:
        assert r.seq_id == tape // 7
        assert r.seq_offset == tape % 7
        tape += r.n_tokens


# emails restricted to the scrubber's documented (deliberately
# conservative, high-precision) pattern class — RFC oddities like a '*'
# local part are out of contract by design
_local = st.text(alphabet="abcdefgh0123._%+-", min_size=1, max_size=10).filter(
    lambda s: any(c.isalnum() for c in s)
)
_domain = st.text(alphabet="abcdefgh", min_size=1, max_size=8)
_email = st.builds(lambda l, d: f"{l}@{d}.com", _local, _domain)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_doc, min_size=1, max_size=8),
    st.lists(_email, min_size=0, max_size=3),
)
def test_pii_scrub_email_count_property(spark, docs, emails):
    """Inserting k in-contract emails into a clean document makes
    n_email >= k and removes every inserted address from the scrubbed
    text (adjacent doc words can never form an email — the doc alphabet
    has no '@')."""
    from mare_spark.operators.corpus import pii_scrub

    base = docs[0] if docs else ""
    text = base + " " + " ".join(emails)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = pii_scrub(df, "text", "doc_id").collect()[0]
    assert row.n_email >= len(emails)
    for e in emails:
        assert e not in row.scrubbed_text


@settings(max_examples=10, deadline=None)
@given(st.lists(_word, min_size=8, max_size=12), st.integers(0, 5))
def test_decontaminate_always_catches_verbatim_ngram(spark, secret_words, pad):
    """Any training doc containing a verbatim 8-word run from an eval doc
    is dropped; a doc with no 8-word overlap survives."""
    from mare_spark.operators.corpus import decontaminate_ngrams

    secret = " ".join(secret_words[:8])
    padding = " ".join(["zz"] * pad)
    train = spark.createDataFrame(
        [
            (1, f"{padding} {secret} trailing words here".strip()),
            (2, "completely separate content with no overlap at all x y"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, f"prefix {secret} suffix")], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id
        for r in decontaminate_ngrams(train, eval_df, "text", "doc_id", n=8).collect()
    )
    assert 1 not in kept
    assert 2 in kept


@settings(max_examples=8, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10))
def test_repetition_stats_matches_python_model(spark, docs):
    """Spark repetition signals equal an independent Python model on
    arbitrary ASCII corpora (rounding reproduced exactly: Spark round is
    half-up at 6dp)."""
    from decimal import ROUND_HALF_UP, Decimal

    from mare_spark.operators.corpus import repetition_stats

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
    for i, d in enumerate(docs):
        ws = _norm_words(d)
        n = len(ws)
        nd = len(set(ws))
        top = max(len([w for w in ws if w == x]) for x in set(ws))
        bg = [(ws[j], ws[j + 1]) for j in range(n - 1)]
        nbg, nbgd = len(bg), len(set(bg))
        assert got[i].n_tokens == n
        assert got[i].distinct_word_ratio == pytest.approx(r6(nd / max(n, 1)), abs=1e-9)
        assert got[i].top_word_frac == pytest.approx(r6(top / max(n, 1)), abs=1e-9)
        assert got[i].dup_bigram_frac == pytest.approx(
            r6((nbg - nbgd) / max(nbg, 1)), abs=1e-9
        )


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_word, min_size=12, max_size=20), min_size=4, max_size=8))
def test_minhash_subset_and_recall_property(spark, base_docs):
    """On arbitrary corpora with planted near-dups: the LSH tier's pairs
    are always a subset of the exact tier's, and every planted
    one-word-edit pair (j >= ~0.85 at 12+ words) is recovered — the
    invariant that caught the MinHash modulus bug."""
    from mare_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    rows = []
    for i, words in enumerate(base_docs):
        rows.append((2 * i, " ".join(words)))
        dup = list(words)
        dup[0] = dup[0] + "x"  # one-word edit: high but non-1.0 jaccard
        rows.append((2 * i + 1, " ".join(dup)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.6).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", num_perm=64, bands=16, threshold=0.6
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in exact.items():
        if j >= 0.85:
            assert pair in lsh, (pair, j)
    for pair, j in lsh.items():
        assert j == exact[pair]


# --- chunk-level boilerplate scrub (repeated_chunk_scrub) -------------------


def _chunk_model(docs, k=8, max_freq=2):
    """Pure-Python model of repeated_chunk_scrub: aligned k-word chunks,
    corpus-wide frequency, drop chunks with freq > max_freq, reassemble."""
    from collections import Counter

    chunks_per_doc = []
    for d in docs:
        ws = _norm_words(d)
        chunks_per_doc.append(
            [" ".join(ws[i : i + k]) for i in range(0, len(ws), k)]
        )
    freq = Counter(c for cs in chunks_per_doc for c in cs)
    out = {}
    for i, cs in enumerate(chunks_per_doc):
        kept = [c for c in cs if freq[c] <= max_freq]
        out[i] = (" ".join(kept), len(cs), len(cs) - len(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(_doc.filter(bool), min_size=1, max_size=10))
def test_repeated_chunk_scrub_property(spark, docs):
    """For any corpus the Spark scrub equals the pure-Python model:
    same surviving text, same chunk totals, same removed counts."""
    from mare_spark.operators.corpus import repeated_chunk_scrub

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_chunks_removed)
        for r in repeated_chunk_scrub(
            df, "text", "doc_id", chunk_words=3, max_freq=1
        ).collect()
    }
    assert got == _chunk_model(docs, k=3, max_freq=1)


def test_repeated_chunk_scrub_removes_planted_banner(spark):
    """A banner chunk shared by 3 docs is scrubbed everywhere; unique
    tails survive; a doc that is ONLY banner survives with empty text."""
    from mare_spark.operators.corpus import repeated_chunk_scrub

    banner = "this site uses cookies accept to continue ok"  # 8 words
    rows = [
        (0, banner + " unique tail zero"),
        (1, banner + " other tail one"),
        (2, banner),
        (3, "entirely unique document three with its own words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in repeated_chunk_scrub(
            df, "text", "doc_id", chunk_words=8, max_freq=2
        ).collect()
    }
    assert got[0].clean_text == "unique tail zero"
    assert got[1].clean_text == "other tail one"
    assert got[2].clean_text == "" and got[2].n_chunks_removed == 1
    assert got[3].n_chunks_removed == 0
    assert all(banner not in got[i].clean_text for i in got)


# --- hashed linear quality classifier ---------------------------------------


def _classifier_model(docs, buckets=4096, scale=1000):
    import hashlib
    import math

    out = {}
    for i, d in enumerate(docs):
        ws = _norm_words(d)
        s = 0
        for t in ws:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % buckets
            s += (b * 2654435761) % (2 * scale + 1) - scale
        score = math.floor(s / (scale * len(ws)) * 1e6 + 0.5) / 1e6
        out[i] = (len(ws), score, 1 if score >= 0.0 else 0)
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(_doc.filter(bool), min_size=1, max_size=10))
def test_hashed_quality_classifier_property(spark, docs):
    """Spark scores equal the pure-Python md5-arithmetic model exactly
    (token count, 6dp-snapped score, keep gate)."""
    from mare_spark.operators.corpus import hashed_quality_classifier

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.quality_score, r.keep_flag)
        for r in hashed_quality_classifier(df, "text", "doc_id").collect()
    }
    assert got == _classifier_model(docs)


def test_hashed_quality_classifier_score_bounds(spark):
    """Scores are means of weights in [-1, 1] and deterministic across
    invocations (a re-run scores byte-identically)."""
    from mare_spark.operators.corpus import hashed_quality_classifier

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("tok"), F.col("id").cast("string"),
            F.lit("alpha beta gamma"),
        ).alias("text"),
    )
    a = sorted(hashed_quality_classifier(df, "text", "doc_id").collect())
    b = sorted(hashed_quality_classifier(df, "text", "doc_id").collect())
    assert a == b
    assert all(-1.0 <= r.quality_score <= 1.0 for r in a)


# --- deterministic samplers (fixed-k, token-budget) -------------------------


def _md5_order(ids, salt=""):
    import hashlib

    return sorted(ids, key=lambda i: hashlib.md5(f"{i}{salt}".encode()).hexdigest())


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from("ab"), _doc.filter(bool)),
             min_size=1, max_size=14),
    st.integers(min_value=1, max_value=30),
)
def test_token_budget_sample_property(spark, rows, budget):
    """For any corpus: kept set equals the Python walk (md5 order,
    keep docs starting before the budget), cum_tokens is the inclusive
    running total, and every group overshoots by at most one document."""
    from mare_spark.operators.corpus import token_budget_sample

    data = [(i, g, d) for i, (g, d) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, grp string, text string")
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens)
        for r in token_budget_sample(
            df, "text", "doc_id", group_col="grp", budget_tokens=budget
        ).collect()
    }
    want = {}
    for g in {g for _, g, _ in data}:
        cum = 0
        for i in _md5_order([i for i, gg, _ in data if gg == g]):
            n = len(_norm_words(dict((i, d) for i, _, d in data)[i]))
            if cum < budget:
                want[i] = (n, cum + n)
            cum += n
    assert got == want


def test_group_fixed_k_sample_exact_sizes(spark):
    """Each group yields exactly min(k, |group|) rows, ranks are 1..k,
    and membership is stable across runs but changes with the salt."""
    from mare_spark.operators.corpus import group_fixed_k_sample

    rows = [(i, "big" if i < 40 else "small") for i in range(45)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = group_fixed_k_sample(df, "doc_id", group_col="grp", k=10).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r.sample_rank)
    assert sorted(by_grp["big"]) == list(range(1, 11))
    assert sorted(by_grp["small"]) == list(range(1, 6))
    again = group_fixed_k_sample(df, "doc_id", group_col="grp", k=10).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)
    salted = group_fixed_k_sample(
        df, "doc_id", group_col="grp", k=10, salt="x"
    ).collect()
    assert sorted(r.doc_id for r in salted) != sorted(r.doc_id for r in out)


def test_snapshot_diff_classes(spark):
    """Added/removed/changed/unchanged classification on a crafted pair
    of snapshots, including whitespace-only edits counting as unchanged
    (digests are over normalized text)."""
    from mare_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept  same"),
         (5, None), (6, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "gamma delta EDITED"), (3, "KEPT SAME"), (4, "brand new doc"),
         (5, None), (6, "was null now fixed")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.change
        for r in snapshot_diff(old, new, "text", "doc_id").collect()
    }
    # NULL-text docs present in both snapshots classify by the null-safe
    # digest compare (5: NULL==NULL -> unchanged; 6: NULL -> text -> changed),
    # never as added/removed
    assert got == {1: "removed", 2: "changed", 3: "unchanged", 4: "added",
                   5: "unchanged", 6: "changed"}


def test_repeated_chunk_scrub_null_text_drops(spark):
    """NULL-text documents drop from the scrub output on the engine side
    (tokenize(NULL) -> NULL -> no chunks) — the documented contract the
    SQL oracle shares (string_split(NULL) -> NULL -> no unnest rows)."""
    from mare_spark.operators.corpus import repeated_chunk_scrub

    df = spark.createDataFrame(
        [(0, "real words here"), (1, None)], "doc_id long, text string"
    )
    got = {r.doc_id for r in repeated_chunk_scrub(df, "text", "doc_id").collect()}
    assert got == {0}


def test_chunk_scrub_cms_superset_on_random_corpora(spark):
    """Operator-level conservativeness on random word-soup corpora: at a
    narrow sketch width the CMS tier's removals are a superset of the
    exact tier's per document, never a subset."""
    import random

    from mare_spark.operators.corpus import (
        repeated_chunk_scrub,
        repeated_chunk_scrub_cms,
    )

    rng = random.Random(5)
    docs = [
        (i, " ".join(rng.choice("abcdefgh") for _ in range(rng.randrange(1, 30))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        r.doc_id: r.n_chunks_removed
        for r in repeated_chunk_scrub(
            df, "text", "doc_id", chunk_words=3, max_freq=1
        ).collect()
    }
    cms = {
        r.doc_id: r.n_chunks_removed
        for r in repeated_chunk_scrub_cms(
            df, "text", "doc_id", chunk_words=3, max_freq=1, width_bits=4
        ).collect()
    }
    assert set(cms) == set(exact)
    assert all(cms[d] >= exact[d] for d in exact)


def test_token_budget_sample_shards_scale_path(spark):
    """shards=N: per-(group, shard) overshoot stays <= one document, the
    total stays near the budget, and membership is deterministic across
    runs. shards=None remains the original single-walk contract."""
    from mare_spark.operators.corpus import token_budget_sample
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    budget = 3000
    out = token_budget_sample(
        docs, "text", "doc_id", group_col="lang", budget_tokens=budget,
        shards=4,
    )
    rows = out.collect()
    assert rows
    per_walk = budget / 4
    by_walk = {}
    for r in rows:
        by_walk.setdefault((r.lang, r.budget_shard), []).append(r)
    for walk in by_walk.values():
        # every doc STARTS under the shard budget; only the last may cross
        n_over = sum(1 for r in walk if r.cum_tokens > per_walk)
        assert n_over <= 1, walk
    # deterministic across invocations
    again = {(r.doc_id, r.budget_shard) for r in token_budget_sample(
        docs, "text", "doc_id", group_col="lang", budget_tokens=budget,
        shards=4,
    ).collect()}
    assert {(r.doc_id, r.budget_shard) for r in rows} == again
    # rejects nonsense
    import pytest as _pytest
    with _pytest.raises(ValueError, match="shards"):
        token_budget_sample(
            docs, "text", "doc_id", group_col="lang", budget_tokens=10,
            shards=0,
        )


@settings(max_examples=8, deadline=None)
@given(st.lists(_word, min_size=8, max_size=12), st.integers(0, 4))
def test_overlap_report_is_exactly_the_dropped_set(spark, secret_words, pad):
    """ngram_overlap_report's id set must equal the complement of
    decontaminate_ngrams' kept set (same grams, graded vs binary view),
    and a verbatim full-overlap doc must report overlap_frac near 1."""
    from mare_spark.operators.corpus import (
        decontaminate_ngrams,
        ngram_overlap_report,
    )

    secret = " ".join(secret_words[:8])
    padding = " ".join(["zz"] * pad)
    train = spark.createDataFrame(
        [
            (1, f"{padding} {secret} trailing words here".strip()),
            (2, "completely separate content with no overlap at all x y"),
            (3, secret),  # verbatim eval subset: every gram matches
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, f"prefix {secret} suffix")], "doc_id long, text string"
    )
    kept = {
        r.doc_id
        for r in decontaminate_ngrams(train, eval_df, "text", "doc_id", n=8).collect()
    }
    report = {
        r.doc_id: r
        for r in ngram_overlap_report(train, eval_df, "text", "doc_id", n=8).collect()
    }
    all_ids = {1, 2, 3}
    assert set(report) == all_ids - kept
    assert report[3].overlap_frac == 1.0
    for r in report.values():
        assert 0 < r.overlap_frac <= 1.0
        assert 1 <= r.n_matched <= r.n_grams


def test_pack_sequences_rejects_reserved_column_names(spark):
    from mare_spark.operators.corpus import pack_sequences

    df = spark.createDataFrame(
        [(1, 5, "a")], "seq_id long, nt long, grp string"
    )
    with pytest.raises(ValueError, match="reserved"):
        pack_sequences(df, "nt", "seq_id", group_col="grp", max_len=8)
    df2 = spark.createDataFrame(
        [(1, 5, "a")], "id long, nt long, pack_shard string"
    )
    with pytest.raises(ValueError, match="reserved"):
        pack_sequences(df2, "nt", "id", group_col="pack_shard",
                       max_len=8, shards=2)
    # benign: token_col literally named n_tokens re-aliases to itself
    df3 = spark.createDataFrame([(1, 5)], "id long, n_tokens long")
    assert pack_sequences(df3, "n_tokens", "id", max_len=8,
                          shards=2).count() == 1


def test_bigram_logprob_penalizes_word_salad(spark):
    """Same unigram distribution, different transitions: a fluent doc
    whose bigrams repeat corpus-wide outscores a shuffled word salad of
    the SAME words (the failure mode unigram scoring cannot see)."""
    from mare_spark.operators.corpus import bigram_logprob

    fluent = "the cat sat on the mat"
    salad = "mat the on cat the sat"
    corpus = [(i, fluent) for i in range(9)] + [(100, salad)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.avg_logprob for r in
           bigram_logprob(df, "text", "doc_id").collect()}
    assert got[0] > got[100]
    # repeated fluent docs all share one score
    assert len({got[i] for i in range(9)}) == 1


def test_bigram_logprob_short_docs_drop_and_layout_independent(spark):
    from mare_spark.operators.corpus import bigram_logprob

    df = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "two words"), (4, "two words here")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, bigram_logprob(df, "text", "doc_id").collect()))
    assert [t[0] for t in a] == [3, 4]  # <2-token docs have no transitions
    b = sorted(map(tuple,
                   bigram_logprob(df.repartition(7), "text",
                                  "doc_id").collect()))
    assert a == b


# --- pack_token_tape ---------------------------------------------------------

def _py_tape(rows, max_len):
    """Pure-Python tape model: rows = [(id, group, ids)] -> per (group,
    seq_id) the flattened token slice of the group tape, docs in id order."""
    tapes = {}
    for _i, g, ids in sorted(rows):
        if ids:
            tapes.setdefault(g, []).extend(ids)
    out = {}
    for g, tape in tapes.items():
        for q in range(0, (len(tape) + max_len - 1) // max_len):
            out[(g, q)] = tape[q * max_len : (q + 1) * max_len]
    return out


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=99),
                 min_size=0, max_size=23),
        min_size=1, max_size=14,
    )
)
def test_pack_token_tape_property(spark, docs):
    """For any corpus of token-id arrays: the materialized sequences are
    exactly the pure-Python tape cut every max_len, docs in id order,
    including documents straddling cuts and multi-sequence documents."""
    from mare_spark.operators.corpus import pack_token_tape

    rows = [(i, "g" if i % 3 else "h", ids) for i, ids in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, grp string, ids array<int>"
    )
    got = {
        (r.grp, r.seq_id): list(r.token_ids)
        for r in pack_token_tape(
            df, "ids", "doc_id", group_col="grp", max_len=7
        ).collect()
    }
    assert got == _py_tape(rows, 7)
    for (_g, _q), ids in got.items():
        assert 1 <= len(ids) <= 7


def test_pack_token_tape_agrees_with_pack_sequences(spark):
    """The tape op and the placement op must describe the SAME tape: a
    document whose pack_sequences placement is (seq, off) finds its first
    token at position off of sequence seq."""
    from mare_spark.operators.corpus import pack_sequences, pack_token_tape

    rows = [(i, [i * 100 + j for j in range(n)])
            for i, n in enumerate([3, 9, 1, 14, 2, 5])]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    placed = {
        r.doc_id: (r.seq_id, r.seq_offset)
        for r in pack_sequences(
            df.select("doc_id", F.size("ids").alias("n")),
            "n", "doc_id", shards=1, max_len=8,
        ).collect()
    }
    seqs = {
        r.seq_id: list(r.token_ids)
        for r in pack_token_tape(
            df, "ids", "doc_id", shards=1, max_len=8
        ).collect()
    }
    for doc_id, ids in rows:
        seq, off = placed[doc_id]
        assert seqs[seq][off] == ids[0]


def test_pack_token_tape_drops_empty_and_null_docs(spark):
    from mare_spark.operators.corpus import pack_token_tape

    df = spark.createDataFrame(
        [(0, [1, 2]), (1, []), (2, None), (3, [3])],
        "doc_id long, ids array<int>",
    )
    with pytest.warns(RuntimeWarning, match="single window partition"):
        out = pack_token_tape(df, "ids", "doc_id", max_len=4).collect()
    assert len(out) == 1 and list(out[0].token_ids) == [1, 2, 3]


def test_pack_token_tape_shards_partition_the_corpus(spark):
    """With shards=N every document's tokens land on exactly one shard
    tape, and the multiset of all packed tokens equals the input."""
    from mare_spark.operators.corpus import pack_token_tape

    rows = [(i, list(range(i * 10, i * 10 + 1 + i % 4))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = pack_token_tape(df, "ids", "doc_id", shards=3, max_len=5).collect()
    assert {r.pack_shard for r in out} <= {0, 1, 2}
    got = sorted(t for r in out for t in r.token_ids)
    assert got == sorted(t for _i, ids in rows for t in ids)


def test_pack_token_tape_validates_inputs(spark):
    from mare_spark.operators.corpus import pack_token_tape

    df = spark.createDataFrame([(0, [1])], "seq_id long, ids array<int>")
    with pytest.raises(ValueError, match="clash"):
        pack_token_tape(df, "ids", "seq_id", shards=1)
    df2 = spark.createDataFrame([(0, [1])], "id long, ids array<int>")
    with pytest.raises(ValueError, match="max_len"):
        pack_token_tape(df2, "ids", "id", shards=1, max_len=0)
    with pytest.raises(ValueError, match="shards"):
        pack_token_tape(df2, "ids", "id", shards=0)


def test_pack_token_tape_boundaries_match_python_model(spark):
    """doc_starts = 0-based in-sequence offsets where a new document
    begins; a sequence that only continues a straddling doc has none."""
    from mare_spark.operators.corpus import pack_token_tape

    rows = [(0, list(range(3))), (1, list(range(100, 118))),
            (2, [7]), (3, list(range(200, 206)))]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = {
        r.seq_id: (list(r.token_ids), list(r.doc_starts))
        for r in pack_token_tape(
            df, "ids", "doc_id", shards=1, max_len=8, boundaries=True
        ).collect()
    }
    # tape: doc0 [0,3) doc1 [3,21) doc2 [21,22) doc3 [22,28)
    assert out[0][1] == [0, 3]
    assert out[1][1] == []          # seq 1 = tokens 8..16, all inside doc1
    assert out[2][1] == [5, 6]      # doc2 at 21, doc3 at 22
    assert out[3][1] == []
    # boundary offsets index the first token of each doc
    assert out[0][0][3] == 100 and out[2][0][5] == 7 and out[2][0][6] == 200

    with pytest.raises(ValueError, match="clash"):
        pack_token_tape(
            df.withColumnRenamed("ids", "doc_starts"),
            "doc_starts", "doc_id", shards=1, boundaries=True,
        )


# --- intra_doc_chunk_dedup ---------------------------------------------------

def _py_intra_dedup(text, n=4):
    words = _norm_words(text)
    chunks = [" ".join(words[i : i + n]) for i in range(0, len(words), n)]
    seen, kept = set(), []
    for c in chunks:
        if c not in seen:
            seen.add(c)
            kept.append(c)
    return " ".join(kept), len(chunks), len(chunks) - len(kept)


def test_intra_doc_dedup_removes_planted_self_repeats(spark):
    """A doc repeating its own paragraph loses the later copies; a doc
    with all-distinct chunks is untouched; chunk alignment means only
    ALIGNED repeats collapse (the documented contract, same as the
    corpus-level scrub)."""
    from mare_spark.operators.corpus import intra_doc_chunk_dedup

    para = "alpha beta gamma delta"          # exactly one 4-word chunk
    selfrep = f"{para} {para} {para} omega epsilon zeta eta"
    clean = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(0, selfrep), (1, clean)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in
            intra_doc_chunk_dedup(df, "text", "doc_id",
                                  chunk_words=4).collect()}
    assert rows[0].clean_text == f"{para} omega epsilon zeta eta"
    assert rows[0].n_chunks == 4 and rows[0].n_chunks_removed == 2
    assert rows[1].clean_text == clean
    assert rows[1].n_chunks_removed == 0


@settings(max_examples=15, deadline=None)
@given(st.lists(_doc, min_size=1, max_size=8))
def test_intra_doc_dedup_matches_python_model(spark, docs):
    """For arbitrary corpora the operator equals the pure-Python
    first-occurrence chunk model on every document."""
    from mare_spark.operators.corpus import intra_doc_chunk_dedup

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_chunks, r.n_chunks_removed)
        for r in intra_doc_chunk_dedup(
            df, "text", "doc_id", chunk_words=4
        ).collect()
    }
    for i, d in rows:
        assert got[i] == _py_intra_dedup(d, 4), (i, d)


def test_intra_doc_dedup_is_shuffle_free(spark):
    from mare_spark import plans as P
    from mare_spark.operators.corpus import intra_doc_chunk_dedup

    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    out = intra_doc_chunk_dedup(df, "text", "doc_id")
    assert P.count_shuffle_exchanges(out) == 0, P.formatted_plan(out)


# --- curriculum_order --------------------------------------------------------

def test_curriculum_order_duckdb_replay(spark):
    """Full DuckDB replay of the curriculum order over the documents
    fixture (hashed quality score staged at fixed breaks, md5 epoch
    order within stage) — the same oracle-grade compare the registry
    uses, run from pytest."""
    from pyspark.sql import functions as F

    from mare_spark.operators.corpus import curriculum_order
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    docs = read_table(spark, SF_SMOKE, "documents").select(
        "doc_id", (F.col("n_chars") / 1000.0).alias("score")
    )
    got = curriculum_order(
        docs, "score", "doc_id",
        breaks=(0.2, 0.5), n_shards=4, epoch=1, salt="s",
    )
    compare(got, """
    WITH t AS (
      SELECT doc_id,
             CAST(n_chars / 1000.0 >= 0.2 AS INT)
               + CAST(n_chars / 1000.0 >= 0.5 AS INT) AS stage,
             md5(CAST(doc_id AS VARCHAR) || ':1:s') AS ord
      FROM documents
    ),
    s AS (
      SELECT doc_id, stage,
             CAST(CAST('0x' || substr(ord, 1, 15) AS BIGINT) % 4 AS INT)
               AS shard,
             ord
      FROM t
    )
    SELECT doc_id, stage, shard,
           CAST(row_number() OVER (
             PARTITION BY stage, shard ORDER BY ord, doc_id) AS INT)
             AS position
    FROM s
    """, SF_SMOKE)


def test_curriculum_order_contract(spark):
    """Stages ascend with score, (stage, shard, position) is a unique
    replay address, epoch changes reorder within stages but never move a
    doc ACROSS stages, and validation guards fire."""
    import pytest

    from mare_spark.operators.corpus import curriculum_order

    rows = [(i, i / 10.0) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = curriculum_order(
        df, "score", "doc_id", breaks=(1.0, 2.0), n_shards=3
    ).collect()
    stage_of = {r.doc_id: r.stage for r in out}
    for i, s in rows:
        assert stage_of[i] == (s >= 1.0) + (s >= 2.0)
    addrs = [(r.stage, r.shard, r.position) for r in out]
    assert len(set(addrs)) == len(addrs)

    other = curriculum_order(
        df, "score", "doc_id", breaks=(1.0, 2.0), n_shards=3, epoch=2
    ).collect()
    assert {r.doc_id: r.stage for r in other} == stage_of  # stages stable
    assert {(r.doc_id, r.shard, r.position) for r in other} != {
        (r.doc_id, r.shard, r.position) for r in out
    }  # order reshuffles

    with pytest.raises(ValueError, match="ascending"):
        curriculum_order(df, "score", "doc_id", breaks=(2.0, 1.0),
                         n_shards=2)
    with pytest.raises(ValueError, match="clash"):
        curriculum_order(
            df.withColumnRenamed("score", "stage"), "stage", "doc_id",
            breaks=(1.0,), n_shards=2,
        )


def test_pack_token_tape_layout_independent(spark):
    """Repartitioning the corpus may not change a single sequence —
    placements are a pure function of (group, id order)."""
    from mare_spark.operators.corpus import pack_token_tape

    rows = [(i, list(range(i * 7, i * 7 + 2 + i % 6))) for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    a = {(r.pack_shard, r.seq_id): list(r.token_ids)
         for r in pack_token_tape(df, "ids", "doc_id",
                                  shards=2, max_len=9).collect()}
    b = {(r.pack_shard, r.seq_id): list(r.token_ids)
         for r in pack_token_tape(df.repartition(11), "ids", "doc_id",
                                  shards=2, max_len=9).collect()}
    assert a == b


def test_review_guards_corpus_ops(spark):
    """Review-driven guards across the corpus family: empty curriculum
    breaks raise cleanly; pack_sequences rejects max_len<1 up front
    (instead of an ANSI divide-by-zero mid-job); scrub tiers and the
    fixed-k sampler name reserved-column clashes; NULL-text rows get
    NULL stats (not phantom 1-token documents) and drop out of the
    intra-doc dedup like the corpus-level scrub tiers."""
    from pyspark.sql import functions as F

    from mare_spark.operators.corpus import (
        curriculum_order,
        group_fixed_k_sample,
        intra_doc_chunk_dedup,
        pack_sequences,
        quality_gates,
        repeated_chunk_scrub,
        repetition_stats,
        write_packed_corpus,
    )

    df = spark.createDataFrame(
        [(0, "a b c", 1.0), (1, None, 2.0)],
        "doc_id long, text string, score double",
    )
    with pytest.raises(ValueError, match="non-empty"):
        curriculum_order(df, "score", "doc_id", breaks=(), n_shards=2)
    with pytest.raises(ValueError, match="max_len"):
        pack_sequences(
            df.select("doc_id", F.lit(3).alias("n")), "n", "doc_id",
            shards=1, max_len=0,
        )
    with pytest.raises(ValueError, match="clash"):
        repeated_chunk_scrub(
            df.withColumnRenamed("score", "chunk"), "text", "doc_id",
            keep_cols=("chunk",),
        )
    with pytest.raises(ValueError, match="sample_rank"):
        group_fixed_k_sample(
            df.withColumnRenamed("score", "sample_rank"),
            "doc_id", group_col="sample_rank", k=1,
        )
    with pytest.raises(ValueError, match="clash"):
        write_packed_corpus(
            df.select("doc_id", "text", F.lit(1).alias("seq_id")),
            "/tmp/never", "text", "seq_id", "doc_id",
        )

    # NULL text: NULL stats, not a phantom one-token doc
    stats = {r.doc_id: r for r in
             repetition_stats(df, "text", "doc_id").collect()}
    assert stats[1].n_tokens is None
    assert stats[1].distinct_word_ratio is None
    assert stats[0].n_tokens == 3
    gates = {r.doc_id: r for r in
             quality_gates(df, "text", "doc_id").collect()}
    assert gates[1].gate_len is None and gates[1].kept is None
    # ...and the intra-doc dedup drops the row (scrub-tier contract)
    out = intra_doc_chunk_dedup(df, "text", "doc_id").collect()
    assert {r.doc_id for r in out} == {0}


def test_mixture_sampling_ignores_null_strata(spark):
    """NULL-strata rows neither appear in the output (non-null-safe
    join) NOR skew the temperature denominator of the real strata."""
    from mare_spark.operators.corpus import apply_mixture_sampling

    base = [(i, "en") for i in range(90)] + [(i + 90, None) for i in range(10)]
    df = spark.createDataFrame(base, "doc_id long, lang string")
    out = apply_mixture_sampling(df, "lang", "doc_id", base_rate=1.0)
    rows = out.collect()
    assert all(r.lang == "en" for r in rows)
    # single real stratum at base_rate=1.0 -> EVERY 'en' row kept
    # (a phantom NULL stratum in the denominator would shrink the rate)
    assert len(rows) == 90
