"""End-to-end training-data pipeline: the full user story, composed from
registered operators and checked stage by stage —

  quality gate → near-dup dedup (cluster-resolved) → benchmark
  decontamination → sequence packing → deterministic epoch shuffle →
  sharded export with manifest → integrity verify → incremental refresh
  after an upstream edit.

Each stage's invariant is asserted against first principles (row
conservation, containment, determinism), not against another engine —
the per-operator oracles live in test_queries_oracle; this test guards
the SEAMS between families, which no single-operator test exercises.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mare_spark.operators.corpus import (
    decontaminate_ngrams,
    epoch_shuffle,
    pack_sequences,
)
from mare_spark.cache import cache_scope
from mare_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
from mare_spark.operators.export import (
    export_training_shards,
    refresh_training_shards,
    verify_export,
)
from mare_spark.operators.text import tokens
from mare_spark.tables import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def cleaned(spark):
    """Stages 1-3 (gate → dedup → decontaminate), shared by the tests."""
    docs = read_table(spark, SF_SMOKE, "documents")

    gated = docs.withColumn("n_tokens", F.size(tokens(F.col("text")))).filter(
        F.col("n_tokens") >= 30
    )

    with cache_scope():
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
        clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("member") != F.col("cluster")).select(
        F.col("member").alias("doc_id")
    )
    deduped = gated.join(drop, "doc_id", "left_anti")

    # a small "benchmark" carved from the corpus itself guarantees overlap
    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("text").alias("eval_text")
    )
    clean = decontaminate_ngrams(
        deduped, eval_df, "text", "doc_id", eval_text_col="eval_text", n=8
    )
    clean = clean.select("doc_id", "text", "lang", "n_tokens").persist()
    clean.count()
    yield {"docs": docs, "gated": gated, "deduped": deduped, "clean": clean}
    clean.unpersist()


def test_stage_containment_and_conservation(spark, cleaned):
    n_docs = cleaned["docs"].count()
    n_gated = cleaned["gated"].count()
    n_deduped = cleaned["deduped"].count()
    n_clean = cleaned["clean"].count()
    # monotone shrinking, nothing invented
    assert n_docs >= n_gated >= n_deduped >= n_clean > 0
    # each stage's survivors are a subset of the previous stage's ids
    assert (
        cleaned["clean"]
        .select("doc_id")
        .exceptAll(cleaned["deduped"].select("doc_id"))
        .count()
        == 0
    )
    # dedup dropped at least the corpus's seeded near-dups, and the
    # decontamination dropped at least the carved-out eval docs that
    # survived to its input
    assert n_deduped < n_gated
    assert n_clean < n_deduped


def test_pack_shuffle_export_roundtrip(spark, cleaned, tmp_path):
    clean = cleaned["clean"]

    packed = pack_sequences(clean, "n_tokens", "doc_id", max_len=512, shards=4)
    # packing conserves documents and never splits one across shard keys
    assert packed.count() == clean.count()
    assert packed.filter(F.col("seq_offset") < 0).count() == 0

    shuffled = epoch_shuffle(
        clean, "doc_id", n_shards=8, epoch=1, keep_cols=("n_tokens",)
    )
    assert shuffled.count() == clean.count()
    # every (shard, position) unique — a reader replays without collisions
    assert (
        shuffled.groupBy("shard", "position").count().filter("count > 1").count()
        == 0
    )
    # determinism: epoch 1 replayed equals itself, differs from epoch 2
    replay = epoch_shuffle(
        clean, "doc_id", n_shards=8, epoch=1, keep_cols=("n_tokens",)
    )
    assert shuffled.exceptAll(replay).count() == 0
    other = epoch_shuffle(
        clean, "doc_id", n_shards=8, epoch=2, keep_cols=("n_tokens",)
    )
    assert shuffled.exceptAll(other).count() > 0

    out = str(tmp_path / "shards")
    man = export_training_shards(
        clean, out, id_col="doc_id", token_col="n_tokens",
        n_shards=4, keep_cols=("text", "lang"),
    )
    assert man["total_rows"] == clean.count()
    verify_export(spark, out)

    # upstream edit: one doc's text grows → exactly its shard refreshes
    victim = clean.select("doc_id").orderBy("doc_id").limit(1).collect()[0][0]
    edited = clean.withColumn(
        "n_tokens",
        F.when(F.col("doc_id") == victim, F.col("n_tokens") + 7).otherwise(
            F.col("n_tokens")
        ),
    )
    man2, changed = refresh_training_shards(
        edited, out, keep_cols=("text", "lang")
    )
    assert len(changed) == 1
    assert man2["total_tokens"] == man["total_tokens"] + 7
    verify_export(spark, out)
    # the refreshed tree still holds every document exactly once
    back = spark.read.option("basePath", out).parquet(out)
    assert back.count() == clean.count()
    assert back.select("doc_id").distinct().count() == clean.count()
    assert os.path.exists(os.path.join(out, "_manifest.json"))


def test_tokenize_tape_decode_seam(spark, cleaned):
    """The tokenizer seam: learn BPE on the CLEANED corpus, encode to
    ids, materialize 256-token tapes with boundaries, then decode whole
    sequences back — every decoded fragment must be a substring of the
    concatenated normalized corpus tape, and token totals must conserve
    exactly from encode to tape."""
    from mare_spark.operators.bpe import (
        bpe_encode_ids,
        build_vocab,
        corpus_alphabet,
        decode_ids,
        learn_bpe_merges,
    )
    from mare_spark.operators.corpus import pack_token_tape
    from mare_spark.operators.text import normalize_text

    clean = cleaned["clean"]
    norm = clean.select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    merges = learn_bpe_merges(norm, "text", 64, min_count=2)
    assert merges  # the corpus supports at least some merges
    vocab = build_vocab(corpus_alphabet(norm, "text"), merges)
    encoded = bpe_encode_ids(norm, "text", merges, vocab)

    n_input_tokens = encoded.select(
        F.sum(F.size("token_ids")).alias("n")
    ).head().n
    tape = pack_token_tape(
        encoded, "token_ids", "doc_id",
        shards=4, max_len=256, boundaries=True,
    ).persist()
    try:
        # exact token conservation across the packing seam
        n_tape_tokens = tape.select(F.sum("n_tokens").alias("n")).head().n
        assert n_tape_tokens == n_input_tokens
        # every tape is cut at max_len except its tail
        tails = (
            tape.groupBy("pack_shard")
            .agg(F.max("seq_id").alias("last"))
        )
        short = tape.join(tails, "pack_shard").filter(
            (F.col("seq_id") != F.col("last")) & (F.col("n_tokens") != 256)
        )
        assert short.count() == 0

        # decode a few sequences: fragments must re-read as text from the
        # normalized corpus (word breaks at </w>; doc boundaries known)
        docs_text = {
            r.doc_id: r.text for r in norm.collect()
        }
        corpus_words = set()
        for t in docs_text.values():
            corpus_words.update(w for w in t.split(" ") if w)
        for row in tape.orderBy("pack_shard", "seq_id").head(3):
            decoded = decode_ids(row.token_ids, vocab)
            assert decoded  # non-empty readable text
            words = decoded.split(" ")
            # interior words (not cut by the sequence edges) are real
            # corpus words; boundary fragments may be partial
            for w in words[1:-1]:
                assert w in corpus_words, w
            assert all(0 <= b < 256 for b in row.doc_starts)
    finally:
        tape.unpersist()
