"""Differential + structural tests for the LLM-pipeline operators whose
oracle is another tier of the same operator (not SQL):

* MinHash-LSH pairs vs exact n-gram Jaccard pairs (recall/precision)
* SimHash pairs: symmetric, bounded Hamming, and catches the seeded near-dups
* ANN LSH top-k recall vs brute-force top-k
* multimodal decode: schema, determinism, stub behavior
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mare_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from mare_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_binary_payload,
    decode_features,
)
from mare_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    train_ivf_centroids,
)
from mare_spark.tables import read_table
from tests.conftest import SF_ORACLE, cached_entries


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_ORACLE, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_ORACLE, "embeddings").cache()


def _pair_set(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_minhash_lsh_recovers_exact_pairs(docs):
    exact = _pair_set(ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8))
    lsh = _pair_set(
        minhash_lsh_pairs(docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.8)
    )
    assert exact, "fixture should contain seeded near-dups"
    # LSH verifies candidates with exact Jaccard → no false positives;
    # banding with 16 bands of 4 rows at j>=0.8 → P(miss) ≈ (1-0.8^4)^16 <
    # 0.03% per pair, and every fixture pair agrees on ≥ 11 of its 16
    # bands (measured), so recall is exact, not merely high.
    assert lsh == exact, (sorted(exact - lsh), sorted(lsh - exact))


def test_simhash_finds_seeded_near_dups(docs):
    exact = _pair_set(ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9))
    sim = simhash_pairs(docs, "text", "doc_id", max_hamming=7, shingle_n=2)
    sim_set = _pair_set(sim.select("doc_a", "doc_b"))
    assert exact
    overlap = len(sim_set & exact) / len(exact)
    assert overlap >= 0.8, f"simhash missed too many seeded near-dups: {overlap}"
    # hamming column is within the bound and pairs are canonical (a < b)
    rows = sim.collect()
    assert all(r.hamming <= 7 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_ann_lsh_recall_vs_brute_force(emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact_ids = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    ann_ids = [
        r.vec_id
        for r in ann_lsh_topk(emb, q, k=10, num_planes=12, hamming_radius=4).collect()
    ]
    recall = len(set(exact_ids) & set(ann_ids)) / 10
    assert recall >= 0.5, f"ANN recall too low: {recall} (exact={exact_ids}, ann={ann_ids})"
    # the probe itself must be the top hit in both
    assert exact_ids[0] == 0 and ann_ids[0] == 0


def test_ann_radius_full_equals_exact(emb):
    """radius = num_planes ⇒ no candidate pruning ⇒ identical to exact."""
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [(r.vec_id, r.cosine) for r in brute_force_topk(emb, q, k=5).collect()]
    full = [
        (r.vec_id, r.cosine)
        for r in ann_lsh_topk(emb, q, k=5, num_planes=8, hamming_radius=8).collect()
    ]
    assert exact == full


def test_ivf_recall_vs_brute_force(emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact_ids = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    ivf_ids = [
        r.vec_id for r in ivf_topk(emb, q, k=10, nlist=16, nprobe=6).collect()
    ]
    recall = len(set(exact_ids) & set(ivf_ids)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall} (exact={exact_ids}, ivf={ivf_ids})"
    # the probe itself must be the top hit in both
    assert exact_ids[0] == 0 and ivf_ids[0] == 0


def test_ivf_nprobe_full_equals_exact(emb):
    """nprobe = nlist ⇒ every cell probed ⇒ identical to brute force."""
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [(r.vec_id, r.cosine) for r in brute_force_topk(emb, q, k=5).collect()]
    full = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(emb, q, k=5, nlist=8, nprobe=8).collect()
    ]
    assert exact == full


def test_ivf_assignment_partitions_corpus(emb):
    """Every row lands in exactly one valid cell; cells are deterministic
    and non-degenerate (the corpus spreads over >1 cell)."""
    cents = train_ivf_centroids(emb, nlist=8)
    assigned = ivf_assign(emb, cents).select("vec_id", "ivf_cell")
    total = emb.count()
    assert assigned.count() == total
    per_cell = assigned.groupBy("ivf_cell").count().collect()
    assert all(0 <= r.ivf_cell < 8 for r in per_cell)
    assert len(per_cell) > 1
    assert sum(r["count"] for r in per_cell) == total
    # determinism: same seed → identical assignment
    again = ivf_assign(emb, train_ivf_centroids(emb, nlist=8))
    assert assigned.exceptAll(again.select("vec_id", "ivf_cell")).count() == 0


def test_approximate_tiers_leave_out_unusable_vectors(spark, emb, tmp_path):
    """A vector the cosine kernel scores NULL — a NULL vector, a NULL
    element, a wrong length — has NULL IVF cells and NULL hyperplane
    signatures, so every approximate tier runs and leaves it out."""
    from mare_spark.operators.pq import (
        ivfpq_topk_batch,
        pq_assign,
        train_pq_codebooks,
    )
    from mare_spark.operators.similarity import (
        embedding_lsh_pairs,
        hard_negatives_ivf,
        ivf_topk_indexed,
        semantic_dedup_pairs,
        write_ivf_index,
    )

    rows = [tuple(r) for r in emb.orderBy("vec_id").head(40)]
    good = {r[0] for r in rows}
    q = [float(x) for x in rows[0][1]]
    bad_rows = [(1001, None, 0), (1002, [None] + q[1:], 1), (1003, q[:10], 0)]
    bad = {r[0] for r in bad_rows}
    df = spark.createDataFrame(rows + bad_rows, emb.schema)
    cents = train_ivf_centroids(df, nlist=4)  # the sample skips bad rows

    cells = {r.vec_id: r.ivf_cell for r in ivf_assign(df, cents).collect()}
    assert {i for i, c in cells.items() if c is None} == bad

    def ids(out, *cols):
        return {r[c] for r in out.collect() for c in cols}

    full = ivf_topk(df, q, k=50, nprobe=4, centroids=cents)
    assert ids(full, "vec_id") == good
    probed = ivf_topk(df, q, k=50, nprobe=2, centroids=cents).collect()
    write_ivf_index(df, str(tmp_path / "ivf"), cents)
    indexed = ivf_topk_indexed(
        spark, str(tmp_path / "ivf"), cents, q, k=50, nprobe=2
    ).collect()
    assert indexed == probed and {r.vec_id for r in probed} <= good
    assert ids(ann_lsh_topk(df, q, k=50, num_planes=4, hamming_radius=4),
               "vec_id") == good

    sem = semantic_dedup_pairs(df, threshold=-1.0, centroids=cents)
    assert ids(sem, "id_a", "id_b") <= good and sem.count()
    negs = hard_negatives_ivf(df, k=2, nprobe=2, centroids=cents)
    assert ids(negs, "anchor_id", "neg_id") <= good and negs.count()
    lsh = embedding_lsh_pairs(df, threshold=-1.0, dim=len(q))
    assert ids(lsh, "id_a", "id_b") <= good and lsh.count()

    clean = df.filter(F.col("vec_id").isin(sorted(good)))
    books = train_pq_codebooks(clean, "embedding", "vec_id", m=8, nbits=3)
    index = pq_assign(ivf_assign(clean, cents), "embedding", books)
    queries = spark.createDataFrame(
        [(0, q), (1, None)], "qid int, qvec array<double>"
    )
    out = ivfpq_topk_batch(queries, index, cents, books, 3, nprobe=2)
    assert {r.qid for r in out.collect()} == {0}


def test_release_caches_unpersists_intermediates(spark, docs):
    """Built outside any cache scope, an operator's persists land in the
    root scope and stay cached until release_caches empties it."""
    from mare_spark.operators.dedup import release_caches

    release_caches()  # drop what earlier unscoped tests left behind
    before = cached_entries(spark)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    pairs.count()
    # shingle base + candidate pairs + prefix index are live
    assert cached_entries(spark) == before + 3
    release_caches(pairs)
    assert cached_entries(spark) == before


def test_simhash_and_embedding_lsh_scope_caches(spark, docs, emb):
    """Every persisting operator registers its intermediates in the
    caller's cache scope, so long-lived sessions release them
    (simhash_pairs and embedding_lsh_pairs leaked one cached base per
    call in r1)."""
    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import release_caches, simhash_pairs
    from mare_spark.operators.similarity import embedding_lsh_pairs

    release_caches()  # drop what earlier unscoped tests left behind
    dim = len(emb.head()["embedding"])
    for build in (
        lambda: simhash_pairs(docs, "text", "doc_id", max_hamming=3),
        lambda: embedding_lsh_pairs(
            emb, "embedding", "vec_id", threshold=0.4, dim=dim
        ),
    ):
        before = cached_entries(spark)
        with cache_scope() as held:
            build().count()
            assert held
            assert cached_entries(spark) == before + len(held)
        assert cached_entries(spark) == before


def test_multimodal_decode_schema_and_determinism(docs):
    mm = attach_binary_payload(docs, "text", "doc_id")
    assert dict(mm.dtypes)["payload"] == "binary"
    assert dict(mm.dtypes)["meta"].startswith("struct<n_bytes")

    out1 = decode_features(mm, "payload", "doc_id").orderBy("doc_id").limit(5).collect()
    out2 = decode_features(mm, "payload", "doc_id").orderBy("doc_id").limit(5).collect()
    assert out1 == out2  # deterministic across runs
    assert all(len(r.features) == FEATURE_DIM for r in out1)
    assert all(0.0 <= x < 1.0 for r in out1 for x in r.features)
    # n_bytes agrees with the source text length (utf-8, ascii fixture)
    src = {r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()}
    assert all(r.n_bytes == src[r.doc_id] for r in out1)


def test_multimodal_real_decoders_are_stubbed(docs):
    mm = attach_binary_payload(docs, "text", "doc_id")
    with pytest.raises(NotImplementedError):
        decode_features(mm, "payload", "doc_id", decoder="image")


def test_rolling_fingerprint_deterministic_and_edit_robust(spark, docs):
    from mare_spark.operators.text import rolling_hash_fingerprint
    from pyspark.sql import functions as F

    fp1 = {r.doc_id: tuple(r.fingerprint) for r in
           rolling_hash_fingerprint(docs, "text", "doc_id").collect()}
    fp2 = {r.doc_id: tuple(r.fingerprint) for r in
           rolling_hash_fingerprint(docs, "text", "doc_id").collect()}
    assert fp1 == fp2  # deterministic across runs

    # near-dup docs (seeded pairs) share fingerprint hashes far more often
    # than random pairs: check one seeded pair overlaps
    from mare_spark.operators.dedup import ngram_jaccard_pairs

    pair = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9).head()
    a, b = fp1[pair.doc_a], fp1[pair.doc_b]
    assert set(a) & set(b), "seeded near-dups should share rolling-hash picks"


def test_rolling_fingerprint_short_text(spark):
    from mare_spark.operators.text import rolling_hash_fingerprint

    df = spark.createDataFrame([(1, "ab"), (2, "")], "doc_id long, text string")
    rows = {r.doc_id: r.fingerprint for r in
            rolling_hash_fingerprint(df, "text", "doc_id").collect()}
    assert rows[1] == [sum(b"ab")]
    assert rows[2] == [0]


def test_multimodal_frame_sampling(spark, docs):
    from mare_spark.operators.multimodal import attach_binary_payload, sample_frames

    mm = attach_binary_payload(docs, "text", "doc_id")
    frames = sample_frames(mm, every_n_bytes=64, max_frames=8)
    rows = frames.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    src = bytes(mm.filter(F.col("doc_id") == 0).head().payload)
    assert 1 <= len(rows) <= 8
    assert bytes(rows[0].frame_bytes) == src[:64]
    assert all(r.frame_idx == i for i, r in enumerate(rows))


def test_multimodal_resize(spark, docs):
    from mare_spark.operators.multimodal import attach_binary_payload, resize_payload

    mm = attach_binary_payload(docs, "text", "doc_id")
    out = resize_payload(mm, target_bytes=128).limit(20).collect()
    assert all(len(bytes(r.payload_resized)) == 128 for r in out)
    # truncation preserves the prefix
    src = {r.doc_id: bytes(r.payload) for r in mm.limit(20).collect()}
    for r in out:
        if r.doc_id in src:
            assert bytes(r.payload_resized)[: min(128, r.original_bytes)] == src[
                r.doc_id
            ][:128]


def test_approx_count_distinct_accuracy(spark):
    from mare_spark.tables import read_table

    li = read_table(spark, SF_ORACLE, "lineitem")
    exact = li.agg(F.countDistinct("l_partkey").alias("n")).head().n
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("n")
    ).head().n
    assert abs(approx - exact) / exact < 0.03, (approx, exact)


def test_dedup_clusters_match_union_find(spark, docs):
    """Connected components over the seeded near-dup pairs must equal a
    driver-side union-find on the collected edge list."""
    from mare_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert edges

    # oracle: classic union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    got = {r.member: r.cluster for r in dedup_clusters(pairs).collect()}
    assert got == want
    # representatives are component minima
    assert all(c == min(m for m, cc in got.items() if cc == c) for c in set(got.values()))


def test_dedup_clusters_chain(spark):
    """A 4-node chain (a-b, b-c, c-d) must collapse to one cluster —
    requires multi-round propagation, not just direct neighbors."""
    from mare_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.member: r.cluster for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_stratified_sample_deterministic_and_shuffle_free(docs):
    from mare_spark import plans as P
    from mare_spark.operators.text import stratified_sample

    frac = {"en": 0.5, "de": 0.25}
    s1 = stratified_sample(docs, "lang", frac, "doc_id").select("doc_id")
    s2 = stratified_sample(docs, "lang", frac, "doc_id").select("doc_id")
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())  # pure function of key
    # different salt → different (but still deterministic) sample
    s3 = stratified_sample(docs, "lang", frac, "doc_id", salt="v2").select("doc_id")
    assert ids1 != sorted(r.doc_id for r in s3.collect())
    # unlisted strata are dropped entirely
    langs = {r.lang for r in stratified_sample(docs, "lang", frac, "doc_id")
             .select("lang").distinct().collect()}
    assert langs <= set(frac)
    # scan-side filter: no exchange in the plan
    assert P.count_shuffle_exchanges(
        stratified_sample(docs, "lang", frac, "doc_id")
    ) == 0


# ---------------------------------------------------------------------------
# Corpus-preparation operators (operators.corpus)
# ---------------------------------------------------------------------------


def test_pii_scrub_positive_matches(spark):
    from mare_spark.operators.corpus import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.org or bob@test.co today"),
            (2, "server 10.0.0.1 and 192.168.1.254 are up"),
            (3, "ssn 123-45-6789 leaked"),
            (4, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert out[1].n_email == 2 and "<EMAIL>" in out[1].scrubbed_text
    assert "jane" not in out[1].scrubbed_text
    assert out[2].n_ipv4 == 2 and out[2].scrubbed_text.count("<IP>") == 2
    assert out[3].n_ssn == 1 and "<ID>" in out[3].scrubbed_text
    assert out[4].scrubbed_text == "clean text with no pii at all"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_ssn) == (0, 0, 0)


def test_decontaminate_drops_planted_overlap(spark):
    from mare_spark.operators.corpus import decontaminate_ngrams

    secret = "one two three four five six seven eight"
    train = spark.createDataFrame(
        [
            (1, f"prefix words {secret} suffix words here"),  # contaminated
            (2, "totally unrelated content about spark partitions and shuffles x y"),
            (3, "one two three four five SIX different seven eight nine ten"),  # no shared 8-gram
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, f"the eval question contains {secret} verbatim")],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in decontaminate_ngrams(train, eval_df, "text", "doc_id", n=8).collect()
    )
    assert kept == [2, 3]


def test_ngram_guard_short_docs(spark):
    from mare_spark.operators.corpus import decontaminate_ngrams

    # docs shorter than n produce no grams (never a descending-sequence
    # artifact) and therefore can't be contaminated
    train = spark.createDataFrame([(1, "too short")], "doc_id long, text string")
    eval_df = spark.createDataFrame([(2, "too short")], "doc_id long, text string")
    kept = decontaminate_ngrams(train, eval_df, "text", "doc_id", n=8).collect()
    assert [r.doc_id for r in kept] == [1]


def test_pack_sequences_invariants(spark):
    from mare_spark.operators.corpus import pack_sequences

    rows = [(i, "g", 100 + (i * 37) % 200) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, n long")
    out = (
        pack_sequences(df, "n", "doc_id", group_col="grp", max_len=512)
        .orderBy("doc_id")
        .collect()
    )
    # offsets in range, seq ids non-decreasing, and each doc's start equals
    # the running total of everything before it (tape is gapless)
    tape = 0
    for r in out:
        assert 0 <= r.seq_offset < 512
        assert r.seq_id == tape // 512
        assert r.seq_offset == tape % 512
        tape += r.n_tokens
    # groups pack independently
    df2 = spark.createDataFrame(
        [(1, "a", 600), (2, "b", 600)], "doc_id long, grp string, n long"
    )
    out2 = {r.doc_id: r for r in pack_sequences(
        df2, "n", "doc_id", group_col="grp", max_len=512).collect()}
    assert out2[1].seq_id == 0 and out2[2].seq_id == 0


def test_pack_sequences_ungrouped_guard_and_shards(spark):
    """Ungrouped+unsharded packing serializes through ONE window partition —
    the call must warn (VERDICT r2 #4); shards=N salts the tape into N
    independent groups with a stable pack_shard key, and each shard's tape
    is gapless in doc_id order."""
    import warnings

    from mare_spark.operators.corpus import pack_sequences

    rows = [(i, 100 + (i * 37) % 200) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, n long")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pack_sequences(df, "n", "doc_id", max_len=512)
    assert any("single window partition" in str(w.message) for w in caught)

    out = pack_sequences(df, "n", "doc_id", max_len=512, shards=4).collect()
    assert {r.pack_shard for r in out} <= set(range(4))
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: r.doc_id):
        by_shard.setdefault(r.pack_shard, []).append(r)
    for shard_rows in by_shard.values():
        tape = 0
        for r in shard_rows:
            assert r.seq_id == tape // 512 and r.seq_offset == tape % 512
            tape += r.n_tokens

    with pytest.raises(ValueError):
        pack_sequences(df, "n", "doc_id", shards=0)


def test_repetition_stats_crafted(spark):
    from mare_spark.operators.corpus import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one word repeated
            (2, "all words here are different"),  # no repetition
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert out[1].top_word_frac == 1.0
    assert out[1].distinct_word_ratio == 0.25
    assert out[1].dup_bigram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert out[2].top_word_frac == 0.2
    assert out[2].distinct_word_ratio == 1.0
    assert out[2].dup_bigram_frac == 0.0


def test_quality_gates_kill_reasons(spark):
    from mare_spark.operators.corpus import quality_gates

    long_clean = "the quick brown fox jumps over a lazy dog and then " * 5
    df = spark.createDataFrame(
        [
            (1, long_clean),                       # passes everything
            (2, "short doc"),                      # fails length
            (3, ("buzz " * 60).strip()),           # fails repetition + stopwords
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_gates(df, "text", "doc_id").collect()}
    assert out[1].kept == 1
    assert out[2].gate_len == 0 and out[2].kept == 0
    assert out[3].gate_repetition == 0 and out[3].gate_stopwords == 0
    assert out[3].kept == 0


def test_hashed_word_shingles_matches_string_gram_reference(spark):
    """Differential for the r9 token-combine gram hash: against a pure
    string-gram reference, the hashed sets must have identical sizes,
    identical pairwise intersection/union cardinalities (⇒ identical
    Jaccard), and identical cross-document equality structure — i.e. the
    hash behaves as an injective relabeling of the gram strings on this
    input. Seed-pinned adversarial rows: repeated tokens, shared prefixes/
    suffixes, permuted grams (order sensitivity), whitespace runs."""
    import random

    from mare_spark.operators.dedup import hashed_word_shingles, py_tokens

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (1, "a a a a a a"),                      # single repeated token
        (2, "a b a b a b a b"),                  # period-2 repetition
        (3, "x y z x y z"),                      # wraparound duplicates
        (4, "z y x z y x"),                      # reversed order of 3
        (5, "  a   b  c   "),                    # whitespace runs
        (6, "a b c d e"),
        (7, "e d c b a"),                        # permutation of 6
    ] + [
        (10 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 8):
        got = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", hashed_word_shingles(F.col("text"), n).alias("s")
            ).collect()
        }
        ref = {}
        for doc_id, t in rows:
            ws = py_tokens(t)
            ref[doc_id] = (
                set()
                if ws == [""]
                else {
                    " ".join(ws[i : i + n])
                    for i in range(len(ws) - n + 1)
                }
            )
        # build the gram-string -> hash correspondence and demand it is a
        # bijection over the whole input (any collision OR any split of
        # one gram into two hashes fails)
        all_grams = set().union(*ref.values()) if ref else set()
        all_hashes = set().union(*(set(v) for v in got.values()))
        assert len(all_hashes) == len(all_grams), (n, len(all_hashes), len(all_grams))
        for doc_id, grams in ref.items():
            hs = got[doc_id]
            assert len(hs) == len(set(hs)) == len(grams), (n, doc_id)
            assert hs == sorted(hs), (n, doc_id)  # signed-sorted contract
        ids = [doc_id for doc_id, _ in rows]
        for a in ids[:10]:
            for b in ids[:10]:
                if a >= b:
                    continue
                inter_ref = len(ref[a] & ref[b])
                inter_got = len(set(got[a]) & set(got[b]))
                assert inter_ref == inter_got, (n, a, b)


def test_dedup_tiers_null_and_empty_text(spark):
    """Null / empty / shorter-than-n documents produce no shingles and must
    pass through every dedup tier silently (no ANSI 0/0, no phantom pairs
    between contentless docs)."""
    from mare_spark.operators.dedup import (
        hashed_word_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "short text"),
            (4, "a b c d e f g h i j"),
            (5, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.s for r in df.select(
        "doc_id", hashed_word_shingles(F.col("text"), 3).alias("s")).collect()}
    assert sh[1] == [] and sh[2] == [] and sh[3] == []
    assert sh[4] == sh[5] and len(sh[4]) == 8

    jac = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.8).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in jac] == [(4, 5, 1.0)]
    mh = minhash_lsh_pairs(df, "text", "doc_id", num_perm=64, bands=16,
                           threshold=0.8).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in mh] == [(4, 5, 1.0)]


def test_substring_candidates_planted_overlap(spark):
    from mare_spark.operators.dedup import substring_overlap_candidates

    boiler = "this exact licensing paragraph is repeated verbatim across files"
    df = spark.createDataFrame(
        [
            (1, f"alpha content {boiler} tail one"),
            (2, f"totally different body {boiler} closing words"),
            (3, "no shared runs here at all just unique prose"),
        ],
        "doc_id long, text string",
    )
    pairs = substring_overlap_candidates(
        df, "text", "doc_id", window=12, keep=8, min_shared=2
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert not any(3 in p for p in found)


def test_semantic_dedup_subset_and_recall(spark, emb):
    from mare_spark.operators.dedup import embedding_cosine_pairs
    from mare_spark.operators.similarity import semantic_dedup_pairs

    exact = _pair_set(
        embedding_cosine_pairs(emb, "embedding", "vec_id", threshold=0.4)
        .select("id_a", "id_b")
    )
    sem = _pair_set(
        semantic_dedup_pairs(emb, "embedding", "vec_id", nlist=16,
                             threshold=0.4, nprobe_assign=3).select("id_a", "id_b")
    )
    assert exact
    # cosine verify after blocking → no false positives
    assert sem <= exact
    # multi-probe (p=3) blocking recall on the fixture's similarity band
    assert len(sem) / len(exact) >= 0.85, len(sem) / len(exact)


def test_word_shingles_short_docs_empty(spark):
    """Docs shorter than shingle_n, empty or NULL: hashed_word_shingles
    yields an empty set, not a job abort."""
    from mare_spark.operators.dedup import hashed_word_shingles

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "one two three four")],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        F.size(hashed_word_shingles(F.col("text"), 3)).alias("n_sh"),
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].n_sh == 0 and by_id[2].n_sh == 0 and by_id[3].n_sh == 0
    assert by_id[4].n_sh == 2


def test_write_packed_corpus_shards(spark, tmp_path):
    """Packed-corpus writer: shard directories partition the tape; a
    one-shard read is partition-pruned and sequences within a shard are
    the expected contiguous range."""
    from mare_spark.operators.corpus import write_packed_corpus
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "text",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    path = str(tmp_path / "packed")
    write_packed_corpus(
        docs, path, "text", "n_tok", "doc_id",
        group_col="lang", max_len=256, seqs_per_shard=4,
    )
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    # every row's shard matches its seq_id range
    bad = back.filter(
        (F.col("seq_id") < F.col("shard") * 4)
        | (F.col("seq_id") >= (F.col("shard") + 1) * 4)
    ).count()
    assert bad == 0
    # single-shard read prunes partitions
    one = back.filter((F.col("lang") == "en") & (F.col("shard") == 0))
    from mare_spark import plans as P
    assert "PartitionFilters" in P.formatted_plan(one)
    assert one.count() > 0


def test_minhash_lsh_join_equals_cross_restricted_pairs(spark):
    """Cross-corpus LSH join == the union-corpus LSH pair set restricted to
    cross pairs (same seed → comparable signatures), and it generates no
    within-corpus pairs by construction."""
    from mare_spark.operators.dedup import minhash_lsh_join

    docs = read_table(spark, SF_ORACLE, "documents")
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)

    joined = _pair_set(
        minhash_lsh_join(
            left, right, "text", "doc_id", num_perm=64, bands=16, threshold=0.5
        )
    )
    union_pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5
    )
    cross = {
        (a, b) if a % 2 == 0 else (b, a)
        for a, b in _pair_set(union_pairs)
        if a % 2 != b % 2
    }
    assert joined == cross
    assert cross, "fixture should contain cross-parity near-dups"
    assert all(a % 2 == 0 and b % 2 == 1 for a, b in joined)


def test_edit_distance_pairs_planted_near_dup(spark):
    """Two docs sharing their opening 8 words with a small tail edit are
    caught with the right distance; an unrelated doc is not paired; a
    bucket over the cap is dropped whole."""
    from mare_spark.operators.dedup import edit_distance_pairs

    head = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, head + " common tail here"),
        (1, head + " common tail there"),  # 1-char insertion after norm
        (2, "totally different opening words one two three four five"),
    ] + [(10 + i, "hot bucket " + "x " * 6 + f"tail{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in edit_distance_pairs(
            df, "text", "doc_id", max_dist=10, bucket_cap=4
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1
    assert all(2 not in p for p in got)
    assert all(a < 10 and b < 10 for a, b in got)  # capped bucket dropped


def test_edit_distance_pairs_random_differential(spark):
    """Random word-soup corpora: the Spark tier equals a pure-Python
    model (prefix-8 blocking, bucket cap, unit-cost Levenshtein)."""
    import random

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from mare_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(17)
    # small vocab + short docs force shared prefixes and near-dups
    docs = [
        (i, " ".join(rng.choice("ab") for _ in range(rng.randrange(6, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in edit_distance_pairs(
            df, "text", "doc_id", prefix_words=8, max_dist=6, bucket_cap=25
        ).collect()
    }

    from collections import defaultdict

    buckets = defaultdict(list)
    for i, t in docs:
        buckets[" ".join(t.split()[:8])].append((i, t))
    want = {}
    for members in buckets.values():
        if len(members) > 25:
            continue
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                (ia, ta), (ib, tb) = members[x], members[y]
                a, b = (ia, ta), (ib, tb)
                if ia > ib:
                    a, b = b, a
                d = lev(a[1], b[1])
                if d <= 6:
                    want[(a[0], b[0])] = d
    assert got == want


def test_jaccard_uncapped_path_agrees_with_capped(spark):
    """The max_shingle_freq=None branch (df annotation via the
    partial-combined aggregate join-back instead of hot-head anti-join +
    survivor window) must produce identical pairs whenever the cap never
    binds — which the fixture guarantees (densest 3-gram is far below
    1000 docs, pinned by the canary in test_queries_oracle)."""
    from mare_spark.cache import cache_scope
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    with cache_scope():
        capped = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
        uncapped = ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8, max_shingle_freq=None
        )
        got_c = {(r.doc_a, r.doc_b, r.jaccard) for r in capped.collect()}
        got_u = {(r.doc_a, r.doc_b, r.jaccard) for r in uncapped.collect()}
    assert got_c, "fixture should contain seeded near-dups"
    assert got_c == got_u


def test_lsh_bucket_cap_drops_saturated_groups(spark):
    """A mass-duplicate group saturates every band, so with a cap below
    the group size ALL its buckets drop and the quadratic candidate set
    is never generated; distinct near-dup pairs elsewhere are unaffected.
    With the cap disabled the same corpus yields the full k*(k-1)/2
    duplicate pairs — pinning that the cap (and only the cap) removed
    them."""
    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import minhash_lsh_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(20)]
    rows += [
        (100, "completely original text about distributed query engines ok"),
        (101, "completely original text about distributed query engines yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    with cache_scope():
        capped = minhash_lsh_pairs(
            df, "text", "doc_id", num_perm=16, bands=4, threshold=0.5,
            bucket_cap=10,
        )
        got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 20 and b < 20 for a, b in got), got

    with cache_scope():
        uncapped = minhash_lsh_pairs(
            df, "text", "doc_id", num_perm=16, bands=4, threshold=0.5,
            bucket_cap=None,
        )
        got_u = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    assert sum(1 for a, b in got_u if a < 20 and b < 20) == 20 * 19 // 2
    assert (100, 101) in got_u


def test_simhash_bucket_cap_drops_saturated_groups(spark):
    """Same guard for the SimHash pigeonhole join: identical docs agree on
    every chunk, so a sub-group-size cap removes the quadratic bucket
    while distinct near-dups keep pairing through their own chunks."""
    from mare_spark.operators.dedup import simhash_pairs

    boiler = "shared boilerplate sentence repeated verbatim in every row"
    rows = [(i, boiler) for i in range(20)]
    # identical pair → hamming 0, guaranteed within any bound; its bucket
    # holds 2 docs, far under the cap
    rows += [
        (100, "an original passage about adaptive execution in spark"),
        (101, "an original passage about adaptive execution in spark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = simhash_pairs(df, "text", "doc_id", max_hamming=7, bucket_cap=10)
    got = {(r.doc_a, r.doc_b) for r in capped.select("doc_a", "doc_b").collect()}
    assert (100, 101) in got
    assert not any(a < 20 and b < 20 for a, b in got), got

    uncapped = simhash_pairs(
        df, "text", "doc_id", max_hamming=7, bucket_cap=None
    )
    got_u = {
        (r.doc_a, r.doc_b) for r in uncapped.select("doc_a", "doc_b").collect()
    }
    assert sum(1 for a, b in got_u if a < 20 and b < 20) == 20 * 19 // 2


def test_simhash_capped_query_matches_uncapped_at_fixture_sf(spark):
    """The driver-registered capped entry (dedup_simhash_capped,
    bucket_cap=10k) returns the IDENTICAL pair set as the uncapped
    pigeonhole-complete entry at the fixture SF — no bucket nears the cap
    there, so the cap is pure scale insurance, not a result change."""
    from mare_spark.registry import all_queries
    from tests.conftest import SF_ORACLE

    qs = all_queries()
    capped = {
        (r.doc_a, r.doc_b)
        for r in qs["dedup_simhash_capped"].fn(spark, SF_ORACLE)
        .select("doc_a", "doc_b").collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in qs["dedup_simhash"].fn(spark, SF_ORACLE)
        .select("doc_a", "doc_b").collect()
    }
    assert capped == uncapped and len(capped) > 0


# --- media header sniffing (round 6: the REAL layer of the multimodal
# family — magic bytes + struct header walks, no media libraries) ---------


def test_sniff_bytes_known_real_file_headers():
    """Hand-pinned bytes from the format specs (not round-tripped through
    our own builder): the canonical 1x1 PNG header and a 2x2 GIF89a."""
    from mare_spark.operators.multimodal import sniff_bytes

    png_1x1 = (
        b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR"
        b"\x00\x00\x00\x01\x00\x00\x00\x01\x08\x06\x00\x00\x00\x1f\x15\xc4\x89"
    )
    assert sniff_bytes(png_1x1) == ("image/png", 1, 1, 4, None)
    gif_2x2 = b"GIF89a\x02\x00\x02\x00\x80\x00\x00"
    assert sniff_bytes(gif_2x2) == ("image/gif", 2, 2, 3, None)


def test_sniff_bytes_jpeg_segment_walk_and_bmp_topdown():
    """JPEG dims live in the SOFn segment, not at a fixed offset — the
    walk must skip APPn/COM segments; BMP top-down (negative height)
    normalizes."""
    import struct

    from mare_spark.operators.multimodal import sniff_bytes

    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    sof2 = (b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 77, 99) + b"\x01")
    assert sniff_bytes(b"\xff\xd8" + com + sof2) == (
        "image/jpeg", 99, 77, 1, None
    )
    bmp_td = (b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
              + struct.pack("<ii", 5, -9))
    assert sniff_bytes(bmp_td) == ("image/bmp", 5, 9, 3, None)


def test_sniff_bytes_never_raises_on_garbage():
    from mare_spark.operators.multimodal import sniff_bytes

    for b in (b"", b"\x89PNG", b"GIF8", b"\xff\xd8\xff",  # truncated magics
              b"RIFFxxxxWAVE", b"BM\x00", bytes(range(256))):
        mime, *rest = sniff_bytes(b)
        assert mime in ("application/octet-stream", "image/jpeg")


def test_sniff_media_metadata_spark_roundtrip(spark):
    from mare_spark.operators.multimodal import (
        sniff_media_metadata,
        synthesize_media_payload as syn,
    )

    rows = [
        (1, "a", syn("png", width=640, height=480, body=b"x")),
        (2, "b", syn("wav", channels=2, sample_rate=44100)),
        (3, "c", b"garbage"),
        (4, "d", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, payload binary")
    got = {
        r.doc_id: (r.grp, r.mime, r.width, r.height, r.channels, r.sample_rate)
        for r in sniff_media_metadata(
            df, "payload", "doc_id", keep_cols=("grp",)
        ).collect()
    }
    assert got[1] == ("a", "image/png", 640, 480, 4, None)
    assert got[2] == ("b", "audio/wav", None, None, 2, 44100)
    assert got[3] == ("c", "application/octet-stream", None, None, None, None)
    assert got[4] == ("d", None, None, None, None, None)


def test_sniff_bytes_fuzz_never_raises():
    """Property: ANY byte string — including ones that start with valid
    magics and then lie about their lengths — parses without raising."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mare_spark.operators.multimodal import sniff_bytes

    magics = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"GIF87a", b"BM",
              b"\xff\xd8\xff", b"RIFF", b""]

    @settings(max_examples=300, deadline=None)
    @given(prefix=st.sampled_from(magics), body=st.binary(max_size=64))
    def run(prefix, body):
        mime, w, h, c, r = sniff_bytes(prefix + body)
        assert mime is None or isinstance(mime, str)
        for v in (w, h, c, r):
            assert v is None or isinstance(v, int)

    run()


# --- hard-negative mining (round 6) ---------------------------------------


def _clustered_labeled_vectors(n_per=40, n_labels=4, dim=16, seed=5):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.randn(n_labels, dim) * 3
    rows = []
    i = 0
    for lbl in range(n_labels):
        for _ in range(n_per):
            v = centers[lbl] + rng.randn(dim) * 0.5
            rows.append((i, lbl, [float(x) for x in v]))
            i += 1
    return rows


def test_hard_negatives_exact_matches_numpy(spark):
    import numpy as np

    from mare_spark.operators.similarity import hard_negatives

    rows = _clustered_labeled_vectors()
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        r.anchor_id: r.neg_id
        for r in hard_negatives(df, "embedding", "vec_id", "label").collect()
    }
    x = np.array([r[2] for r in rows])
    lbl = np.array([r[1] for r in rows])
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn.T
    for i in range(len(rows)):
        mask = lbl != lbl[i]
        # replicate the 6dp snap + (cosine desc, neg_id asc) tie-break
        cand = [
            (-(np.floor(sims[i, j] * 1e6 + 0.5) / 1e6), j)
            for j in np.where(mask)[0]
        ]
        want = min(cand)[1]
        assert got[i] == want, (i, got[i], want)
    # no anchor ever pairs with its own label
    lbl_of = {r[0]: r[1] for r in rows}
    for a, n in got.items():
        assert lbl_of[a] != lbl_of[n]


def test_hard_negatives_ivf_full_probe_equals_exact(spark):
    from mare_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_ivf,
    )

    df = spark.createDataFrame(
        _clustered_labeled_vectors(),
        "vec_id long, label int, embedding array<double>",
    )
    exact = sorted(
        (r.anchor_id, r.neg_id)
        for r in hard_negatives(df, "embedding", "vec_id", "label").collect()
    )
    full = sorted(
        (r.anchor_id, r.neg_id)
        for r in hard_negatives_ivf(
            df, "embedding", "vec_id", "label", nlist=8, nprobe=8
        ).collect()
    )
    assert exact == full


def test_hard_negatives_ivf_recall_at_partial_probe(spark):
    from mare_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_ivf,
    )

    df = spark.createDataFrame(
        _clustered_labeled_vectors(),
        "vec_id long, label int, embedding array<double>",
    )
    exact = {
        r.anchor_id: r.neg_id
        for r in hard_negatives(df, "embedding", "vec_id", "label").collect()
    }
    approx = {
        r.anchor_id: r.neg_id
        for r in hard_negatives_ivf(
            df, "embedding", "vec_id", "label", nlist=8, nprobe=4
        ).collect()
    }
    hits = sum(1 for a, n in exact.items() if approx.get(a) == n)
    assert hits / len(exact) >= 0.8, hits / len(exact)
    for a, n in approx.items():  # still never same-label
        assert (a // 40) != (n // 40)


def test_cluster_balanced_sample_exact_sizes_and_membership(spark):
    """Every cluster contributes exactly min(k, cluster size) rows, the
    sample is a subset of the assignment, and membership is salt-keyed
    deterministic."""
    from pyspark.sql import functions as F

    from mare_spark.operators.similarity import (
        assign_to_centroids,
        cluster_balanced_sample,
    )
    from mare_spark.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    sizes = {
        r.cluster_id: r.n
        for r in assign_to_centroids(emb, "embedding", "vec_id", k=4)
        .groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    out = cluster_balanced_sample(
        emb, "embedding", "vec_id", k_clusters=4, per_cluster=10
    ).collect()
    got = {}
    for r in out:
        got[r.cluster_id] = got.get(r.cluster_id, 0) + 1
        assert 1 <= r.sample_rank <= 10
    assert got == {c: min(10, n) for c, n in sizes.items() if n}

    again = cluster_balanced_sample(
        emb, "embedding", "vec_id", k_clusters=4, per_cluster=10
    ).collect()
    assert {r.vec_id for r in again} == {r.vec_id for r in out}
    salted = cluster_balanced_sample(
        emb, "embedding", "vec_id", k_clusters=4, per_cluster=10, salt="s1"
    ).collect()
    assert {r.vec_id for r in salted} != {r.vec_id for r in out}


def test_cluster_balanced_sample_with_trained_centroids(spark):
    """The trained-centroid path (kmeans_refine output) samples against
    the refined assignment, not the seeds."""
    import numpy as np

    from mare_spark.operators.similarity import (
        assign_to_centroids,
        cluster_balanced_sample,
        kmeans_refine,
    )
    from mare_spark.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    seed = np.array(
        [list(r.embedding) for r in emb.orderBy("vec_id").head(4)],
        dtype=np.float64,
    )
    trained = kmeans_refine(emb, "embedding", seed, iters=1)
    out = cluster_balanced_sample(
        emb, "embedding", "vec_id",
        k_clusters=4, per_cluster=5, centroids=trained,
    ).collect()
    want = {
        r.vec_id: r.cluster_id
        for r in assign_to_centroids(
            emb, "embedding", "vec_id", centroids=trained
        ).collect()
    }
    for r in out:
        assert want[r.vec_id] == r.cluster_id


def test_dedup_clusters_tiers_agree(spark, monkeypatch):
    """Driver union-find tier ≡ distributed min-label propagation on a
    random multi-component graph (chains force multi-round propagation);
    the distributed path is forced by lowering the module's edge limit."""
    import random

    import mare_spark.operators.dedup as D
    from mare_spark.operators.dedup import dedup_clusters

    rng = random.Random(23)
    edges = set()
    for base in range(0, 400, 8):  # 50 chains of length 7 (diameter 6)
        for i in range(7):
            edges.add((base + i, base + i + 1))
    for _ in range(60):  # random extra merges across chains
        edges.add((rng.randrange(400), rng.randrange(400)))
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a long, doc_b long"
    ).repartition(5)

    drv = {r.member: r.cluster
           for r in dedup_clusters(pairs).collect()}  # default: driver tier
    monkeypatch.setattr(D, "_DRIVER_EDGES_LIMIT", 0)
    dist = {r.member: r.cluster
            for r in dedup_clusters(pairs, max_iterations=200).collect()}
    assert drv == dist
    # representatives are component minima
    for c in set(drv.values()):
        assert c == min(m for m, cc in drv.items() if cc == c)


def test_dedup_clusters_byte_gate_and_logging(spark, caplog, monkeypatch):
    """The driver-tier gate prices sampled row BYTES, not row count: the
    same 3-edge graph routes to the driver under the default byte limit
    (log line names the tier + estimate) but to the distributed loop
    when the byte limit is squeezed below the string-id row width —
    labels identical either way."""
    import logging

    import mare_spark.operators.dedup as D
    from mare_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [("doc-" + "x" * 120 + str(i), "doc-" + "x" * 120 + str(i + 1))
         for i in range(3)],
        "doc_a string, doc_b string",
    )
    with caplog.at_level(logging.INFO, logger="mare_spark.dedup"):
        drv = {r.member: r.cluster for r in dedup_clusters(pairs).collect()}
    assert any("driver union-find tier engaged" in m
               for m in caplog.messages), caplog.messages
    caplog.clear()
    monkeypatch.setattr(D, "_DRIVER_BYTES_LIMIT", 100)
    with caplog.at_level(logging.INFO, logger="mare_spark.dedup"):
        dist = {r.member: r.cluster for r in dedup_clusters(pairs).collect()}
    assert any("distributed tier engaged" in m
               for m in caplog.messages), caplog.messages
    assert drv == dist


def test_similarity_review_guards(spark):
    """Review-driven guards: assignment and every probe share one
    cosine rule (the driver's probe equals the executors' cells for
    every vector), so UNNORMALIZED centroids (kmeans_refine
    means) can't bias cells toward large norms; >63 planes per band
    raises in the Arrow tier like the expression tier; nlist > corpus
    raises with a named fix; probes don't mutate the caller's query
    array; with_dim_metadata merges instead of replacing."""
    import numpy as np
    import pytest

    from mare_spark.operators.similarity import (
        _cells_udf,
        hyperplane_signatures,
        ivf_assign,
        probe_cells_for,
        train_ivf_centroids,
        with_dim_metadata,
    )
    from mare_spark.tables import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")

    # scaling a centroid must not change assignments (cosine, not dot)
    cents = train_ivf_centroids(emb, nlist=4)
    scaled = cents.copy()
    scaled[0] *= 100.0
    a = {r.vec_id: r.ivf_cell
         for r in ivf_assign(emb, cents).collect()}
    b = {r.vec_id: r.ivf_cell
         for r in ivf_assign(emb, scaled).collect()}
    assert a == b
    assert probe_cells_for(cents, list(cents[2]), 1) == [2]
    assert probe_cells_for(scaled, list(cents[2]), 1) == [2]
    # the driver's query probe and the executors' assignment are one rule
    probes = emb.select(
        "embedding", _cells_udf(cents, 3)(emb.embedding).alias("cells")
    ).collect()
    assert all(
        probe_cells_for(cents, r.embedding, 3) == r.cells for r in probes
    )

    with pytest.raises(ValueError, match="63"):
        emb.select(
            hyperplane_signatures(
                emb.embedding, [np.zeros((64, 64))]
            )
        )
    with pytest.raises(ValueError, match="nlist"):
        train_ivf_centroids(emb.limit(3), nlist=16)

    q = np.array([1.0] * 64)
    before = q.copy()
    probe_cells_for(cents, q, 2)
    np.testing.assert_array_equal(q, before)  # no in-place mutation

    tagged = with_dim_metadata(
        emb.withMetadata("embedding", {"note": "x"}), "embedding", 64
    )
    md = tagged.schema["embedding"].metadata
    assert md["dim"] == 64 and md["note"] == "x"  # merged, not replaced


def test_dedup_review_guards(spark):
    """Review-driven dedup contracts: contentless/NULL docs never pair
    (simhash signature NULL, exact digest excluded, n=1 shingles empty);
    simhash tokenization follows the shared ASCII-\\s contract (an NBSP
    stays inside a token on every tier); max_hamming=0 band-joins on the
    full signature instead of crashing on a 64-bit mask literal."""
    from pyspark.sql import functions as F

    from mare_spark.operators.dedup import (
        exact_dedup,
        hashed_word_shingles,
        simhash_pairs,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "one real document here"),
         (4, "one real document here")],
        "doc_id long, text string",
    )
    # contentless docs: no simhash pairs among them; the real dup found
    pairs = simhash_pairs(df, "text", "doc_id", max_hamming=3).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(3, 4)}
    # max_hamming=0: exact-signature banding works (was a mask overflow)
    pairs0 = simhash_pairs(df, "text", "doc_id", max_hamming=0).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs0} == {(3, 4)}

    # exact dedup: NULL text rows excluded, not one phantom group
    groups = exact_dedup(df, "text", "doc_id").collect()
    assert all(r.digest is not None for r in groups)
    by_digest = {r.digest: r.n_copies for r in groups}
    assert 2 in by_digest.values()  # the real dup pair
    # '' and '   ' normalize identically and may group; doc 0 never appears

    # n=1 shingles: contentless docs yield NO phantom '' shingle
    sh = df.select(
        "doc_id", hashed_word_shingles(F.col("text"), 1).alias("s")
    ).collect()
    for r in sh:
        if r.doc_id in (1, 2):
            assert r.s == [], r
        if r.doc_id == 0:
            assert r.s in ([], None)

    # NBSP stays inside a token (ASCII-\s contract): these two docs are
    # DIFFERENT to simhash, same as to normalize_text
    nb = spark.createDataFrame(
        [(0, "aa bb cc dd ee"), (1, "aa bb cc dd ee")],
        "doc_id long, text string",
    )
    assert simhash_pairs(nb, "text", "doc_id", max_hamming=0).count() == 0


def test_text_null_contracts(spark):
    """Review-driven NULL contracts in text.py: NULL text scores NULL
    quality (not a perfect 1.0 via NULL-skipping least/greatest), gets
    NULL fingerprints (not a phantom md5('') duplicate group / the
    empty-doc [0] rolling fingerprint), and NULL language (not 'und')."""
    from mare_spark.operators.text import (
        language_id,
        quality_stats,
        rolling_hash_fingerprint,
        text_fingerprint,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_stats(df, "text", "doc_id").collect()}
    assert q[0].quality is None and q[0].n_tokens is None
    assert q[2].quality is not None

    fp = {r.doc_id: r for r in
          text_fingerprint(df, "text", "doc_id").collect()}
    assert fp[0].fp_md5 is None and fp[0].fp_sorted is None
    assert fp[1].fp_sorted is not None  # '' is a real (empty) document

    lang = {r.doc_id: r.lang_pred for r in
            language_id(df, "text", "doc_id").collect()}
    assert lang[0] is None and lang[1] == "und" and lang[2] == "en"

    rh = {r.doc_id: r.fingerprint for r in
          rolling_hash_fingerprint(df, "text", "doc_id").collect()}
    assert rh[0] is None
    assert list(rh[1]) == [0]  # empty doc keeps its pinned [0]


def test_multimodal_review_guards_r7(spark):
    """Round-7 review fixes: exact-multiple payloads emit no empty
    trailing frame and empty payloads no frames; hostile >int32 header
    fields degrade to NULL instead of aborting the scan at Arrow
    serialization; a 12-byte BITMAPCOREHEADER BMP degrades instead of
    parsing garbage dims; decode_features propagates NULL payloads and
    honors a string id column."""
    import struct

    from mare_spark.operators.multimodal import (
        decode_features,
        sample_frames,
        sniff_bytes,
        sniff_media_metadata,
    )

    # frame arithmetic
    df = spark.createDataFrame(
        [(1, b"x" * 64), (2, b""), (3, b"y" * 65)],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, every_n_bytes=64).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(bytes(r.frame_bytes))
    assert by_doc[1] == [b"x" * 64]          # exact multiple: ONE frame
    assert 2 not in by_doc                   # empty payload: NO frames
    assert by_doc[3] == [b"y" * 64, b"y"]    # remainder frame kept

    # >int32 header fields -> NULL fields, mime kept, scan survives
    big_png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">II", 2**31 + 5, 7) + bytes([8, 6, 0, 0, 0])
               + b"\x00" * 4)
    assert sniff_bytes(big_png) == ("image/png", None, 7, 4, None)
    mm = spark.createDataFrame(
        [(1, bytearray(big_png))], "doc_id long, payload binary"
    )
    got = sniff_media_metadata(mm).collect()[0]
    assert got.mime == "image/png" and got.width is None and got.height == 7

    # BITMAPCOREHEADER (DIB size 12): degrade, never garbage dims
    core_bmp = (b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
                + struct.pack("<HHHH", 10, 20, 1, 24))
    assert sniff_bytes(core_bmp) == ("image/bmp", None, None, None, None)

    # decode_features: NULL payload propagates; string ids honored
    sdf = spark.createDataFrame(
        [("a", b"abc"), ("b", None)], "doc_id string, payload binary"
    )
    feats = {r.doc_id: (r.n_bytes, r.features)
             for r in decode_features(sdf, id_col="doc_id").collect()}
    assert feats["a"][0] == 3 and len(feats["a"][1]) == 8
    assert feats["b"] == (None, None)


def test_edit_distance_null_text_not_bucketed_with_empty(spark):
    """NULL-text docs must not share the md5('') bucket with genuinely
    empty docs (concat_ws never returns NULL): the pair set contains the
    empty-empty pair but nothing involving the NULL doc, matching the
    SQL oracle's NULL pk semantics."""
    from mare_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, None)], "doc_id long, text string"
    )
    rows = {(r.doc_a, r.doc_b): r.edit_dist
            for r in edit_distance_pairs(df, "text", "doc_id").collect()}
    assert rows == {(1, 2): 0}


def test_decode_bmp_wav_real_byte_arithmetic(spark):
    """Round-8 dependency-free decode slice: BMP pixel decoding really
    undoes the file layout (bottom-up row order, 4-byte row padding,
    top-down negative heights), WAV decoding really walks the RIFF
    chunk chain (extra chunks before data, odd-length word-align pad),
    and everything outside the slice (compressed, non-PCM, truncated)
    degrades to None instead of raising."""
    import struct

    import numpy as np

    from mare_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        synthesize_media_payload,
    )

    # bottom-up + padding round trip (w=3 -> 9-byte rows pad to 12)
    body = bytes(((np.arange(3 * 2 * 3) * 13 + 7) % 256).astype(np.uint8))
    p = synthesize_media_payload("bmp24", width=3, height=2, body=body)
    assert bytes(decode_bmp(p).ravel()) == body
    # top-down variant: flip the height sign, rows already logical order
    td = bytearray(p)
    td[22:26] = struct.pack("<i", -2)
    rows = [body[y * 9 : (y + 1) * 9] + b"\x00\x00\x00" for y in (0, 1)]
    td = bytes(td[:54]) + b"".join(rows)
    assert bytes(decode_bmp(td).ravel()) == body
    # outside the slice: 8bpp, compressed, truncated pixels -> None
    bad_bpp = bytearray(p); bad_bpp[28:30] = struct.pack("<H", 8)
    assert decode_bmp(bytes(bad_bpp)) is None
    comp = bytearray(p); comp[30:34] = struct.pack("<I", 1)
    assert decode_bmp(bytes(comp)) is None
    assert decode_bmp(p[:-1]) is None
    assert decode_bmp(None) is None

    # WAV: extra odd-length chunk between fmt and data must be walked
    s = (np.arange(10, dtype=np.int64) * 500 - 2000).astype("<i2")
    canonical = synthesize_media_payload(
        "wav", channels=2, sample_rate=8000, body=s.tobytes()
    )
    got = decode_wav(canonical)
    assert got is not None and got[1] == 8000
    assert got[0].shape == (5, 2) and (got[0].ravel() == s).all()
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    chained = canonical[:fmt_end] + extra + canonical[fmt_end:]
    riff = bytearray(chained)
    riff[4:8] = struct.pack("<I", len(chained) - 8)
    got2 = decode_wav(bytes(riff))
    assert got2 is not None and (got2[0].ravel() == s).all()
    # non-PCM codec degrades
    flt = bytearray(canonical); flt[20:22] = struct.pack("<H", 3)
    assert decode_wav(bytes(flt)) is None
    assert decode_wav(b"RIFFxxxxWAVE") is None
    assert decode_wav(None) is None


def test_decode_features_real_bmp_wav_tiers(spark):
    """decode_features(decoder='bmp'|'wav') returns REAL stats for
    payloads in the slice and NULL features (real n_bytes) for payloads
    outside it; the codec-library gates are unchanged."""
    import numpy as np
    import pytest as _pytest

    from mare_spark.operators.multimodal import (
        decode_features,
        synthesize_media_payload,
    )

    body = bytes(((np.arange(2 * 2 * 3) * 3) % 256).astype(np.uint8))
    bmp = synthesize_media_payload("bmp24", width=2, height=2, body=body)
    s = np.array([100, -100, 300, -300], dtype="<i2")
    wav = synthesize_media_payload(
        "wav", channels=1, sample_rate=16000, body=s.tobytes()
    )
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(wav)), (3, b"not media")],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in decode_features(df, decoder="bmp").collect()}
    px = np.frombuffer(body, dtype=np.uint8).reshape(2, 2, 3).astype(float)
    assert got[1].features == [
        2.0, 2.0, 3.0,
        px[:, :, 0].mean(), px[:, :, 1].mean(), px[:, :, 2].mean(),
        px.min(), px.max(),
    ]
    assert got[2].features is None and got[2].n_bytes == len(wav)
    assert got[3].features is None
    got = {r.doc_id: r for r in decode_features(df, decoder="wav").collect()}
    assert got[1].features is None
    f = got[2].features
    assert f[0] == 1.0 and f[1] == 16000.0 and f[2] == 4.0
    assert f[3] == float(s.astype(np.float64).mean())
    assert f[5] == -300.0 and f[6] == 300.0
    with _pytest.raises(NotImplementedError):
        decode_features(df, decoder="image")
    with _pytest.raises(NotImplementedError):
        decode_features(df, decoder="audio")


def test_decode_media_stats_routes_and_gates(spark):
    """decode_media_stats: mime-routed real decode for BMP/WAV, NULL
    stats (sniffed mime kept) for codec-gated formats and garbage."""
    import numpy as np

    from mare_spark.operators.multimodal import (
        decode_media_stats,
        synthesize_media_payload,
    )

    body = bytes(((np.arange(1 * 1 * 3) * 11 + 5) % 256).astype(np.uint8))
    bmp = synthesize_media_payload("bmp24", width=1, height=1, body=body)
    s = np.array([7, -9, 11], dtype="<i2")
    wav = synthesize_media_payload(
        "wav", channels=1, sample_rate=8000, body=s.tobytes()
    )
    png = synthesize_media_payload("png", width=4, height=4)
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(wav)),
         (3, bytearray(png)), (4, b"zz")],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in decode_media_stats(df).collect()}
    assert (got[1].mime, got[1].n_units, got[1].val_sum) == (
        "image/bmp", 3, int(sum(body))
    )
    assert got[1].val_min == min(body) and got[1].val_max == max(body)
    assert (got[2].mime, got[2].n_units, got[2].val_sum) == (
        "audio/wav", 3, 9
    )
    assert (got[2].val_min, got[2].val_max) == (-9, 11)
    assert got[3].mime == "image/png" and got[3].n_units is None
    assert got[4].mime == "application/octet-stream"
    assert got[4].val_sum is None


def test_decode_media_review_guards_r8(spark):
    """r8 diff-review regressions: a truncated data chunk degrades to
    None (no partial-audio 'successful' decode); decode_media_stats
    routes on container magic so a non-canonical PCM WAV (JUNK chunk
    before fmt) still decodes even though canonical-layout sniffing
    calls it octet-stream."""
    import struct

    import numpy as np

    from mare_spark.operators.multimodal import (
        decode_media_stats,
        decode_wav,
        synthesize_media_payload,
    )

    s = np.array([10, -20, 30, -40, 50, -60], dtype="<i2")
    wav = synthesize_media_payload(
        "wav", channels=1, sample_rate=8000, body=s.tobytes()
    )
    assert decode_wav(wav) is not None
    assert decode_wav(wav[:-4]) is None  # truncated data chunk

    # non-canonical: JUNK chunk between WAVE and fmt
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00" * 4
    chained = wav[:12] + junk + wav[12:]
    nc = bytearray(chained)
    nc[4:8] = struct.pack("<I", len(chained) - 8)
    nc = bytes(nc)
    got = decode_wav(nc)
    assert got is not None and (got[0].ravel() == s).all()
    df = spark.createDataFrame(
        [(1, bytearray(nc))], "doc_id long, payload binary"
    )
    row = decode_media_stats(df).collect()[0]
    assert row.mime == "audio/wav"
    assert (row.n_units, row.val_sum) == (6, int(s.sum()))


def test_cosine_fold_contracts_and_grid_canary(spark, tmp_path):
    """The hash-checked cosine rows keep their contracts on a fixture the
    shipped corpus never exercises — a zero vector scores 0.0 (not
    NaN/NULL) and a NULL embedding degrades to NULL, with the ORACLE
    agreeing on both."""
    import shutil

    import pandas as pd

    from mare_spark.operators.similarity import pairwise_cosine
    from mare_spark.registry import all_queries
    from mare_spark.tables import TABLE_NAMES, table_path
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    # adversarial fixture: zero vector + NULL embedding
    sf = str(tmp_path / "sfdegen")
    (tmp_path / "sfdegen").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_SMOKE, t), table_path(sf, t))
    rng = [float(i % 7 - 3) for i in range(64)]
    emb = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [
                rng, [0.0] * 64, None, [float(i % 5) for i in range(64)]
            ],
        }
    )
    emb.to_parquet(table_path(sf, "embeddings"))
    q = all_queries()["sim_topk_cosine"]
    rows = {r.vec_id: r.cosine for r in q.fn(spark, sf).collect()}
    assert rows[1] == 0.0          # zero vector: clamped, never NaN
    assert rows.get(2, None) is None or 2 not in rows  # NULL sorts out
    compare(q.fn(spark, sf), q.oracle, sf)  # oracle agrees bit-for-bit

    df = spark.createDataFrame(
        [([0.0] * 4, [0.0] * 4), ([1.0, 0.0, 0.0, 0.0], [0.0] * 4)],
        "a array<double>, b array<double>",
    )
    got = df.select(pairwise_cosine("a", "b").alias("c")).collect()
    assert [r.c for r in got] == [0.0, 0.0]


def test_sql_cosine_matches_kernel_on_degenerate_vectors(spark):
    """The oracle's cosine fragment and the engine's kernel agree on the
    vectors no fixture holds: a NULL vector, a NULL element and a length
    mismatch score NULL; empty and zero vectors score 0.0; a dim-3 pair
    (off the fixture's 64 dims) scores the same snapped value."""
    import duckdb

    from mare_spark.numeric import fround
    from mare_spark.operators.similarity import pairwise_cosine
    from mare_spark.queries.llm import _sql_cosine

    pairs = [
        (None, [1.0, 2.0]),
        ([1.0, 2.0], None),
        ([], []),
        ([1.0, None, 3.0], [1.0, 2.0, 3.0]),
        ([1.0, 2.0, 3.0], [1.0, 2.0]),
        ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
        ([1.0, 2.0, 3.0], [3.0, -1.0, 0.5]),
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = dict(
        con.execute(f"SELECT i, {_sql_cosine('a', 'b')} FROM t").fetchall()
    )
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    eng = {
        r.i: r.c
        for r in df.select(
            "i", fround(pairwise_cosine(F.col("a"), F.col("b")), 6).alias("c")
        ).collect()
    }
    assert eng == duck
    assert [duck[i] for i in range(6)] == [None, None, 0.0, None, None, 0.0]
    assert duck[6] == 0.208696


def test_embedding_null_vector_guards_r8(spark, tmp_path):
    """r8 review (llm3/llm4): NULL embeddings no longer TypeError the
    seed fetch or get phantom cluster-0 assignments; empty vectors score
    NULL norms (DuckDB's list_sum([]) semantics); NULL-text docs no
    longer form a phantom duplicate cluster in the dedup audit — each
    pinned against the oracle on an adversarial fixture."""
    import shutil

    import pandas as pd

    from mare_spark.operators.analysis import embedding_norm_stats
    from mare_spark.operators.similarity import assign_to_centroids
    from mare_spark.registry import all_queries
    from mare_spark.tables import TABLE_NAMES, table_path
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare

    sf = str(tmp_path / "sfnullvec")
    (tmp_path / "sfnullvec").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_SMOKE, t), table_path(sf, t))
    vecs = [
        None if i == 0 else [float((i * 7 + j) % 5) for j in range(64)]
        for i in range(12)
    ]
    pd.DataFrame({"vec_id": list(range(12)), "embedding": vecs}).to_parquet(
        table_path(sf, "embeddings")
    )
    qs = all_queries()
    # NULL vector among the first k seeds: no TypeError, oracle agrees
    out = qs["embedding_cluster_assign"].fn(spark, sf)
    rows = out.collect()
    assert 0 not in {r.vec_id for r in rows}  # no phantom assignment
    compare(qs["embedding_cluster_assign"].fn(spark, sf),
            qs["embedding_cluster_assign"].oracle, sf)
    qs["embedding_kmeans_refined"].fn(spark, sf).collect()  # no crash

    # empty array -> NULL norm, excluded from count/avg like DuckDB
    df = spark.createDataFrame(
        [(1, "g", [3.0, 4.0]), (2, "g", []), (3, "g", None)],
        "vec_id long, g string, embedding array<double>",
    )
    st = embedding_norm_stats(df, "embedding", "g").head()
    assert st.n_vecs == 1 and st.avg_norm == 5.0

    # direct operator: NULL vectors produce no assignment rows
    got = assign_to_centroids(df, "embedding", "vec_id", k=1)
    assert {r.vec_id for r in got.collect()} == {1, 2}

    # NULL-text docs excluded from the dedup audit on both engines
    docs = ["same text here"] * 3 + [None, None]
    pd.DataFrame(
        {
            "doc_id": list(range(5)),
            "text": docs,
            "lang": ["en"] * 5,
            "source": ["src0"] * 5,
            "n_chars": [len(d) if d else 0 for d in docs],
        }
    ).to_parquet(table_path(sf, "documents"))
    stats = qs["dedup_cluster_stats"].fn(spark, sf)
    sizes = {(r.key_kind, r.cluster_size): r.n_clusters
             for r in stats.collect()}
    assert sizes[("exact", 3)] == 1 and ("exact", 2) not in sizes
    compare(qs["dedup_cluster_stats"].fn(spark, sf),
            qs["dedup_cluster_stats"].oracle, sf)


def test_hash_cache_room_evicts_oldest_half():
    """ADVICE r9: overflow handling must keep the warm (recent) half of
    the shared per-worker hash caches rather than clear()ing the whole
    working set."""
    import mare_spark.operators.dedup as D

    cache = {i: i for i in range(10)}
    old_cap = D._HASH_CACHE_CAP
    try:
        D._HASH_CACHE_CAP = 9  # force overflow
        D._hash_cache_room(cache)
    finally:
        D._HASH_CACHE_CAP = old_cap
    assert len(cache) == 5
    # insertion order: the OLDEST entries (0..4) were evicted
    assert sorted(cache) == [5, 6, 7, 8, 9]
    # under the cap: no-op
    D._hash_cache_room(cache)
    assert len(cache) == 5


def test_lsh_bucket_tables_are_materialized_once(docs):
    """r10 §2.4 pin: the candidate self-joins of all three banded tiers
    (minhash, simhash, embedding LSH) must read a PERSISTED bucket/chunk
    table (exchange reuse does not fire across deduplicated
    self-join sides, so an unpersisted bucket subtree would be recomputed
    — band projection plus cap anti-join — once per join side)."""
    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import (
        minhash_lsh_pairs,
        release_caches,
        simhash_pairs,
    )
    from mare_spark.operators.similarity import embedding_lsh_pairs

    spark = docs.sparkSession
    release_caches()  # drop what earlier unscoped tests left behind
    before = cached_entries(spark)
    with cache_scope() as held:
        minhash_lsh_pairs(
            docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.8,
            bucket_cap=10_000,
        )
        # base + bucket table + candidates, all cached at build time
        assert len(held) == 3, held
        assert cached_entries(spark) == before + 3
    with cache_scope() as held:
        simhash_pairs(docs, "text", "doc_id", max_hamming=3)
        assert len(held) == 2, held  # base + chunk table
        assert cached_entries(spark) == before + 2
    with cache_scope() as held:
        embedding_lsh_pairs(
            read_table(spark, SF_ORACLE, "embeddings"), "embedding", "vec_id",
            0.4, dim=64,
        )
        assert len(held) == 2, held  # base + bucket table
        assert cached_entries(spark) == before + 2
    assert cached_entries(spark) == before


def test_minhash_grid_chunking_is_bit_identical(docs):
    """r10: the signature grid is computed over doc-aligned gram groups
    bounded by _MH_GRID_ELEMS (memory guard — Arrow caps batch ROWS, not
    grams/row). Per-doc minima never cross a group boundary, so a tiny
    forced budget (many groups, including single-doc ones) must produce
    bit-identical signatures and shingles to the effectively-unchunked
    default."""
    import mare_spark.operators.dedup as D
    from pyspark.sql import functions as F

    sample = docs.limit(200)

    def run():
        return {
            r["doc_id"]: (tuple(r["mh"]["shingles"]), tuple(r["mh"]["sig"]))
            for r in sample.select(
                "doc_id",
                D._minhash_base_udf(16, 3, 42)(F.col("text")).alias("mh"),
            ).collect()
        }

    old = D._MH_GRID_ELEMS
    try:
        big = run()
        D._MH_GRID_ELEMS = 64  # 16 perms -> 4-gram groups: forces many
        small = run()
    finally:
        D._MH_GRID_ELEMS = old
    assert big == small


def test_minhash_shingles_distinct_under_hash_collision(spark, monkeypatch):
    """Two grams whose 64-bit hashes collide leave ONE hash in the
    shingle arrays of both the MinHash tier and hashed_word_shingles:
    the verify Jaccard's |a|+|b|-|a∩b| union is exact only over distinct
    elements. The collision is forced through the token cache: with
    every token hashing alike, both 3-grams of the text combine to one
    value."""
    import pandas as pd

    import mare_spark.operators.dedup as D

    monkeypatch.setattr(
        D, "_TOKEN_HASH_CACHE",
        {w: 7 for w in ("alpha", "beta", "gamma", "delta")},
    )
    texts = pd.Series(["alpha beta gamma delta"])
    mh = D._minhash_base_udf(16, 3, 42).func(texts)

    bodies = []
    real_pandas_udf = D.F.pandas_udf

    def capture(f, *args, **kwargs):
        bodies.append(f)
        return real_pandas_udf(f, *args, **kwargs)

    monkeypatch.setattr(D.F, "pandas_udf", capture)
    D.hashed_word_shingles(F.col("text"), 3)
    (shingle_batch,) = bodies
    hw = shingle_batch(texts)

    assert len(mh["shingles"][0]) == 1
    assert list(hw[0]) == list(mh["shingles"][0])


def test_minhash_shingles_equal_hashed_word_shingles(docs):
    """MinHash's shingle column is exactly hashed_word_shingles for every
    fixture document: both take their gram sets from _doc_gram_hashes, so
    raw shingle ids are interchangeable across the hashed tiers."""
    import mare_spark.operators.dedup as D
    from mare_spark.cache import cache_scope

    with cache_scope():
        mh = {
            r.doc: list(r.shingles)
            for r in D._mh_base(docs, "text", "doc_id", 64, 3, 42).collect()
        }
    hw = {
        r.doc_id: list(r.sh)
        for r in docs.select(
            "doc_id", D.hashed_word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert len(hw) == docs.count()
    assert mh == hw


def test_verified_jaccard_matches_array_union_form(spark):
    """r10: the verify stages compute |a∪b| as |a|+|b|−|a∩b| instead of
    materializing array_union — exact for the DISTINCT-element shingle
    arrays every verify input carries (np.unique output). Pin value
    equality against the legacy array_union expression on adversarial
    set shapes: disjoint, identical, subset, partial overlap, one-sided
    empty. (Empty/empty — union 0 on both forms — raises the same ANSI
    DIVIDE_BY_ZERO either way, so behavior equality holds there too; it
    is excluded here because neither form can evaluate it, and no verify
    stage can produce it: empty shingle sets never enter the jaccard
    inverted index, and the pre-existing array_union form would have
    thrown on any such pair in ten rounds of green oracles.)"""
    from pyspark.sql import functions as F

    from mare_spark.operators.dedup import _verified_jaccard
    from mare_spark.numeric import fround

    rows = [
        ([1, 2, 3], [4, 5, 6]),          # disjoint
        ([1, 2, 3], [1, 2, 3]),          # identical
        ([1, 2], [1, 2, 3, 4]),          # subset
        ([1, 2, 3, 9], [2, 3, 7]),       # partial overlap
        ([], [1, 2]),                    # one-sided empty
        ([-(2**62), 2**62], [2**62]),    # extreme hash values
    ]
    df = spark.createDataFrame(rows, "sh_a: array<long>, sh_b: array<long>")
    legacy = fround(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    out = df.select(
        _verified_jaccard("sh_a", "sh_b").alias("new"),
        legacy.alias("old"),
    ).collect()
    assert [r["new"] for r in out] == [r["old"] for r in out]
